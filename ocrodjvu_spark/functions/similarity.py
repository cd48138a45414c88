"""Similarity search over embedding columns (array<float>): brute-force
(``cosine_topk``), IVF (``ivf_topk``, scored by ``ann_recall``) and
sign-LSH (``lsh_bucket``, ``lsh_topk``) cosine top-k; near-duplicate
pairs by banded sign-LSH (``neardup_pairs`` over ``banded_buckets`` and
``auto_banding``) and within k-means clusters (``semantic_dedup_pairs``);
the k-means quantizer (``kmeans_labels``, ``kmeans_centroids``,
``assign_to_centroids``, ``save_vector_index``, ``load_vector_index``);
and int8 ``quantize_embeddings``.

Every similarity is the one cosine expression ``_cosine``,
``round(dot(a, b) / (|a| * |b|), 6)`` over vectors cast to double; each
call site keeps the dot product measured faster there (``dot`` or
``dot_cols``). The 6-decimal rounding, with id tie-breaks in every
ranking, makes results engine-portable: the DuckDB oracles compute the
same fold.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_HYPERPLANES = 8


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast('double'))


#: the corpus embedding width; ``dot_cols`` takes a codegen fast path
#: for it
EMBED_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Float dot product (left-assoc zip_with fold). Safe for ANY
    column expression: the arguments are lambda-bound and evaluated
    once. ``dot_cols``' flat chain is faster at some call sites with
    plain column references and slower at others (COVERAGE.md, "Two
    dot products"), so each site keeps the one measured faster."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_cols(a: Column, b: Column) -> Column:
    """Float dot product for plain COLUMN REFERENCES, identical to
    ``dot`` (same left-associative addition order, so bit-identical
    floats — verified result-equal on the gates).

    For ``EMBED_DIM``-sized inputs the product-sum is a flat 64-term
    element_at chain that runs in whole-stage codegen instead of an
    interpreted per-element lambda (measured -17% on the brute-force
    cosine top-k); other lengths (or NULL) fall back to the fold.

    Both arguments must be bare column references (``F.col(name)``);
    anything else raises ``ValueError``: the chain references each
    argument ~65 times, and Catalyst would inline a non-trivial
    expression once per reference (the no-CSE-for-expressions trap —
    measured 2x SLOWER when ``_prep``'s cast transform leaked in here).
    Use ``dot`` for computed expressions.
    """
    for arg in (a, b):
        node = arg._jc.node().getClass().getSimpleName()
        if node != 'UnresolvedAttribute':
            raise ValueError(
                f'dot_cols takes bare column references, got {node}')
    flat = None
    for i in range(1, EMBED_DIM + 1):
        term = F.element_at(a, i) * F.element_at(b, i)
        flat = term if flat is None else flat + term
    return F.when(
        (F.size(a) == EMBED_DIM) & (F.size(b) == EMBED_DIM), flat
    ).otherwise(dot(a, b))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def hyperplane(j: int) -> Column:
    """Deterministic pseudo-random hyperplane: ((i*37 + j*101) % 19) - 9."""
    return F.array(*[
        F.lit(float((i * 37 + j * 101) % 19 - 9)) for i in range(EMBED_DIM)
    ])


def _sign_bit(vec: Column, plane: Column) -> Column:
    """'1' when ``vec`` is on the non-negative side of ``plane``, else '0'."""
    return F.when(dot(vec, plane) >= 0, F.lit('1')).otherwise(F.lit('0'))


def lsh_bucket(vec: Column) -> Column:
    """Sign-LSH bucket id as a bit string, e.g. '10011010'."""
    return F.concat(*[_sign_bit(vec, hyperplane(j))
                      for j in range(N_HYPERPLANES)])


def _prep(embeddings: DataFrame) -> DataFrame:
    v = as_double(F.col('embedding'))
    return embeddings.select(
        F.col('vec_id'), v.alias('vec'), norm(v).alias('nrm'))


def _cosine(dot_fn, a: str, na: str, b: str, nb: str) -> Column:
    """``round(dot_fn(a, b) / (na * nb), 6)`` over the named columns."""
    return F.round(dot_fn(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6)


def _query_side(corpus: DataFrame, n: int, *extra: Column) -> DataFrame:
    """The first ``n`` vectors as (query_id, qvec, qnrm, *extra)."""
    return corpus.where(F.col('vec_id') < n).select(
        F.col('vec_id').alias('query_id'),
        F.col('vec').alias('qvec'),
        F.col('nrm').alias('qnrm'),
        *extra,
    )


def _rank_neighbors(paired: DataFrame, dot_fn, k: int) -> DataFrame:
    """Top-k of an already-paired (vec_id, vec, nrm) x (query_id, qvec,
    qnrm) frame: (query_id, rank, neighbor_id, cos_sim), a query never
    ranking itself, rank 1..k by (cos_sim desc, neighbor_id)."""
    scored = paired.where(F.col('vec_id') != F.col('query_id')).select(
        'query_id', F.col('vec_id').alias('neighbor_id'),
        _cosine(dot_fn, 'vec', 'nrm', 'qvec', 'qnrm').alias('cos_sim'))
    w = Window.partitionBy('query_id').orderBy(
        F.col('cos_sim').desc(), F.col('neighbor_id'))
    return (
        scored.withColumn('rank', F.row_number().over(w))
        .where(F.col('rank') <= k)
        .select('query_id', 'rank', 'neighbor_id', 'cos_sim')
    )


def cosine_topk(embeddings: DataFrame, n_queries: int = 10,
                k: int = 5) -> DataFrame:
    """Brute-force cosine top-k of the first ``n_queries`` vectors.

    Output: (query_id, rank, neighbor_id, cos_sim) with rank 1..k by
    (cos_sim desc, neighbor_id) after rounding to 6 decimals.
    """
    corpus = _prep(embeddings)
    queries = _query_side(corpus, n_queries)
    return _rank_neighbors(
        corpus.crossJoin(F.broadcast(queries)), dot_cols, k)


def ann_recall(embeddings: DataFrame, nprobe: int = 1) -> DataFrame:
    """Recall@k of the IVF index against the exact brute-force answer —
    the evaluation loop every production ANN deployment runs before
    trusting an index (and after every re-train of the quantizer).

    Scale shape: the exact side is the documented small-Q baseline
    (query-side broadcast), the IVF side is the bucketed probe; the
    comparison itself is a left OUTER join on (query, neighbor) whose
    non-null match marker is counted, followed by a k-sized aggregate
    per query — negligible next to either input. The approx side is
    made distinct on (query, neighbor) so a duplicate index hit can
    never double-count ``n_hit`` past ``n_exact``.

    Output: (query_id, n_hit, n_exact, recall) with recall rounded to
    6 decimals.
    """
    exact = cosine_topk(embeddings) \
        .select('query_id', 'neighbor_id')
    approx = (ivf_topk(embeddings, nprobe=nprobe)
              .select('query_id', 'neighbor_id')
              .distinct()
              .withColumn('_hit', F.lit(1)))
    # single pass over the exact side: a left outer join marks matched
    # neighbors, one groupBy yields both counts (a separate base/hits
    # pair would recompute the brute-force scoring twice per action)
    return (exact.join(approx, ['query_id', 'neighbor_id'], 'left')
            .groupBy('query_id')
            .agg(F.count('_hit').cast('int').alias('n_hit'),
                 F.count('*').cast('int').alias('n_exact'))
            .select(
                'query_id', 'n_hit', 'n_exact',
                F.round(F.col('n_hit') / F.col('n_exact'), 6)
                 .alias('recall')))


def ivf_topk(embeddings: DataFrame, nprobe: int = 1) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label mean centroids.

    Each of the first 10 vectors (``vec_id`` < 10) queries: it probes
    its ``nprobe`` nearest centroids (by cosine) and runs exact top-5
    only inside those inverted lists — the standard
    IVF recall/cost knob (probing more lists recovers neighbors that
    fell just across a Voronoi boundary at nprobe x the scan cost). At
    10^12 scale the centroid table stays broadcast-small while the
    candidate scan touches ~nprobe/n_lists of the corpus; lists are
    the natural partition key for the stored table. Lists are disjoint,
    so no dedup is needed after the probe join.
    """
    if nprobe < 1:
        raise ValueError(f'nprobe must be >= 1 (got {nprobe})')
    corpus = embeddings.select(
        F.col('vec_id'), F.col('label').alias('list_id'),
        as_double(F.col('embedding')).alias('vec'))
    corpus = corpus.select(
        'vec_id', 'list_id', 'vec', norm(F.col('vec')).alias('nrm'))
    centroids = corpus.groupBy('list_id').agg(
        F.array(*[
            F.avg(F.element_at('vec', i + 1)) for i in range(EMBED_DIM)
        ]).alias('cvec'))
    centroids = centroids.select(
        F.col('list_id').alias('c_list'), 'cvec',
        norm(F.col('cvec')).alias('cnrm'))
    queries = _query_side(corpus, 10)
    probe_w = Window.partitionBy('query_id').orderBy(
        F.col('c_sim').desc(), F.col('c_list'))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn('c_sim', _cosine(dot, 'qvec', 'qnrm', 'cvec', 'cnrm'))
        .withColumn('c_rank', F.row_number().over(probe_w))
        .where(F.col('c_rank') <= nprobe)
        .select('query_id', 'qvec', 'qnrm',
                F.col('c_list').alias('probe_list'))
    )
    return _rank_neighbors(
        corpus.join(F.broadcast(probes),
                    F.col('list_id') == F.col('probe_list')), dot, 5)


def _lcg_plane_values(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via an LCG stream.

    The ``hyperplane`` family above is a shifted sawtooth with only 19
    distinct planes (period of ``% 19``), which is fine for 8 planes but
    degenerate for the 32 the banded near-dup join needs. The LCG stream
    gives uncorrelated planes and is trivially reproducible in SQL by
    inlining the literal values (both sides call this same function).
    """
    x = 123456789
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (x * 1103515245 + 12345) % (1 << 31)
            row.append(float(x % 19 - 9))
        planes.append(row)
    return planes


def banded_buckets(vec: Column, n_bands: int, band_size: int) -> Column:
    """Array of per-band sign-LSH bucket keys ('<band>:<bits>')."""
    planes = _lcg_plane_values(n_bands * band_size, EMBED_DIM)
    keys = []
    for b in range(n_bands):
        bits = [
            _sign_bit(vec, F.array(*[F.lit(x)
                                     for x in planes[b * band_size + j]]))
            for j in range(band_size)
        ]
        keys.append(F.concat(F.lit(f'{b}:'), *bits))
    return F.array(*keys)


def auto_banding(threshold: float,
                 target_miss: float = 1e-4) -> tuple[int, int]:
    """(n_bands, band_size) meeting a per-pair miss-probability target.

    Sign-LSH OR-amplification: a pair at cosine s agrees with one plane
    with p1 = 1 - arccos(s)/pi, collides per band with p1^band_size, and
    is missed entirely with (1 - p1^band_size)^n_bands — so
    n_bands = ceil(ln(target_miss) / ln(1 - p1^band_size)).

    band_size is the precision knob (false-candidate rate per band is
    ~2^-band_size for unrelated pairs): the largest value in
    1..8 whose required n_bands stays within 64
    is chosen, so higher thresholds automatically get more selective
    bands (0.9/1e-5 -> 34 bands of 8) while low thresholds fall back to
    shallow bands (0.4/1e-4 -> 54 bands of 4) where sign-LSH has little
    gap to work with.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f'threshold must be in (0, 1), got {threshold}')
    if not 0.0 < target_miss < 1.0:
        raise ValueError(
            f'target_miss must be in (0, 1), got {target_miss}')
    p1 = 1.0 - math.acos(threshold) / math.pi
    for band_size in range(8, 0, -1):
        p_band = p1 ** band_size
        if p_band >= 1.0:
            return 1, band_size
        n_bands = math.ceil(math.log(target_miss) / math.log(1.0 - p_band))
        if n_bands <= 64:
            return n_bands, band_size
    # even single-plane bands need more than 64: recall target is
    # unreachable under the cap — surface that instead of silently
    # degrading
    raise ValueError(
        f'no banding within 64 bands reaches miss<={target_miss} at '
        f'threshold={threshold}')


def neardup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                  n_bands=16,
                  target_miss: float = 1e-4) -> DataFrame:
    """Embedding near-duplicate pairs: banded sign-LSH + exact verify.

    Scale shape: candidates come from a bucket *equi-join* on (band,
    bucket-bits) — never a cross join, never a full-corpus broadcast —
    then the exact cosine runs only on the candidate pairs.
    OR-amplification over ``n_bands`` bands of ``band_size`` planes sets
    recall: a pair at cosine s collides per
    band with p = (1 - arccos(s)/pi)^band_size and is a candidate with
    1-(1-p)^n_bands. At the gate threshold 0.4 the 16x2 defaults give
    per-pair miss-prob ~3.0e-4 by that formula (p_band = 0.398); the
    sf0.01 gate corpus was additionally checked exhaustively — zero of
    its 59 qualifying pairs are missed, and the planes are
    deterministic, so the gate result is stable. Size bands from the
    formula when re-tuning for another corpus or threshold, not from
    the gate outcome (0.4 with miss < 1e-5 needs ~23 bands of 2). At
    real near-dup thresholds (>= 0.9) the same banding prunes
    ~2^band_size per band. Output matches the brute-force all-pairs semantics:
    (vec_a, vec_b, cos_sim) with vec_a < vec_b and cos_sim >= threshold.

    ``n_bands='auto'`` sizes the banding from (threshold, target_miss)
    via ``auto_banding`` instead of the explicit 16x2 default.
    """
    band_size = 2
    if n_bands == 'auto':
        n_bands, band_size = auto_banding(threshold, target_miss)
    corpus = _prep(embeddings)
    bands = corpus.select(
        F.col('vec_id'),
        F.explode(banded_buckets(F.col('vec'), n_bands, band_size))
         .alias('band'))
    a = bands.alias('a')
    b = bands.alias('b')
    candidates = (
        a.join(b, (F.col('a.band') == F.col('b.band'))
               & (F.col('a.vec_id') < F.col('b.vec_id')))
        .select(F.col('a.vec_id').alias('vec_a'),
                F.col('b.vec_id').alias('vec_b'))
        .distinct()
    )
    ca = corpus.select(F.col('vec_id').alias('vec_a'),
                       F.col('vec').alias('va'), F.col('nrm').alias('na'))
    cb = corpus.select(F.col('vec_id').alias('vec_b'),
                       F.col('vec').alias('vb'), F.col('nrm').alias('nb'))
    return (
        candidates.join(ca, 'vec_a').join(cb, 'vec_b')
        .select(
            'vec_a', 'vec_b',
            _cosine(dot_cols, 'va', 'na', 'vb', 'nb').alias('cos_sim'))
        .where(F.col('cos_sim') >= threshold)
    )


KMEANS_QUANT = 1000  # k-means integer grid: round(x * KMEANS_QUANT)


def kmeans_labels(embeddings: DataFrame, k: int = 8,
                  iterations: int = 3) -> DataFrame:
    """Lloyd's k-means over an embedding column, deterministic + portable.

    Scale shape: the classic broadcast-centroids loop — per iteration
    one JVM-side assignment pass (centroids inlined as literals; the
    argmin is an ``array_min`` over (distance, cid) structs, so each
    distance fold is evaluated exactly once — no lambda CSE in
    Catalyst) and one groupBy computing per-dimension means. Only the
    k x dim centroid table ever reaches the driver (bounded by k, not
    by data — the same shape MLlib uses), so the loop is
    executor-scalable at any corpus size.

    Engine portability: vectors are quantized to an integer grid
    (``round(x * KMEANS_QUANT)``), so squared distances are EXACT integer
    sums — no float summation-order hazards against the SQL oracle.
    The only float op per iteration is the centroid mean: an exact
    integer sum divided by a count, identical as a double in any
    engine, then half-up rounded back to the grid. Seeds are the first
    ``k`` vectors in id order (cluster ids 0..k-1 by that order, so a
    sparse or offset id space still yields k clusters); dimensionality
    is inferred from the seeds; empty clusters keep their previous
    centroid; ``iterations`` is fixed (no convergence check) so the
    oracle can unroll the same number of rounds.

    The quantized points are persisted for the loop's repeated passes
    and unpersisted before returning the (lazy) final assignment — the
    caller's evaluation rescans the source once.

    Output: (vec_id, cluster) after the final assignment.
    """
    centroids, _dim, assign, pts = _kmeans_loop(
        embeddings, k, iterations)
    result = assign(centroids).select('vec_id', 'cluster')
    pts.unpersist(False)
    return result


def _nearest_centroid_scores(centroids) -> Column:
    """The (exact-integer distance, cid) struct array over a ``qv``
    column — the ONE scoring expression shared by the training loop
    and the serving-time ``assign_to_centroids`` (the tie-break
    contract must be identical by construction)."""
    return F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col('qv'),
                    F.array(*[F.lit(int(c)).cast('long') for c in vec]),
                    lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast('long'),
                lambda acc, d: acc + d,
            ).alias('d'),
            F.lit(cid).cast('int').alias('cid'),
        )
        for cid, vec in sorted(centroids.items())
    ])


def _quantized_points(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        F.col('vec_id'),
        F.transform(as_double(F.col('embedding')),
                    lambda x: F.round(x * KMEANS_QUANT).cast('long'))
         .alias('qv'))


def _kmeans_loop(embeddings, k, iterations):
    """Run the Lloyd loop; returns (centroids, dim, assign, pts) with
    ``pts`` still persisted — the caller must unpersist after its last
    ``assign``. Factored out so training (``kmeans_centroids``) and
    assignment-only consumers share one implementation."""
    pts = _quantized_points(embeddings)
    pts = pts.persist()
    seed_rows = pts.orderBy('vec_id').limit(k).collect()
    if len(seed_rows) < k:
        pts.unpersist(False)
        raise ValueError(
            f'k={k} clusters need at least k vectors '
            f'(got {len(seed_rows)})')
    centroids = {cid: list(r['qv']) for cid, r in enumerate(seed_rows)}
    dim = len(seed_rows[0]['qv'])

    def assign(cents) -> DataFrame:
        # struct ordering is lexicographic: min distance, ties by cid
        return pts.select(
            'vec_id', 'qv',
            F.array_min(_nearest_centroid_scores(cents))
             .getField('cid').alias('cluster'))

    for _ in range(iterations):
        means = assign(centroids).groupBy('cluster').agg(*[
            F.round(F.avg(F.element_at('qv', i + 1))).cast('long')
             .alias(f'c{i}')
            for i in range(dim)
        ]).collect()
        for r in means:  # empty clusters keep their previous centroid
            centroids[int(r['cluster'])] = [r[f'c{i}'] for i in range(dim)]
    return centroids, dim, assign, pts


def kmeans_centroids(embeddings: DataFrame):
    """Train-only face of ``kmeans_labels`` (k=8, 3 iterations): the
    final quantized centroid table as ``{cluster_id: [long, ...]}`` —
    k x dim values, the deployable coarse-quantizer artifact (see
    ``save_vector_index``)."""
    centroids, _dim, _assign, pts = _kmeans_loop(embeddings, 8, 3)
    pts.unpersist(False)
    return centroids


def assign_to_centroids(embeddings: DataFrame, centroids) -> DataFrame:
    """Map-only nearest-centroid assignment under a TRAINED quantizer
    (centroids inlined as JVM literals, exact integer distances —
    identical tie-break to ``kmeans_labels``): the serving-time path
    of a persisted IVF index. Output: (id, cluster)."""
    pts = _quantized_points(embeddings)
    return pts.select(
        'vec_id',
        F.array_min(_nearest_centroid_scores(centroids))
         .getField('cid').alias('cluster'))


def save_vector_index(spark, table_root: str, centroids) -> int:
    """Persist a trained coarse quantizer as a versioned
    snapshot-table artifact (k rows: cluster, qv, quant). Training
    jobs publish a new VERSION atomically, serving jobs pin one, and a
    corpus snapshot stays reproducible by time-traveling to the index version
    that assigned it. Returns the committed version."""
    from ..plans.snapstore import SnapshotTable
    df = spark.createDataFrame(
        [(int(cid), [int(x) for x in vec], KMEANS_QUANT)
         for cid, vec in sorted(centroids.items())],
        'cluster int, qv array<bigint>, quant int')
    return SnapshotTable(table_root).overwrite(df)


def load_vector_index(spark, table_root: str, version=None):
    """Load a persisted quantizer (default HEAD; pass ``version`` to
    pin). Returns ``(centroids_dict, quant)``."""
    from ..plans.snapstore import SnapshotTable
    df = SnapshotTable(table_root).read(spark, version)
    if df is None:
        raise ValueError(f'no vector index at {table_root!r}')
    rows = df.collect()
    return ({int(r['cluster']): list(r['qv']) for r in rows},
            int(rows[0]['quant']))


def semantic_dedup_pairs(embeddings: DataFrame, k: int = 8,
                         iterations: int = 3,
                         max_cluster_size: Optional[int] = None
                         ) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means partition the embedding space, then exact
    cosine only *within* each cluster.

    Scale shape: this is the standard fix for embedding dedup when even
    LSH banding recalls too many candidates — the pairwise stage is an
    equi-join on the cluster id, so candidate count drops from O(n^2)
    to sum_c n_c^2 and the join parallelizes across clusters. At 100 TB
    you scale ``k`` with the corpus (SemDeDup uses k ~ n/5000) so
    per-cluster sizes stay bounded; ``max_cluster_size`` is the same
    cap convention the MinHash/SimHash paths have — clusters above the
    cap are excluded from pairing rather than going quadratic.

    Semantics vs ``neardup_pairs``: deliberately *approximate* — a pair
    above threshold whose members land in different clusters is missed
    (the paper's trade: within-cluster dups dominate). The gate oracle
    unrolls the same deterministic k-means, so the approximation itself
    is pinned exactly.

    Output: (cluster, vec_a, vec_b, cos_sim) with vec_a < vec_b and
    cos_sim >= 0.4.
    """
    labels = kmeans_labels(embeddings, k=k, iterations=iterations)
    corpus = _prep(embeddings).join(labels, 'vec_id')
    if max_cluster_size is not None:
        csize = (labels.groupBy('cluster')
                 .agg(F.count('*').alias('n_members')))
        corpus = (corpus
                  .join(F.broadcast(csize), 'cluster')
                  .where(F.col('n_members') <= max_cluster_size)
                  .drop('n_members'))
    a = corpus.select('cluster', F.col('vec_id').alias('vec_a'),
                      F.col('vec').alias('va'), F.col('nrm').alias('na'))
    b = corpus.select('cluster', F.col('vec_id').alias('vec_b'),
                      F.col('vec').alias('vb'), F.col('nrm').alias('nb'))
    pairs = (
        a.join(b, ['cluster'])
        .where(F.col('vec_a') < F.col('vec_b'))
        .select('cluster', 'vec_a', 'vec_b',
                _cosine(dot_cols, 'va', 'na', 'vb', 'nb').alias('cos_sim'))
        .where(F.col('cos_sim') >= 0.4)
    )
    return pairs


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector integer quantization (the embedding
    storage/IO compressor: float32 -> int8 is a 4x scan-volume cut at
    100 TB, the standard trade for ANN candidate generation with
    full-precision re-ranking).

    Per vector (8-bit codes): ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)``. Map-only projection, no shuffle. The
    three derived quantities (max-abs, quantized codes, reconstruction
    error) are computed under nested bound lambda variables so each is
    evaluated exactly once per row — Catalyst has no CSE for lambda
    expressions, and the naive formulation recomputes the array max
    per element. A zero vector has no meaningful quantization and
    yields a null (scale, q_hash, max_abs_err) row — guarded
    explicitly, since ANSI mode would otherwise raise DIVIDE_BY_ZERO.

    Output: (vec_id, scale, q_hash, max_abs_err) — ``q_hash`` is
    md5 over the comma-joined codes (engine-portable fingerprint of
    the exact quantized vector; emitting the raw code array would
    compare numpy-vs-list reprs in the gate), ``max_abs_err`` the
    worst per-dimension reconstruction error.
    """
    from .textops import bind_once
    levels = 127  # int8 codes: 2^(8-1) - 1
    null_row = F.struct(
        F.lit(None).cast('double').alias('scale'),
        F.lit(None).cast('string').alias('q_hash'),
        F.lit(None).cast('double').alias('max_abs_err'))
    out = bind_once(as_double(F.col('embedding')), lambda vec: bind_once(
        F.array_max(F.transform(vec, F.abs)), lambda m: F.when(
            m == 0, null_row
        ).otherwise(bind_once(
            F.transform(vec,
                        lambda x: F.round(x * levels / m).cast('int')),
            lambda q: F.struct(
                F.round(m / levels, 6).alias('scale'),
                F.md5(F.array_join(
                    F.transform(q, lambda i: i.cast('string')), ','))
                 .alias('q_hash'),
                F.round(F.array_max(F.zip_with(
                    vec, q, lambda x, i: F.abs(x - i * m / levels))), 6)
                 .alias('max_abs_err'))))))
    return embeddings.select(F.col('vec_id'), F.inline(F.array(out)))


def lsh_topk(embeddings: DataFrame) -> DataFrame:
    """Approximate cosine top-5 of the first 10 vectors, restricted to
    same-LSH-bucket candidates."""
    corpus = _prep(embeddings).withColumn(
        'bucket', lsh_bucket(F.col('vec')))
    queries = _query_side(corpus, 10, F.col('bucket').alias('qbucket'))
    return _rank_neighbors(
        corpus.join(F.broadcast(queries),
                    F.col('bucket') == F.col('qbucket')), dot, 5)
