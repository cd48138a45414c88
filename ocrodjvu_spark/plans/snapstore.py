"""Snapshot-manifest table format: Iceberg-style commits over parquet.

The checkpoint layer's parquet stand-in (``checkpoint.py``) documents one
limitation vs a real table format: a reader whose file listing spans a
dynamic-partition overwrite fails with FileNotFoundException once the old
files are swapped out. This module closes that gap from scratch — no
external table-format library — with the same core protocol Iceberg uses
(spec: https://iceberg.apache.org/spec/ — metadata tree + atomic swap;
re-implemented here, not copied):

* **Immutable data files.** Writers stage parquet files and *add* them to
  the table; no commit ever mutates or deletes a data file. Old snapshots
  stay readable until ``expire_snapshots`` garbage-collects them.
* **Manifest list per version.** ``manifests/v<N>.json`` holds a
  MANIFEST LIST (Iceberg spec, "Manifest lists"): references to
  immutable per-partition manifest files (``manifests/m-<uuid>.json``,
  each listing data files with partition value, row count, stats),
  plus per-manifest aggregates (n_files, row sum, uniform partition
  value). Readers resolve HEAD once, then read a pinned, explicit file
  list — a concurrent commit cannot change or break an in-flight read
  (snapshot isolation).
* **Atomic commit by rename.** A writer stages the manifest to a temp
  name and ``os.rename``\\ s it to ``v<N+1>.json``. POSIX rename is atomic
  on one filesystem; on an object store the same slot would be claimed
  with a conditional put / metastore CAS (documented seam,
  ``_claim_version``).
* **Optimistic concurrency.** If ``v<N+1>`` already exists the writer
  re-reads HEAD and *rebases*: ``append`` re-applies its file additions,
  ``replace_partitions`` re-applies its partition swap, on the new base.
  Conflicting partition swaps (both writers replacing the same partition)
  resolve last-writer-wins, matching the checkpoint contract.
* **Manifest-level partition pruning.** ``read(partition_values=...)``
  prunes the file list driver-side before Spark opens a single footer —
  the same job Iceberg's manifest tree does.
* **File-level column stats + data skipping.** Every staged file's
  manifest entry carries per-column min/max harvested from the parquet
  footer at stage time (one footer read of a file this writer just
  wrote — no extra scan). ``read(stats_filters=...)`` skips files whose
  stats disprove a conjunction of simple predicates, exactly Iceberg's
  lower_bounds/upper_bounds skipping; files lacking stats for a column
  are conservatively kept. ``merge_into`` uses the same stats to
  rewrite ONLY the target files whose key range intersects the source's
  (untouched files are carried forward by reference), and
  ``delete_where`` accepts a caller-supplied ``prune_filters`` hint
  with the same contract.

* **Merge-on-read equality AND position deletes.** ``delete_keys``
  commits a small parquet of key tuples, ``delete_positions`` a small
  parquet of (file, row-position) pairs for a predicate's matches
  (Iceberg v2 equality / position delete files): readers anti-join
  each data file against the delete files sequenced after it
  (data-sequence numbers, so rows appended after a delete survive it),
  and ``compact`` materializes pending deletes away. A 1-row takedown
  costs one tiny write, not a whole-file rewrite; ``delete_where``
  stays the read-optimized copy-on-write path for broad predicates.
* **One change feed.** ``read_changelog`` walks the parent chain and
  emits every row change of an append / merge-on-read-delete history
  as 'insert' / 'delete' events; ``refresh_incremental`` consumes it
  to maintain a keyed view. A rewrite commit in the window raises.

Scale notes (100 TB): commits are O(entries they touch), not O(table
files). A commit carries every unchanged manifest forward BY REFERENCE
(zero I/O — ``_pack_manifests`` proves set-equality from the base
list's recorded n_files) and rewrites only partially-retained
manifests plus its fresh stagings, grouped by partition; append and
delete-keys commits skip base materialization entirely
(``_commit(list_op=...)``); only rewrite ops (compact, merge,
delete_where) materialize the full list. BENCH/BASELINE.md keeps the
historical metadata-plane timings (a +10-file append at 1 M files /
256 partitions committed in ~7 ms).
Partition-filtered reads skip whole manifests from the list's uniform
partition values before loading them. Partition values are kept *in*
the data files (the staged ``partitionBy`` column is a duplicate), so
reads are plain ``spark.read.parquet(*files)`` with no basePath
reconstruction.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable, Dict, List, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CommitConflict(RuntimeError):
    """Raised when optimistic commit retries are exhausted."""


class _CompactConflict(Exception):
    """Internal: the snapshot changed under an in-flight compact."""


_PART_DIR = '__pv='  # staged partition directory prefix
# attempts of a rewrite or refresh (``_retry``) whose base keeps
# changing under it before it raises
_REWRITE_RETRIES = 5
# version claims a commit may lose to concurrent writers before it raises
_COMMIT_RETRIES = 20

# stats are recorded only for values that serialize losslessly to JSON
# and compare with Python operators; temporal values are normalized to
# ONE axis — epoch micros for both timestamps and dates (a date is its
# midnight-UTC instant, matching Spark's date->timestamp cast under the
# pinned UTC session TZ) — so time-range scans, THE hot path on an
# event table, can skip files and date probes on timestamp columns
# (or vice versa) stay sound; anything else (bytes, nested types) is
# left un-stated and never skipped
_STATS_TYPES = (bool, int, float, str)


def _normalize_stat(v):
    """A parquet stats value as a JSON-portable comparable, or None if
    the type has no sound ordering encoding."""
    import datetime
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:  # session TZ is pinned UTC (bench config)
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        # midnight-UTC epoch MICROS, the same scale as timestamps —
        # Spark compares date-vs-timestamp by casting the date to a
        # timestamp under the (pinned-UTC) session TZ, so a date probe
        # against a timestamp column's stats (and vice versa) must land
        # on one axis; day ordinals would silently cross-compare days
        # against micros and unsoundly prune matching files
        epoch = datetime.date(1970, 1, 1).toordinal()
        return (v.toordinal() - epoch) * 86_400_000_000
    if isinstance(v, float) and v != v:
        # NaN poisons every comparison (all False), which would prune
        # files that DO contain matching rows — parquet writers' NaN
        # handling is historically inconsistent, so drop outright
        return None
    if isinstance(v, _STATS_TYPES):
        return v
    return None


def _column_stats(meta):
    """Per-column (min, max) across a parquet file's row groups, from
    footer metadata only. Columns with any row group lacking exact
    min/max stats — or with non-JSON-portable values — are omitted
    (absent stats == never skip, the conservative default)."""
    stats: Dict[str, List] = {}
    dropped = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if '.' in name or name in dropped:
                continue  # nested leaf — no simple predicate maps to it
            st = col.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                lo, hi = _normalize_stat(st.min), _normalize_stat(st.max)
            if (lo is None or hi is None
                    or isinstance(lo, bool) != isinstance(hi, bool)):
                dropped.add(name)
                stats.pop(name, None)
                continue
            if name in stats:
                plo, phi = stats[name]
                stats[name] = [min(plo, lo), max(phi, hi)]
            else:
                stats[name] = [lo, hi]
    return stats


_BLOOM_K = 4  # probe positions per key (double hashing)


def _bloom_key(v) -> Optional[str]:
    """The canonical string a value hashes as in a per-file bloom —
    str and int columns only (floats/temporals have no stable text
    form worth the bits; equality probes on them use min/max stats)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return str(v)
    return None


def _bloom_probe_key(spec: dict, v) -> Optional[str]:
    """The key a probe value hashes as against this file's bloom, or
    None when the probe cannot soundly prune (keep the file). The
    sketch records the COLUMN's type kind (``spec['type']``), and the
    stored keys are the column's ``cast('string')`` form — a probe may
    only consult the bloom when its canonical key provably equals that
    form under Spark's cast-equality:

    * int column: an int probe hashes as ``str(v)``; a string probe
      only when it is already canonical (``str(int(v)) == v`` — a
      non-canonical '05' cast-matches rows storing 5, whose key is
      '5', so pruning on '05' would be unsound).
    * str column: only a str probe — Spark compares ``str_col = 5`` by
      casting the column, so a row storing '05' matches and its key
      ('05') differs from ``str(5)``.

    Legacy specs without a recorded type fall back to `_bloom_key`."""
    if isinstance(v, bool):
        return None
    kind = spec.get('type')
    if kind is None:
        return _bloom_key(v)
    if kind == 'str':
        return v if isinstance(v, str) else None
    if kind == 'int':
        if isinstance(v, int):
            return str(v)
        if isinstance(v, str):
            try:
                return v if str(int(v)) == v else None
            except ValueError:
                return None
        return None
    return None


def _bloom_positions(key: str, k: int, m_bits: int) -> List[int]:
    """Python twin of ``functions.bloom.positions_col`` — SAME hash
    family (portable fold hash + derived second hash, double hashing),
    so the manifest blooms stay oracle-checkable and engine-portable."""
    from ..functions.bloom import H2_ADD, H2_MUL
    from ..functions.textops import HASH_MOD
    h1 = 0
    for ch in key:
        h1 = (h1 * 31 + ord(ch)) % HASH_MOD
    h2 = (h1 * H2_MUL + H2_ADD) % HASH_MOD
    return [(h1 + i * h2 + i * i) % m_bits for i in range(k)]


def _bloom_maybe(spec: dict, key: str) -> bool:
    """False only when the filter PROVES the key absent from the file.
    ``spec['words']`` is the sparse (word_idx, bits) int64 layout of
    ``functions.bloom.bloom_build`` (63 bits/word, sign bit clear)."""
    lookup = dict(spec['words'])
    for pos in _bloom_positions(key, spec['k'], spec['m']):
        if not (lookup.get(pos // 63, 0) >> (pos % 63)) & 1:
            return False
    return True


def _probe_value(v):
    """A filter probe value in the stats encoding (temporal -> epoch
    ints, matching ``_normalize_stat``); None if un-encodable."""
    return _normalize_stat(v)


def _comparable(value, lo, hi):
    """True when ``value`` can be ordered against the recorded bounds
    (same kind: both numeric-non-bool or both str)."""
    def kind(v):
        if isinstance(v, bool):
            return 'bool'
        if isinstance(v, float) and v != v:
            # a NaN probe must never prune: Spark orders NaN greatest
            # and NaN=NaN is true, but parquet stats may silently omit
            # NaN rows — no bound can disprove a NaN match
            return None
        if isinstance(v, (int, float)):
            return 'num'
        if isinstance(v, str):
            return 'str'
        return None
    return kind(value) is not None and kind(value) == kind(lo) == kind(hi)


def zorder_expr(df: DataFrame, cols: Sequence[str]):
    """A JVM-computed Morton (z-order) value over ``cols``.

    Each column is rank-bucketed into 16 quantile buckets
    (cut points from one driver-side ``percentile_approx`` collect —
    metadata-scale, like k-means seeds; rank buckets, unlike
    equal-width, stay balanced under skew), then the bucket bits are
    interleaved so files clustered on the z-value cover tight ranges
    in EVERY dimension at once — Delta's ``OPTIMIZE ZORDER BY``. The
    bucketing is a plain CASE-WHEN chain per column (no higher-order
    array lambda — Catalyst inlines those without CSE), evaluated
    EXACTLY ONCE per column: the bit spreading goes through a 16-entry
    Morton lookup-table literal (``element_at``) instead of per-bit
    shift/mask arithmetic, which would inline the whole bucket chain
    once per bit (Catalyst does not CSE across a projection either).
    All whole-stage codegen. NULLs bucket to 0 (sort first, prune like
    any other value).
    """
    for c in cols:
        kind = df.schema[c].dataType
        if not isinstance(kind, (T.NumericType, T.DateType,
                                 T.TimestampType, T.TimestampNTZType)):
            raise ValueError(
                f'zorder_by: column {c!r} is {kind.simpleString()}; '
                'z-order needs numeric, date or timestamp columns')
    n_buckets = 16
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = df.select(*[
        F.percentile_approx(c, probs, 10000).alias(c) for c in cols
    ]).collect()[0]
    z = F.lit(0)
    for ci, c in enumerate(cols):
        bucket = F.lit(0)
        # an all-NULL column (e.g. a fresh schema-evolution column)
        # yields NULL cut points — constant bucket 0, no contribution
        for cut in (cuts_row[c] or []):
            bucket = bucket + F.when(F.col(c) >= F.lit(cut), 1) \
                               .otherwise(0)
        # bucket bit b lands at interleaved position b*len(cols)+ci;
        # precomputed per bucket value, so `bucket` appears once
        spread = [
            sum(((v >> b) & 1) << (b * len(cols) + ci)
                for b in range(4))
            for v in range(n_buckets)
        ]
        z = z + F.element_at(
            F.array(*[F.lit(s) for s in spread]), bucket + 1)
    return z


def _transform_expr(df: DataFrame, spec: Optional[str], col: str):
    """The staging expression for a partition transform — Iceberg's
    HIDDEN PARTITIONING: the table partitions on a value DERIVED from
    a data column (``day(ts)``, ``bucket(n, id)``), so writers never
    materialize a partition column and queries on the source column
    still prune. Supported specs: ``None``/'identity', 'day', 'month',
    'bucket[N]' (portable rolling hash mod N — same hash family as the
    sketch oracles), 'truncate[N]' (string prefix / integer floor,
    picked by column type)."""
    if spec in (None, 'identity'):
        return F.col(col)
    if spec == 'day':
        return F.date_format(col, 'yyyy-MM-dd')
    if spec == 'month':
        return F.date_format(col, 'yyyy-MM')
    if spec.startswith('bucket[') and spec.endswith(']'):
        n = int(spec[len('bucket['):-1])
        from ..functions.textops import rolling_hash
        return F.pmod(rolling_hash(F.col(col).cast('string')),
                      F.lit(n))
    if spec.startswith('truncate[') and spec.endswith(']'):
        n = int(spec[len('truncate['):-1])
        from pyspark.sql.types import StringType
        if isinstance(df.schema[col].dataType, StringType):
            return F.substring(F.col(col), 1, n)
        return (F.floor(F.col(col) / n) * n).cast('long')
    raise ValueError(f'unknown partition transform: {spec!r}')


def _merge_schema(base_json: Optional[str], new_json: str) -> str:
    """Additive schema evolution: the union of the table's schema and an
    appended batch's schema.

    Every existing column must appear in the new batch with the same
    type (an append may not silently DROP or RETYPE a column — reading
    the table with a narrower schema would lose old data); brand-new
    columns are allowed and become nullable, so files written before
    the column existed read as NULL (Spark's name-based parquet
    resolution fills absent columns for nullable fields). Renames and
    type widening are out of scope — they need Iceberg's field IDs,
    which name-based parquet mapping cannot express; this is the safe
    additive core.
    """
    if not base_json:
        return new_json
    base = json.loads(base_json)
    new = json.loads(new_json)
    new_by_name = {f['name']: f for f in new['fields']}
    merged = []
    for bf in base['fields']:
        nf = new_by_name.get(bf['name'])
        if nf is None:
            raise ValueError(
                f"schema evolution: append drops column "
                f"'{bf['name']}' — additive changes only")
        if nf['type'] != bf['type']:
            raise ValueError(
                f"schema evolution: column '{bf['name']}' changes "
                f"type {bf['type']!r} -> {nf['type']!r} — renames/"
                'retypes need field IDs and are out of scope')
        bf = dict(bf)
        bf['nullable'] = bool(bf.get('nullable')) or \
            bool(nf.get('nullable'))
        merged.append(bf)
    known = {f['name'] for f in base['fields']}
    for nf in new['fields']:
        if nf['name'] not in known:
            nf = dict(nf)
            nf['nullable'] = True  # absent in old files -> NULL
            merged.append(nf)
    out = dict(base)
    out['fields'] = merged
    # serialized as pyspark's ``DataType.json`` does, so an unchanged
    # schema is recorded as the same string whichever commit wrote it
    return json.dumps(out, separators=(',', ':'), sort_keys=True)


def _materialize_filters(filters):
    """Copy (col, op, value) filters with any 'in' probe value
    materialized to a list ONCE — a one-shot iterable probe would be
    drained by the first ``file_may_match`` call and silently read as
    empty (pruning everything) for every later file or manifest."""
    if filters is None:
        return None
    return [(c, op, list(v) if op == 'in' else v)
            for c, op, v in filters]


def file_may_match(entry: dict, filters) -> bool:
    """Conservative file-level evaluation of a conjunction of simple
    predicates against a manifest entry's column stats.

    ``filters`` is a sequence of ``(column, op, value)`` with op in
    ``= < <= > >= in``. Returns False only when the stats PROVE no row
    in the file can satisfy every predicate (null rows never satisfy
    these null-rejecting ops, so null counts are irrelevant). Missing
    stats for a column, or a value that cannot be ordered against the
    recorded bounds, keep the file.
    """
    import datetime as _dt
    stats = entry.get('stats') or {}
    blooms = entry.get('bloom') or {}
    sv = entry.get('sv', 1)
    for col, op, value in filters:
        if op == 'in':
            # materialize ONCE: a one-shot iterable drained by the
            # bloom branch would read as empty in the stats branch
            # (any([]) is False) and unsoundly prune every file
            value = list(value)
        if op in ('=', 'in') and col in blooms:
            probes = value if op == 'in' else [value]
            keys = [_bloom_probe_key(blooms[col], v) for v in probes]
            if keys and all(k is not None for k in keys) \
                    and not any(_bloom_maybe(blooms[col], k)
                                for k in keys):
                return False  # definitely absent from this file
        if col not in stats:
            continue
        # temporal probes against pre-v2 stats are UNDECIDABLE: the
        # previous encoding stored dates as day ordinals (micros now),
        # so comparing a micros-normalized probe against versionless
        # bounds would unsoundly prune — keep the file (the bloom
        # probe above is scale-free and still ran)
        if sv < 2 and any(
                isinstance(v, (_dt.date, _dt.datetime))
                for v in (value if op == 'in' else [value])):
            continue
        lo, hi = stats[col]
        if op == 'in':
            vals = [pv for pv in map(_probe_value, value)
                    if pv is not None and _comparable(pv, lo, hi)]
            if len(vals) != len(value):
                continue  # an un-orderable member might match
            if not any(lo <= v <= hi for v in vals):
                return False
            continue
        value = _probe_value(value)
        if value is None or not _comparable(value, lo, hi):
            continue
        if op == '=':
            if not (lo <= value <= hi):
                return False
        elif op == '<':
            if not (lo < value):
                return False
        elif op == '<=':
            if not (lo <= value):
                return False
        elif op in ('>', '>='):
            if isinstance(lo, float) or isinstance(hi, float):
                # FLOAT upper bounds cannot disprove a greater-than
                # probe: parquet writers omit NaN from float stats,
                # and Spark orders NaN greater than every value — a
                # hidden NaN row would match. (Found by the soundness
                # property test; =, in, <, <= stay sound: a finite
                # probe never equals NaN and NaN never sorts below.)
                continue
            if op == '>' and not (hi > value):
                return False
            if op == '>=' and not (hi >= value):
                return False
        else:
            raise ValueError(f'unknown stats-filter op: {op!r}')
    return True


def _split_files(files: List[dict], filters):
    """(files the ``filters`` may match, files their stats rule out),
    each in manifest order (see ``file_may_match``)."""
    touched: List[dict] = []
    untouched: List[dict] = []
    for f in files:
        (touched if file_may_match(f, filters) else untouched).append(f)
    return touched, untouched


def _unquote_partition(raw: str):
    """Decode a partitionBy directory value ('__HIVE_DEFAULT_PARTITION__'
    and %-escapes)."""
    if raw == '__HIVE_DEFAULT_PARTITION__':
        return None
    out = []
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == '%' and i + 3 <= len(raw):  # a full 2-hex-digit escape
            try:
                out.append(chr(int(raw[i + 1:i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return ''.join(out)


class SnapshotTable:
    """A parquet table with Iceberg-style snapshot semantics.

    Layout::

        <root>/data/<commit-uuid>-<i>.parquet   immutable data files
        <root>/manifests/v<N>.json              one manifest per version

    All metadata operations are driver-side and O(manifest); all data
    movement is Spark-side and distributed.
    """

    def __init__(self, root: str,
                 bloom_cols: Optional[Sequence[str]] = None,
                 ndv_cols: Optional[Sequence[str]] = None,
                 ndv_p: Optional[int] = None):
        """``bloom_cols`` opts staged writes into PER-FILE BLOOM
        FILTERS on the named str/int columns (parquet's column bloom
        filters, kept in the manifest like Iceberg could): equality
        and IN probes on hash-like columns — content_hash, doc ids —
        prune files where min/max stats are useless (uniformly random
        values span the whole domain in every file). Each filter has
        8192 bits (1 KiB packed, ~1% FP at ~800 keys/file), or the
        size a table recorded. Write-side opt-in per handle, like
        Iceberg table write properties; readers need nothing.

        ``ndv_cols`` likewise records a PER-FILE HyperLogLog register
        table (``functions.hll``, JVM-built) in each manifest entry:
        ``ndv(col)`` then answers approx-COUNT-DISTINCT for any
        snapshot/partition subset by merging registers DRIVER-side —
        the sketch monoid means per-file sketches merge to exactly the
        whole-scan sketch, so table NDV costs zero data I/O (the
        planning statistic ANALYZE TABLE would scan for). ``ndv_p``:
        2^p registers per file (~2^p ints of manifest weight).

        Both are TABLE PROPERTIES, not handle quirks: the values a
        writer sets are recorded in every manifest it commits
        (``write_props``), and a handle constructed WITHOUT them —
        an admin CLI running ``compact``, a maintenance cron — adopts
        the recorded ones, so rewrites preserve the sketches instead
        of silently stripping them. Passing an explicit value (even
        ``[]``) overrides and re-records."""
        self.root = root
        self.data_dir = os.path.join(root, 'data')
        self.manifest_dir = os.path.join(root, 'manifests')
        self._bloom_cols = (None if bloom_cols is None
                            else list(bloom_cols))
        self._ndv_cols = None if ndv_cols is None else list(ndv_cols)
        self._ndv_p = ndv_p
        self._tag_cache: Dict[int, Optional[str]] = {}
        self._mf_cache: Dict[str, List[dict]] = {}
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    def write_props(self) -> dict:
        """The effective sketch/table write properties: this handle's
        explicit settings, falling back to the ones recorded at HEAD
        (absent both -> defaults: no blooms, no ndv, ndv_p 12). The bloom
        size is the one recorded at HEAD, 8192 bits by default."""
        base = self._snapshot_doc().get('write_props') or {}
        return {
            'bloom_cols': (self._bloom_cols
                           if self._bloom_cols is not None
                           else base.get('bloom_cols', [])),
            'bloom_bits': base.get('bloom_bits', 1 << 13),
            'ndv_cols': (self._ndv_cols
                         if self._ndv_cols is not None
                         else base.get('ndv_cols', [])),
            'ndv_p': (self._ndv_p if self._ndv_p is not None
                      else base.get('ndv_p', 12)),
        }

    # -- snapshot resolution ------------------------------------------------

    def _numbered_docs(self, kinds: str):
        """(N, file name) of every ``<kind><N>.json`` in manifests/
        whose one-letter kind is in ``kinds`` (v: snapshots, x: expiry
        tombstones)."""
        for name in os.listdir(self.manifest_dir):
            if name[:1] in kinds and name.endswith('.json'):
                try:
                    yield int(name[1:-5]), name
                except ValueError:
                    continue

    def versions(self) -> List[int]:
        return sorted(v for v, _name in self._numbered_docs('v'))

    def current_version(self) -> int:
        """HEAD version; 0 means the table is empty (no committed snapshot)."""
        versions = self.versions()
        return versions[-1] if versions else 0

    def _snapshot_doc(self, version: Optional[int] = None) -> dict:
        """The RAW persisted snapshot document (no manifest-file
        resolution): a ``manifest_list`` of immutable manifest-file
        references."""
        if version is None:
            version = self.current_version()
        if version == 0:
            return {'version': 0, 'parent': None, 'operation': 'empty',
                    'schema': None, 'manifest_list': []}
        path = os.path.join(self.manifest_dir, f'v{version}.json')
        with open(path, 'r', encoding='utf-8') as fh:
            return json.load(fh)

    def _load_manifest_file(self, rel: str) -> List[dict]:
        """Entries of one immutable manifest file, memoized per handle
        (the file never changes once written, so a name is a cache
        key forever — only unseen manifests cost a read)."""
        cached = self._mf_cache.get(rel)
        if cached is None:
            with open(os.path.join(self.root, rel),
                      encoding='utf-8') as fh:
                cached = json.load(fh)['entries']
            self._mf_cache[rel] = cached
        return cached

    def _manifest_entries(self, m: dict) -> List[dict]:
        """The entries of manifest-list item ``m``, each tagged with
        its source manifest (``__mf``) so commits can carry unchanged
        manifests forward by reference."""
        return [{**e, '__mf': m['path']}
                for e in self._load_manifest_file(m['path'])]

    def snapshot(self, version: Optional[int] = None) -> dict:
        """The manifest dict of ``version`` (default HEAD), with the
        file list MATERIALIZED from its manifest files (memoized)."""
        doc = self._snapshot_doc(version)
        doc['files'] = [e for m in doc['manifest_list']
                        for e in self._manifest_entries(m)]
        return doc

    # -- reads --------------------------------------------------------------

    def set_ref(self, name: str, version: int) -> None:
        """Point a NAMED REF at a committed version (atomic tmp +
        fsync + rename; a pointer is last-writer-wins). Refs are the
        WRITE-AUDIT-PUBLISH gate (Iceberg refs/branch pattern,
        re-implemented for the linear chain): writers commit
        snapshots normally, an audit job validates version N, then
        ``set_ref('published', N)`` — consumers reading
        ``read(ref='published')`` never see unaudited commits, and
        ``expire_snapshots`` keeps every ref-pinned snapshot alive
        regardless of the retention window. Forked writes (diverging
        branch commits) are out of scope — the chain is linear; a ref
        is a published pointer onto it."""
        import re
        if not re.fullmatch(r'[A-Za-z0-9_\-]{1,64}', name):
            raise ValueError(f'invalid ref name {name!r}')
        if version != 0 and version not in self.versions():
            raise ValueError(f'ref target v{version} does not exist')
        os.rename(self._temp_json({'version': version}),
                  os.path.join(self.manifest_dir, f'r-{name}.json'))

    def get_ref(self, name: str) -> Optional[int]:
        """The version a ref points at, or None if unset."""
        try:
            with open(os.path.join(self.manifest_dir,
                                   f'r-{name}.json'),
                      encoding='utf-8') as fh:
                return int(json.load(fh)['version'])
        except FileNotFoundError:
            return None
        except (ValueError, KeyError, json.JSONDecodeError):
            return None  # torn/garbage pointer reads as unset

    def refs(self) -> Dict[str, int]:
        """All named refs (name -> version)."""
        out: Dict[str, int] = {}
        for fn in os.listdir(self.manifest_dir):
            if fn.startswith('r-') and fn.endswith('.json'):
                v = self.get_ref(fn[2:-5])
                if v is not None:
                    out[fn[2:-5]] = v
        return out

    def drop_ref(self, name: str) -> None:
        self._remove([f'manifests/r-{name}.json'])

    def read(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        partition_values: Optional[Sequence] = None,
        stats_filters: Optional[Sequence] = None,
        ref: Optional[str] = None,
    ) -> Optional[DataFrame]:
        """A DataFrame pinned to one snapshot's explicit file list.

        ``partition_values`` prunes at the manifest (no footer is opened
        for a pruned file). ``stats_filters`` — a conjunction of
        ``(column, op, value)`` tuples (op in ``= < <= > >= in``) —
        additionally skips every file whose recorded min/max stats
        disprove the predicates (see ``file_may_match``). Skipping is
        FILE-level: the surviving files still contain non-matching rows,
        so the caller applies the same predicate row-level on the
        returned frame (exactly how an engine consumes Iceberg's
        bounds). Returns None for an empty table/snapshot — callers
        decide their own empty-schema story, same convention as
        ``checkpoint.read_table``.
        """
        if version is not None and ref is not None:
            raise ValueError('read: version and ref are mutually exclusive')
        if ref is not None:
            version = self.get_ref(ref)
            if version is None:
                raise ValueError(f'unknown ref {ref!r}')
        stats_filters = _materialize_filters(stats_filters)
        doc = self._snapshot_doc(version)
        wanted = (None if partition_values is None
                  else {str(v) for v in partition_values})
        files = []
        for m in doc['manifest_list']:
            # MANIFEST-LIST pruning: a uniform-partition manifest whose
            # value is not wanted — or whose aggregated column bounds
            # disprove the stats filters — is skipped without even
            # loading it: O(partitions) planning, not O(files)
            if (wanted is not None and m.get('uniform')
                    and str(m['partition']) not in wanted):
                continue
            if (stats_filters is not None and m.get('stats')
                    and not file_may_match(
                        {'stats': m['stats'], 'sv': m.get('sv', 1)},
                        stats_filters)):
                continue
            files.extend(self._manifest_entries(m))
        if wanted is not None:
            files = [f for f in files
                     if str(f.get('partition')) in wanted]
        if stats_filters is not None:
            files = [f for f in files if file_may_match(f, stats_filters)]
        if not files:
            return None
        return self._read_files_mor(spark, files, doc)

    def last_consumed(self, name: str) -> int:
        """The highest source version a ``refresh_incremental`` with
        this consumer ``name`` has committed into THIS table (0 if
        never refreshed). Derived from commit tags — the consumer
        cursor lives inside the sink's own atomic commit history, so
        there is no separate offset file to desync."""
        lo = 0
        prefix = f'{name}@'
        for tag in self._tags().values():
            if tag and tag.startswith(prefix):
                try:
                    lo = max(lo, int(tag[len(prefix):]))
                except ValueError:
                    continue
        return lo

    def _read_entries(self, spark: SparkSession, files, schema_json):
        """A DataFrame over an explicit manifest-entry list."""
        paths = [os.path.join(self.root, f['path']) for f in files]
        reader = spark.read
        if schema_json:
            from pyspark.sql.types import StructType
            reader = reader.schema(
                StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*paths)

    def _read_files_mor(self, spark: SparkSession, files, manifest,
                        keep_positions: bool = False):
        """Read an explicit file list with the snapshot's pending
        equality deletes APPLIED at scan time (merge-on-read): each
        data file is anti-joined against exactly the delete files
        sequenced after it (``d.seq > f.seq`` — rows appended after a
        delete survive it). Files are grouped by their
        applicable-delete subset, so the plan unions at most
        n_pending_deletes + 1 branches and runs ONE broadcast
        anti-join per distinct key-column set per branch — delete key
        sets are small by design (opt-out lists); a delete too big to
        broadcast is what copy-on-write ``delete_where`` (or a
        ``compact``) is for.

        ``keep_positions`` appends ``__snap_file`` / ``__snap_pos``
        scan-metadata columns to the OUTPUT (the changelog scan needs
        them to resolve a later position delete against this state)."""
        deletes = manifest.get('deletes') or []
        groups: Dict[tuple, List[dict]] = {}
        for f in files:
            applicable = tuple(
                i for i, d in enumerate(deletes)
                if d['seq'] > f.get('seq', 0))
            groups.setdefault(applicable, []).append(f)
        out = None
        for applicable, fs in sorted(groups.items()):
            df = self._read_entries(spark, fs, manifest.get('schema'))
            pos_ds = [deletes[i] for i in applicable
                      if deletes[i].get('positions')]
            if pos_ds or keep_positions:
                data_cols = df.columns
                df = df.select(
                    '*',
                    F.col('_metadata.file_name').alias('__snap_file'),
                    F.col('_metadata.row_index').alias('__snap_pos'))
            if pos_ds:
                df = self._join_delete_files(spark, df, pos_ds,
                                             'left_anti')
                if not keep_positions:
                    df = df.select(data_cols)
            by_cols: Dict[tuple, List[dict]] = {}
            for i in applicable:
                if not deletes[i].get('positions'):
                    by_cols.setdefault(tuple(deletes[i]['key_cols']),
                                       []).append(deletes[i])
            for _cols, ds in sorted(by_cols.items()):
                df = self._join_delete_files(spark, df, ds, 'left_anti')
            out = df if out is None else out.unionByName(df)
        return out

    def _join_delete_files(self, spark: SparkSession, df: DataFrame,
                           ds: List[dict], how: str) -> DataFrame:
        """``df`` ``how``-joined ('left_anti' or 'left_semi') with the
        broadcast rows of delete files ``ds`` of one kind: POSITION
        deletes (Iceberg v2) on the scan-provided (``__snap_file``,
        ``__snap_pos``) — file names are table-unique (uuid staging) —
        or equality deletes on their shared key columns."""
        keys = spark.read.parquet(*[
            os.path.join(self.root, d['path']) for d in ds])
        if ds[0].get('positions'):
            on = ['__snap_file', '__snap_pos']
            keys = keys.toDF(*on)
        else:
            on = list(ds[0]['key_cols'])
        return df.join(F.broadcast(keys.dropDuplicates()), on=on, how=how)

    def read_changelog(self, spark: SparkSession, from_version: int,
                       to_version: Optional[int] = None
                       ) -> Optional[DataFrame]:
        """CDC feed WITH DELETES (Iceberg's changelog scan shape,
        re-implemented): every row change strictly after
        ``from_version`` up to ``to_version``, as the table schema
        plus ``_change_type`` ('insert' | 'delete') and
        ``_commit_version``. A consumer replaying the feed in
        ``_commit_version`` order reconstructs the visible-state
        transition exactly.

        Per traversed commit:

        * ``append`` — the added files' rows as 'insert' events (raw:
          a row inserted at v and deleted at v' > v emits BOTH events,
          like any changelog).
        * ``delete-keys`` / ``delete-positions`` — 'delete' events:
          the rows the commit actually removed, computed as the
          VISIBLE state at v-1 (merge-on-read: earlier pending deletes
          applied, so a key deleted twice emits its rows once)
          semi-joined with the commit's delete file.
        * anything else (overwrite / replace_partitions / delete /
          merge / compact) raises — a rewrite makes row-level change
          attribution ambiguous at file granularity, the same contract
          as Iceberg's append-only incremental scan (compaction is
          invisible to CDC only with snapshot-diffing, which is what
          full-table refresh is for).

        Insert attribution uses data-sequence numbers: an append at
        ``v`` stamps its new entries ``seq == v``. Returns None for an
        empty window.
        """
        if to_version is None:
            to_version = self.current_version()
        if from_version > to_version:
            raise ValueError(
                f'read_changelog: from_version {from_version} is '
                f'newer than to_version {to_version}')
        events: List[DataFrame] = []
        v = to_version
        chain: List[int] = []
        while v > from_version:
            chain.append(v)
            doc = self._snapshot_doc(v)
            if doc['operation'] not in (
                    'append', 'delete-keys', 'delete-positions'):
                raise ValueError(
                    f"read_changelog: snapshot v{v} is a "
                    f"'{doc['operation']}' — changelog scans are "
                    'defined over append/merge-on-read-delete history')
            v = doc.get('parent') or 0
        if v != from_version:
            raise ValueError(
                f'read_changelog: v{from_version} is not on '
                f'v{to_version}\'s parent chain (expired?)')
        for v in sorted(chain):
            manifest = self.snapshot(v)
            op = manifest['operation']
            if op == 'append':
                new_files = [f for f in manifest['files']
                             if f.get('seq', 0) == v]
                if not new_files:
                    continue
                df = self._read_entries(spark, new_files,
                                        manifest.get('schema'))
                events.append(df.select(
                    '*', F.lit('insert').alias('_change_type'),
                    F.lit(v).cast('int').alias('_commit_version')))
                continue
            dls = [d for d in (manifest.get('deletes') or [])
                   if d['seq'] == v]
            if len(dls) != 1:
                raise ValueError(
                    f'read_changelog: v{v} ({op}) carries '
                    f'{len(dls)} delete files, expected 1')
            d = dls[0]
            prev = self.snapshot(v - 1)
            if not prev['files']:
                continue  # nothing was visible, so nothing was deleted
            state = self._read_files_mor(
                spark, prev['files'], prev,
                keep_positions=bool(d.get('positions')))
            deleted = self._join_delete_files(spark, state, [d],
                                              'left_semi')
            if d.get('positions'):
                deleted = deleted.drop('__snap_file', '__snap_pos')
            events.append(deleted.select(
                '*', F.lit('delete').alias('_change_type'),
                F.lit(v).cast('int').alias('_commit_version')))
        if not events:
            return None
        out = events[0]
        for e in events[1:]:
            out = out.unionByName(e, allowMissingColumns=True)
        return out

    def _resolve_transform(self, partition_col,
                           spec: Optional[str]) -> Optional[str]:
        """The partition transform a write must use: the caller's spec
        or, by default, the one recorded at HEAD. A non-empty table
        rejects a DIFFERENT spec — partition evolution needs Iceberg's
        per-file spec ids and is out of scope (same boundary as schema
        renames). ``overwrite`` is exempt: it replaces everything.
        'identity' and an absent spec are the same transform
        (``_transform_expr``) and compare equal here. An UNPARTITIONED
        write to a hidden-partitioned table raises: its files would
        carry no partition value, so transformed-granularity swaps
        would silently miss them forever.

        This is a pre-staging read of HEAD; ``_transform_validate``
        re-checks the same precondition inside the commit loop,
        atomically with the version claim."""
        head = self._snapshot_doc()
        base_spec = head.get('partition_transform')
        nonempty = self._doc_has_files(head)
        if partition_col is None:
            if base_spec is not None and nonempty:
                raise ValueError(
                    f'table is hidden-partitioned ({base_spec!r}) — '
                    'pass partition_col so files keep partition values')
            return None
        explicit = spec is not None
        if spec == 'identity':
            spec = None
        if not explicit:
            return base_spec
        if nonempty and base_spec != spec:
            raise ValueError(
                f'partition transform {spec!r} != table\'s '
                f'{base_spec!r} — partition evolution is out of scope '
                '(overwrite() replaces the table)')
        return spec

    def _transform_validate(self, transform: Optional[str]):
        """A ``_commit`` validate hook: the table's recorded spec must
        still match what this write staged — a concurrent first-commit
        with a different spec (or a concurrent overwrite changing it)
        loses the race and surfaces as a conflict instead of mixing
        partition granularities in one manifest."""
        def check():
            head = self._snapshot_doc()
            return (not self._doc_has_files(head)
                    or head.get('partition_transform') == transform)
        return check

    def _commit_transformed(self, operation: str, entries, schema,
                            transform: Optional[str], **commit) -> int:
        """``_commit`` of a partitioned write staged under
        ``transform``, validated by ``_transform_validate``: a spec
        that changed under the write raises ``CommitConflict``."""
        try:
            return self._commit(
                operation, entries, schema, transform=transform,
                validate=self._transform_validate(transform), **commit)
        except _CompactConflict:
            raise CommitConflict(
                f'{operation}: the table\'s partition transform changed '
                'under this write — restage against the new spec'
            ) from None

    @staticmethod
    def _doc_has_files(doc: dict) -> bool:
        """Emptiness from the RAW snapshot doc's list aggregates, so
        no manifest file is loaded."""
        return any(m['n_files'] for m in doc['manifest_list'])

    # -- writes -------------------------------------------------------------

    def append(self, df: DataFrame | pa.Table,
               partition_col: Optional[str] = None,
               tag: Optional[str] = None,
               partition_transform: Optional[str] = None) -> int:
        """Commit ``df`` as new files appended to HEAD; returns the version.
        A ``pyarrow.Table`` is written by the driver as one unpartitioned
        file, without a Spark job (see ``_stage``).

        ``tag`` makes the append IDEMPOTENT: if any committed snapshot
        already carries the tag, the call is a no-op returning that
        version (and nothing is staged). This is how a streaming
        ``foreachBatch`` writer achieves exactly-once appends — tag with
        the batch id, and a replayed batch after a crash commits
        nothing twice.

        ``partition_transform`` enables HIDDEN PARTITIONING (see
        ``_transform_expr``): partition values derive from
        ``partition_col`` (e.g. 'day' over a timestamp), the manifest
        records the spec, and later writes default to it — appending
        with a DIFFERENT spec raises (partition evolution is out of
        scope, like schema renames).
        """
        if tag is not None:
            existing = self.find_tag(tag)
            if existing is not None:
                return existing
        transform = self._resolve_transform(partition_col,
                                            partition_transform)
        entries, schema = self._stage(df, partition_col,
                                      partition_transform=transform)
        if partition_col is None:
            # an unpartitioned append must not ERASE a recorded spec
            return self._commit('append', entries, schema,
                                tag=tag, evolve=True, list_op='append')
        return self._commit_transformed(
            'append', entries, schema, transform, tag=tag, evolve=True,
            list_op='append')

    def find_tag(self, tag: str) -> Optional[int]:
        """The version committed under ``tag``, or None. Sees expiry
        TOMBSTONES too: a tag outlives its snapshot's data, so replay
        idempotence and consumer cursors survive ``expire_snapshots``.
        """
        hits = [v for v, t in self._tags().items() if t == tag]
        return min(hits) if hits else None

    def _tags(self) -> Dict[int, Optional[str]]:
        """version -> tag across live manifests AND expiry tombstones
        (``x<V>.json``). Manifests are immutable, so entries memoize
        per table handle — only unseen versions cost a file read,
        keeping tag lookups O(new versions), not O(history) per call.
        """
        cache = self._tag_cache
        for v, name in self._numbered_docs('vx'):
            if v in cache:
                continue
            try:
                with open(os.path.join(self.manifest_dir, name),
                          encoding='utf-8') as fh:
                    cache[v] = json.load(fh).get('tag')
            except FileNotFoundError:
                continue  # expired under us; tombstone visible next call
            except json.JSONDecodeError:
                continue  # truncated write (pre-fsync crash): skip,
                # don't cache — a repaired file re-reads next call
        return cache

    def overwrite(self, df: DataFrame,
                  tag: Optional[str] = None) -> int:
        """Commit ``df``, unpartitioned, as the table's full new
        contents (nothing old is carried, partition transform included).
        ``tag`` means what it means for ``append``: a tag already
        committed makes the call a no-op returning that version — so a
        view rebuilt under its ``<name>@<version>`` cursor tag resumes
        incremental refreshes from that version."""
        if tag is not None:
            existing = self.find_tag(tag)
            if existing is not None:
                return existing
        entries, schema = self._stage(df, None)
        return self._commit('overwrite', entries, schema,
                            apply=lambda base: list(entries), tag=tag,
                            transform=None,
                            apply_deletes=lambda base: [])

    def replace_partitions(self, df: DataFrame, partition_col: str) -> int:
        """Dynamic-overwrite at snapshot granularity: the partitions
        present in ``df`` are swapped for its files; all other partitions
        are carried forward untouched. Concurrent swaps of disjoint
        partitions both land (rebase); same-partition swaps resolve
        last-writer-wins. With a hidden-partitioned table the swap is
        at TRANSFORMED granularity — e.g. replacing one day(ts)
        partition with a re-crawl of that day."""
        transform = self._resolve_transform(partition_col, None)
        entries, schema = self._stage(df, partition_col,
                                      partition_transform=transform)
        replaced = {e['partition'] for e in entries}

        def apply(base):
            kept = [f for f in base if f.get('partition') not in replaced]
            return kept + entries

        return self._commit_transformed('replace_partitions', entries,
                                        schema, transform, apply=apply)

    def delete_keys(self, spark: SparkSession, keys: DataFrame,
                    key_cols: Sequence[str]) -> int:
        """MERGE-ON-READ equality delete (Iceberg v2 equality delete
        files; spec: https://iceberg.apache.org/spec/#equality-delete-files,
        re-implemented, not copied): commit the distinct key tuples of
        ``keys`` as ONE small delete file — no data file is rewritten.
        Readers anti-join every data file against the delete files
        sequenced after it, so a 1-row takedown costs one tiny parquet
        write instead of rewriting a whole 100-MB data file — the
        write-amplification answer for takedown storms at 100 TB;
        copy-on-write ``delete_where`` remains the read-optimized path
        for broad predicate deletes.

        Contract:
        * **Sequencing**: rows appended AFTER this delete with the same
          key survive it (data-sequence numbers, Iceberg v2).
        * **NULL keys** can never be targeted (anti-join null
          semantics — same as Iceberg equality deletes).
        * ``compact()`` MATERIALIZES pending deletes: the rewrite
          applies them and drops the delete entries from the manifest;
          ``expire_snapshots`` then reclaims the delete parquet.
        * ``read_changelog`` reports the removed rows as 'delete'
          events.
        """
        key_cols = list(key_cols)
        entry = self._stage_delete_file(
            keys.select(*key_cols).dropDuplicates(), key_cols)
        if entry is None:
            return self.current_version()  # empty key set: no-op
        return self._commit(
            'delete-keys', [entry], None,
            apply_deletes=lambda base: base + [entry],
            list_op='identity')

    def _stage_delete_file(self, kdf, key_cols=None):
        """Stage a delete-file parquet (one coalesced file) and return
        its manifest entry, or None when the frame is empty (the
        zero-row staging is reclaimed). ``kdf`` holds key tuples on
        ``key_cols`` (equality delete) or, with ``key_cols`` None,
        (file name, row position) pairs (position delete)."""
        for rel, _pv in self._stage_files(
                lambda stage_dir: kdf.coalesce(1).write.parquet(stage_dir),
                'del'):
            rows, _stats = self._file_meta(os.path.join(self.root, rel))
            if rows == 0:
                self._remove([rel])
                return None
            entry = {'path': rel, 'rows': rows}
            if key_cols is None:
                entry['positions'] = True
            else:
                entry['key_cols'] = list(key_cols)
            return entry
        return None

    def _base_unchanged(self, base: dict):
        """A ``_commit`` validate hook for REWRITE commits: HEAD's data
        files AND pending delete files must be exactly the ones the
        rewrite derived from. The delete list matters separately: a
        racing merge-on-read delete (list_op='identity') changes NO
        data-file path, so a path check alone would let the rewrite
        commit — and its freshly-sequenced files would be exempt from
        (or, for compact, silently drop) a delete the rewrite never
        applied, resurrecting taken-down rows."""
        def paths(doc):
            return (sorted(f['path'] for f in doc['files']),
                    sorted(d['path'] for d in (doc.get('deletes') or [])))
        expected = paths(base)
        return lambda: paths(self.snapshot()) == expected

    def _rewrite(self, name: str, operation: str, derive,
                 partition_col: Optional[str] = None,
                 restages: bool = True) -> int:
        """The one rewrite-and-retry protocol behind ``delete_where``,
        ``merge_into``, ``compact`` and ``delete_positions``: pin HEAD
        (an empty table returns at once), let ``derive(base)`` stage
        the rewrite and return the ``_commit`` keyword arguments
        (``entries``, ``schema``, ``apply``, ...) — or None when
        nothing needs rewriting — and commit them validated against
        the pinned base (``_base_unchanged``). A base that changed
        underneath (``_commit`` reclaims the staged files) re-derives
        on the new HEAD (``_retry``). ``restages`` ops write new data
        files, which must keep their partition values."""
        def attempt():
            base = self.snapshot()
            if not base['files']:
                return base['version']
            if restages and partition_col is None and {
                    f.get('partition') for f in base['files']} != {None}:
                raise ValueError(
                    'table is partitioned — pass partition_col so the '
                    'rewrite keeps manifest partition values')
            commit = derive(base)
            if commit is None:
                return base['version']
            return self._commit(operation,
                                validate=self._base_unchanged(base),
                                **commit)
        return _retry(name, attempt)

    def delete_positions(self, spark: SparkSession, condition) -> int:
        """MERGE-ON-READ position delete (Iceberg v2 position delete
        files; spec: https://iceberg.apache.org/spec/#position-delete-files,
        re-implemented, not copied): evaluate ``condition`` once
        against the current snapshot and commit the matching rows'
        (file, row position) pairs as ONE small delete file — no data
        file is rewritten. The predicate twin of ``delete_keys``: use
        it when the opt-out set is defined by a predicate rather than
        a key list but the MATCH COUNT is small (a takedown, not a
        purge); the delete file is one row per deleted ROW, so a broad
        predicate belongs to copy-on-write ``delete_where``.

        Positions are (parquet file name, ``_metadata.row_index``) —
        file names are table-unique by construction (uuid staging).
        Rows where ``condition`` is NULL are KEPT (SQL DELETE
        semantics, same as ``delete_where``). Unlike equality deletes,
        positions bind to the files they were computed against, so the
        commit validates the file set is unchanged and REBASES
        (recomputing positions) if a rewrite landed concurrently —
        the Iceberg position-delete conflict rule. Sequencing,
        ``compact()`` materialization, CDC guards,
        and expiry all follow the equality-delete contract.
        """
        def derive(base):
            pos = (self._read_entries(spark, base['files'],
                                      base.get('schema'))
                   .select(F.col('_metadata.file_name').alias('file_name'),
                           F.col('_metadata.row_index').alias('pos'),
                           F.coalesce(condition, F.lit(False)).alias('__m'))
                   .where(F.col('__m'))
                   .select('file_name', 'pos'))
            entry = self._stage_delete_file(pos)
            if entry is None:
                return None  # nothing matches
            return dict(entries=[entry], schema=None,
                        apply_deletes=lambda dels: dels + [entry],
                        list_op='identity')
        return self._rewrite('delete_positions', 'delete-positions',
                             derive, restages=False)

    def delete_where(self, spark: SparkSession, condition,
                     partition_col: Optional[str] = None,
                     prune_filters: Optional[Sequence] = None) -> int:
        """Copy-on-write row delete: commit a snapshot without the rows
        matching ``condition`` (a pyspark Column predicate).

        The takedown primitive a training-corpus table needs (opt-out
        lists, right-to-be-forgotten): deleted rows vanish from HEAD
        atomically; prior snapshots still contain them until
        ``expire_snapshots`` — run it after a takedown to physically
        reclaim the data.

        ``prune_filters`` is the caller's stats-level statement of the
        SAME predicate as ``condition`` (``(column, op, value)``
        conjunction, see ``file_may_match``) — a pyspark Column cannot
        be introspected driver-side, so the caller supplies it. Files
        whose stats disprove it provably contain no matching row and
        are carried forward BY REFERENCE (no rewrite, no data
        movement); only files that may match are rewritten — Iceberg's
        copy-on-write file pruning. The caller must keep the two in
        sync: a ``prune_filters`` narrower than ``condition`` would
        silently keep rows alive in skipped files. Without it, every
        file is rewritten (the conservative default). Base-validated
        like ``compact``: a concurrent commit aborts and retries the
        delete on the new snapshot, so concurrent appends survive.
        """
        prune_filters = _materialize_filters(prune_filters)

        def derive(base):
            touched, untouched = _split_files(base['files'],
                                              prune_filters or ())
            if not touched:
                return None  # stats prove nothing matches
            # SQL DELETE semantics: rows where the condition is NULL
            # are KEPT (bare ~condition would drop them — fatal when
            # the condition references a schema-evolution column that
            # reads NULL from pre-evolution files). The rewrite reads
            # MERGE-ON-READ (pending equality deletes applied), so a
            # rewritten file — whose new seq exempts it from older
            # deletes — can never resurrect key-deleted rows.
            df = self._read_files_mor(spark, touched, base) \
                .where(~F.coalesce(condition, F.lit(False)))
            entries, schema = self._stage(
                df, partition_col,
                partition_transform=base.get('partition_transform'))
            return dict(entries=entries, schema=schema,
                        apply=lambda _files: untouched + entries)
        return self._rewrite('delete_where', 'delete', derive,
                             partition_col)

    def merge_into(self, spark: SparkSession, source: DataFrame,
                   key_cols: Sequence[str],
                   partition_col: Optional[str] = None) -> int:
        """``MERGE INTO target USING source ON key`` — the copy-on-write
        upsert every CDC / corpus-refresh pipeline runs (Iceberg's
        ``MERGE INTO``; Spark SQL's on a v2 table):

        * target rows whose key matches a source row are **updated**
          (replaced by the source row);
        * source rows with no target match are **inserted**;
        * everything else is carried forward unchanged.

        ``source`` must have the target's columns (update replaces the
        whole row) and be key-unique: like Iceberg, a merge where one
        target row matches several source rows is ambiguous and raises
        instead of picking one nondeterministically.

        Shape at scale: one left-anti shuffle join of the target against
        the source on the key + a union — no window, no driver-side
        rows. Copy-on-write with AUTOMATIC file pruning: the source's
        per-key-column min/max (one 1-row aggregate) is intersected
        with each target file's manifest stats, and only files whose
        key range can overlap the source's are rewritten — everything
        else is carried forward by reference. A hot-key CDC batch
        against a key-clustered table (append via
        ``df.repartitionByRange(key)``) therefore rewrites a handful
        of files, not 100 TB. Base-validated commit: a concurrent
        append lands first -> this rewrite is discarded and the merge
        retries on the new snapshot, so no concurrent commit is ever
        lost.
        """
        key_cols = list(key_cols)
        # ONE source pass answers both preconditions: key uniqueness
        # (max group count) and the key envelope for file-level target
        # pruning (min/max over the group keys == over the rows). The
        # source lineage is often an expensive derived frame — a
        # second full evaluation just for bounds would double the cost
        # of every CDC merge. None bounds mean an empty source.
        grouped = source.groupBy(*key_cols).agg(
            F.count('*').alias('__cnt'))
        probe = grouped.agg(
            F.max('__cnt').alias('__maxcnt'),
            *(agg for k in key_cols
              for agg in (F.min(k).alias(f'lo_{k}'),
                          F.max(k).alias(f'hi_{k}')))).collect()[0]
        if (probe['__maxcnt'] or 0) > 1:
            dup = grouped.where(F.col('__cnt') > 1).limit(1).collect()
            raise ValueError(
                f'merge_into: source is not unique on {key_cols} '
                f'(e.g. {dup[0].asDict()}) — ambiguous merge')
        key_filters = []
        for k in key_cols:
            lo, hi = probe[f'lo_{k}'], probe[f'hi_{k}']
            if lo is not None and hi is not None:
                key_filters.append((k, '>=', lo))
                key_filters.append((k, '<=', hi))
        if not self._doc_has_files(self._snapshot_doc()):
            # empty table: the merge degenerates to an insert-only
            # append (nothing to rewrite, ordinary optimistic commit)
            return self.append(source, partition_col=partition_col)

        def derive(base):
            # a file whose key range cannot intersect the source's
            # envelope provably holds no matched row — carry it forward
            touched, untouched = _split_files(base['files'], key_filters)
            schema_json = base.get('schema')
            target_cols = [
                fld['name'] for fld in
                json.loads(schema_json)['fields']] if schema_json else \
                self.read(spark, base['version']).columns
            missing = [c for c in target_cols if c not in source.columns]
            if missing:
                raise ValueError(
                    f'merge_into: source lacks target columns {missing}')
            # with no touched file the merge is a pure insert
            merged = source.select(*target_cols)
            if touched:
                # merge-on-read: apply pending equality deletes before
                # rewriting, so rewritten files (new seq, exempt from
                # older deletes) cannot resurrect key-deleted rows
                target = self._read_files_mor(spark, touched, base)
                merged = target.join(source.select(*key_cols), key_cols,
                                     'left_anti').unionByName(merged)
            entries, schema = self._stage(
                merged, partition_col,
                partition_transform=base.get('partition_transform'))
            # evolve validates the staged schema against the base
            # additively — load-bearing for the pruned pure-insert
            # path, whose staged schema derives from the SOURCE frame
            # (a retyped source column must fail the commit, not
            # silently re-type files carried forward)
            return dict(entries=entries, schema=schema, evolve=True,
                        apply=lambda _files: untouched + entries)
        return self._rewrite('merge_into', 'merge', derive, partition_col)

    # -- maintenance --------------------------------------------------------

    def compact(self, spark: SparkSession,
                partition_col: Optional[str] = None,
                target_partitions: int = 1,
                cluster_by: Optional[Sequence[str]] = None,
                zorder_by: Optional[Sequence[str]] = None) -> int:
        """Rewrite HEAD's data into fewer, larger files (the
        small-files problem every streaming-append table accumulates;
        Iceberg's rewrite_data_files). Logically a no-op: the new
        snapshot holds the same rows; old snapshots stay readable
        until ``expire_snapshots`` reclaims the small files.

        ``partition_col`` is REQUIRED on a partitioned table (the
        rewrite re-stages through partitionBy so every manifest entry
        keeps its partition value; compacting without it would write
        partition=None entries and break manifest pruning and later
        ``replace_partitions``). Hash repartitioning sends each
        partition value to one task, so the result is one file per
        partition value; ``target_partitions`` shapes only the
        unpartitioned rewrite.

        Concurrency-safe, not lost-update-prone: the commit asserts the
        base file set is EXACTLY the one that was read and compacted —
        if a concurrent append/replace lands first, this rewrite is
        thrown away (staged files reclaimed) and the whole compact
        retries on the new snapshot, like Iceberg's
        rewrite_data_files validation. Already-compacted tables
        return immediately without rewriting (idempotent maintenance
        cron) — except when ``cluster_by`` is given, which always
        rewrites (the point is the new layout, not fewer files).

        ``cluster_by`` sorts the rewrite (range repartition on the
        columns + in-partition sort, a total order across files) so
        each output file covers a TIGHT, near-disjoint range of the
        cluster columns — this is what makes the manifest's min/max
        stats actually prune (Iceberg/Delta's sorted
        rewrite_data_files): an append-ordered 100-TB table has every
        file spanning the whole key domain and skips nothing; after a
        clustered rewrite a point/range scan opens only the files
        whose range intersects. Multi-column clustering is
        lexicographic — files prune hard on the leading column;
        ``zorder_by`` instead clusters on a Morton value
        (``zorder_expr``) so EVERY listed dimension prunes, at some
        cost to each (Delta's OPTIMIZE ZORDER BY). The z-value is a
        transient sort key — it is dropped before staging, never
        stored."""
        if cluster_by and zorder_by:
            raise ValueError(
                'cluster_by and zorder_by are mutually exclusive')

        def derive(base):
            files0 = base['files']
            part_values = {f.get('partition') for f in files0}
            target_total = (len(part_values) if partition_col
                            else target_partitions)
            if (len(files0) <= target_total and not (cluster_by
                                                     or zorder_by)
                    and not base.get('deletes')):
                return None  # nothing to gain; do not copy data
            # the merge-on-read scan applies pending deletes, so this
            # rewrite MATERIALIZES them; the commit below drops the
            # delete entries and expire_snapshots reclaims the delete
            # parquet
            df = self._read_files_mor(spark, files0, base)
            cluster_cols = list(cluster_by) if cluster_by else None
            if zorder_by:
                df = df.withColumn('__zv',
                                   zorder_expr(df, list(zorder_by)))
                cluster_cols = ['__zv']
            if cluster_cols:
                sort_cols = [F.col(c) for c in cluster_cols]
                if partition_col is not None:
                    # cluster within each partition value: the staged
                    # partitionBy re-splits by value, the sort shapes
                    # file ranges inside it
                    df = (df.repartitionByRange(
                              target_partitions * max(len(part_values), 1),
                              F.col(partition_col), *sort_cols)
                          .sortWithinPartitions(
                              F.col(partition_col), *sort_cols))
                else:
                    df = (df.repartitionByRange(target_partitions,
                                                *sort_cols)
                          .sortWithinPartitions(*sort_cols))
            elif partition_col is not None:
                df = df.repartition(F.col(partition_col))
            else:
                df = df.repartition(target_partitions)
            if zorder_by:
                df = df.drop('__zv')  # transient sort key, never stored
            entries, schema = self._stage(
                df, partition_col,
                partition_transform=base.get('partition_transform'))
            return dict(entries=entries, schema=schema,
                        apply=lambda _files: list(entries),
                        apply_deletes=lambda _dels: [])
        return self._rewrite('compact', 'compact', derive, partition_col)

    def remove_orphans(self, older_than_sec: float = 3600.0
                       ) -> List[str]:
        """Reclaim data-directory files referenced by NO live snapshot
        — crashed writers' stagings and never-committed delete files
        (Iceberg's ``remove_orphan_files``, re-implemented). Every
        commit path reclaims its own files on a clean failure; this
        sweeps what a mid-stage CRASH leaves behind, which at 100 TB
        is real storage (a died 1 GB staging per executor incident).

        ``older_than_sec`` is the in-flight guard: writers stage
        BEFORE claiming a version, so a file is only an orphan
        candidate once its mtime is older than the longest plausible
        stage-to-claim window. Orphaned ``.stage-*`` directories are
        swept by the same age rule. Returns the reclaimed paths.
        """
        referenced = {rel for v in self.versions()
                      for rel in self._referenced(self.snapshot(v))}
        now = time.time()
        removed: List[str] = []
        for name in sorted(os.listdir(self.data_dir)):
            full = os.path.join(self.data_dir, name)
            rel = f'data/{name}'
            if rel in referenced:
                continue
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue  # vanished mid-scan (a racing cleaner)
            if age < older_than_sec:
                continue
            if os.path.isdir(full):
                if name.startswith('.stage-'):
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
                continue
            if not name.endswith('.parquet'):
                continue
            os.remove(full)
            removed.append(rel)
        # manifest files written by commits that crashed between
        # _pack_manifests and the version claim (or lost the claim and
        # died before reclaiming) are referenced by no snapshot —
        # sweep them under the same age floor
        for name in sorted(os.listdir(self.manifest_dir)):
            if not (name.startswith('m-') and name.endswith('.json')):
                continue
            rel = f'manifests/{name}'
            if rel in referenced:
                continue
            full = os.path.join(self.root, rel)
            try:
                if now - os.path.getmtime(full) < older_than_sec:
                    continue
                os.remove(full)
            except OSError:
                continue
            removed.append(rel)
        return removed

    def expire_snapshots(self, keep_last: int = 1) -> List[str]:
        """Drop all but the newest ``keep_last`` manifests and delete data
        files no kept snapshot references. Returns deleted file paths.

        This is the ONE destructive operation; readers pinned to an
        expired snapshot lose their files, exactly as in Iceberg after
        ``expireSnapshots`` — the isolation guarantee is scoped to the
        retention window. TAGS SURVIVE: an expired tagged manifest
        leaves a tiny tombstone (``x<V>.json``: version + tag, no file
        references), because tags are load-bearing state — the
        replay-idempotence guard of tagged appends and the consumer
        cursor of ``refresh_incremental``. Expiring a sink and then
        dropping its tags would silently rewind the cursor and
        double-apply every consumed batch on the next refresh.
        """
        versions = self.versions()
        keep = set(versions[-keep_last:] if keep_last > 0
                   else versions)
        # REF-PINNED snapshots never expire: a published pointer's
        # target staying readable is the whole point of the WAP gate
        keep |= {v for v in self.refs().values() if v in versions}
        if keep >= set(versions):
            return []
        live = {rel for v in keep
                for rel in self._referenced(self.snapshot(v))}
        deleted = []
        for v in versions:
            if v in keep:
                continue
            manifest = self.snapshot(v)
            gone = [rel for rel in self._referenced(manifest)
                    if rel not in live]
            self._remove(gone)
            deleted += gone
            live.update(gone)  # only report/remove once
            if manifest.get('tag'):
                # published like a version claim: a crash mid-write
                # must never leave a truncated tombstone (tags are
                # load-bearing cursor state); a concurrent expirer may
                # already have published it
                self._link_json(f'x{v}.json',
                                {'version': v, 'tag': manifest['tag']})
            os.remove(os.path.join(self.manifest_dir, f'v{v}.json'))
        return deleted

    # -- internals ----------------------------------------------------------

    @staticmethod
    def _referenced(snap: dict) -> List[str]:
        """Every file a materialized snapshot references: its data
        files, pending delete files and manifest files."""
        return ([f['path'] for f in snap['files']]
                + [d['path'] for d in snap.get('deletes') or ()]
                + [m['path'] for m in snap['manifest_list']])

    def _remove(self, rels) -> None:
        """Remove each of ``rels`` (paths under the root) that exists."""
        for rel in rels:
            try:
                os.remove(os.path.join(self.root, rel))
            except FileNotFoundError:
                pass

    def _stage(self, df: DataFrame | pa.Table,
               partition_col: Optional[str],
               partition_transform: Optional[str] = None):
        """Write ``df`` to uniquely-named immutable files under data/.

        With ``partition_col`` the staged write splits files per
        partition value via a DUPLICATE column (``__pv``), so the real
        column stays inside the data files and reads need no directory
        reconstruction; the duplicate only shapes the staging layout.
        ``partition_transform`` derives the value instead of copying
        the column (hidden partitioning — ``_transform_expr``).

        A ``pyarrow.Table`` (unpartitioned only) is written by the
        driver as ONE file, with no Spark job: the few-row bookkeeping
        appends (the checkpoint sidecar) cost a footer write, not a
        job's scheduling; its recorded schema is the Spark schema the
        same rows would get from ``createDataFrame``.
        """
        props = self.write_props()
        if isinstance(df, pa.Table):
            if partition_col is not None:
                raise ValueError('an Arrow table stages unpartitioned')
            from pyspark.sql.pandas.types import from_arrow_schema
            rel = f'data/{uuid.uuid4().hex}-0.parquet'
            pq.write_table(df, os.path.join(self.root, rel))
            return ([self._entry(rel, None, props)],
                    from_arrow_schema(df.schema).json())

        def write(stage_dir):
            if partition_col is None:
                df.write.parquet(stage_dir)
            else:
                df.withColumn('__pv', _transform_expr(
                    df, partition_transform, partition_col)
                ).write.partitionBy('__pv').parquet(stage_dir)
        entries = [self._entry(rel, part_val, props)
                   for rel, part_val in self._stage_files(write)]
        # the staged schema (post-partitionBy) drops __pv; record the
        # ORIGINAL DataFrame schema, which matches the file contents
        return entries, df.schema.json()

    def _stage_files(self, write, name: Optional[str] = None):
        """Run ``write(stage_dir)`` and rename each parquet file it
        wrote into data/ as ``<stage id>-<i>`` (``-<name>`` for a
        one-file staging); returns ``[(rel, partition value)]``."""
        stage_id = uuid.uuid4().hex
        stage_dir = os.path.join(self.data_dir, f'.stage-{stage_id}')
        write(stage_dir)
        staged = []
        try:
            for dirpath, _dirnames, filenames in os.walk(stage_dir):
                base = os.path.basename(dirpath)
                part_val = (_unquote_partition(base[len(_PART_DIR):])
                            if base.startswith(_PART_DIR) else None)
                for fn in sorted(filenames):
                    if fn.endswith('.parquet'):
                        rel = f'data/{stage_id}-{name or len(staged)}.parquet'
                        os.rename(os.path.join(dirpath, fn),
                                  os.path.join(self.root, rel))
                        staged.append((rel, part_val))
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
        return staged

    def _entry(self, rel: str, part_val, props: dict) -> dict:
        """The manifest entry of one staged data file: row count and
        column stats from its footer, plus the table's per-file
        structures (blooms, NDV registers)."""
        full = os.path.join(self.root, rel)
        rows, stats = self._file_meta(full)
        entry = {
            'path': rel,
            'partition': part_val,
            'rows': rows,
            'stats': stats,
            # stats-encoding version 2: temporal bounds on one
            # epoch-micros axis (round 6 re-encoded dates from day
            # ordinals — a versionless entry's date/ts bounds cannot be
            # trusted by a temporal probe)
            'sv': 2,
        }
        blooms, ndv = self._file_structures(full, props)
        if blooms:
            entry['bloom'] = blooms
        if ndv:
            entry['ndv'] = ndv
        return entry

    def _file_structures(self, path: str, props: dict):
        """Per-file bloom bitmaps and HLL register tables for the
        table's write properties — built JVM-SIDE by the very modules
        the gates verify (``functions.bloom.bloom_build``: explode
        positions + partial bit_or; ``functions.hll.hll_sketch``:
        register projection + groupBy-max bounded at 2^p rows), over
        ONE shared reader of the file this writer just staged; each
        driver-collected result is tiny (<= m/63 words, <= 2^p
        registers). NULLs are skipped; columns that are not
        string/integral are silently left unsketched (blooms would be
        encoding-dependent and NDV would count cast artifacts like
        '0.0' vs '-0.0' as distinct — conservative: blooms never skip,
        ndv() returns None)."""
        bloom_cols = props['bloom_cols']
        ndv_cols = props['ndv_cols']
        if not bloom_cols and not ndv_cols:
            return {}, {}
        from pyspark.sql.types import IntegralType, StringType
        from ..functions.bloom import bloom_build
        from ..functions.hll import hll_sketch
        reader = SparkSession.active().read.parquet(path)

        def sketchable(col):
            return col in reader.columns and isinstance(
                reader.schema[col].dataType, (StringType, IntegralType))

        def keys_of(col):
            # integral cast('string') == str(v), matching _bloom_key
            return (reader.select(F.col(col).cast('string')
                                  .alias('key'))
                    .where(F.col('key').isNotNull()))

        blooms = {}
        for col in bloom_cols:
            if not sketchable(col):
                continue
            bf = bloom_build(keys_of(col), m_bits=props['bloom_bits'],
                             k=_BLOOM_K)
            is_str = isinstance(reader.schema[col].dataType, StringType)
            blooms[col] = {
                'm': props['bloom_bits'], 'k': _BLOOM_K,
                # the column's type kind, so probes whose canonical key
                # could differ from the stored cast('string') form skip
                # the bloom instead of unsoundly pruning (see
                # _bloom_probe_key)
                'type': 'str' if is_str else 'int',
                'words': sorted(
                    [int(r.word_idx), int(r.bits)]
                    for r in bf.bitmap.collect()),
            }
        ndv = {}
        for col in ndv_cols:
            if not sketchable(col):
                continue
            sketch = hll_sketch(keys_of(col), p=props['ndv_p'])
            ndv[col] = {
                'p': props['ndv_p'],
                'regs': sorted([int(r.register), int(r.max_rank)]
                               for r in sketch.collect()),
            }
        return blooms, ndv

    def ndv_registers(self, col: str) -> Optional[dict]:
        """The merged {register: max_rank} table of ``col`` over a
        snapshot (optionally one partition subset) — pure driver-side
        metadata (the HLL monoid: max per register across files).
        None if any selected file lacks the sketch."""
        files = self.snapshot()['files']
        p = self.write_props()['ndv_p']
        merged: Dict[int, int] = {}
        for f in files:
            spec = (f.get('ndv') or {}).get(col)
            if spec is None or spec['p'] != p:
                return None  # unsketched file: estimate would lie
            for reg, rank in spec['regs']:
                if merged.get(reg, 0) < rank:
                    merged[reg] = rank
        return merged

    def ndv(self, col: str) -> Optional[float]:
        """Approx COUNT(DISTINCT col) with ZERO data I/O, from the
        manifest's per-file HLL registers. None when a selected file
        carries no sketch (never a silent wrong answer)."""
        merged = self.ndv_registers(col)
        if merged is None:
            return None
        from ..functions.hll import estimate_from_ranks
        return estimate_from_ranks(merged, self.write_props()['ndv_p'])

    @staticmethod
    def _file_meta(path: str):
        """(row count, column min/max stats) from one footer read of a
        file this writer just staged — the manifest's data-skipping
        index costs no extra data scan."""
        meta = pq.ParquetFile(path).metadata
        return meta.num_rows, _column_stats(meta)

    def _commit(self, operation: str, entries, schema,
                apply: Optional[
                    Callable[[List[dict]], List[dict]]] = None,
                tag: Optional[str] = None,
                evolve: bool = False,
                validate: Optional[Callable[[], bool]] = None,
                transform: Optional[str] = '__inherit__',
                apply_deletes: Optional[
                    Callable[[List[dict]], List[dict]]] = None,
                list_op: Optional[str] = None) -> int:
        """Optimistic-concurrency commit loop: build the child manifest on
        the observed HEAD, claim version HEAD+1 by atomic rename, rebase
        and retry on collision. ``evolve`` merges the staged schema into
        the base's additively (``_merge_schema``) instead of replacing
        it — the append path's schema-evolution contract, re-evaluated
        against the observed base on every rebase. ``validate`` is
        re-checked on every attempt; a False result reclaims the staged
        files and raises ``_CompactConflict`` for the caller to
        re-derive its inputs. ORDERING IS LOAD-BEARING: the base
        version is read FIRST, then validate and the tag-idempotence
        check run, then the claim targets base+1 — so any competing
        commit that lands after our checks also bumps HEAD past our
        observed base, our claim fails, and the next attempt re-checks
        against the new state. Checking before the base read would
        leave a window where a commit lands between check and read and
        the stale precondition (or a duplicate tag) slips through.

        ``list_op`` declares commits whose effect on the FILE LIST is
        structural — ``'append'`` (base + entries) or ``'identity'``
        (base unchanged; e.g. a delete-keys commit, which only adds a
        delete file) — so the manifest list carries forward wholesale
        and no ``apply`` materializes the base: the commit is
        O(entries), not O(table files). A 1-row takedown on a 1M-file
        table writes one delete file and one snapshot doc. Every other
        commit passes ``apply``, which maps the base file list to the
        new one."""
        fast = list_op is not None
        staged = [f['path'] for f in entries]
        for _attempt in range(_COMMIT_RETRIES):
            base_version = self.current_version()
            base = (self._snapshot_doc(base_version) if fast
                    else self.snapshot(base_version))
            if validate is not None and not validate():
                self._remove(staged)
                raise _CompactConflict
            if tag is not None:
                # the race variant of the idempotence check: a replayed
                # committer that lost the claim to its twin must not
                # re-commit on rebase — and its already-staged files are
                # referenced by no manifest, so reclaim them (no leak)
                existing = self.find_tag(tag)
                if existing is not None:
                    self._remove(staged)
                    return existing
            if evolve and schema:
                try:
                    committed_schema = _merge_schema(
                        base.get('schema'), schema)
                except ValueError:
                    self._remove(staged)  # never published
                    raise
            else:
                committed_schema = schema or base.get('schema')
            # data-sequence numbers (Iceberg v2): every entry records
            # the version that committed it, so equality-delete files
            # apply only to data written BEFORE them. FRESH entries
            # (this commit's stagings — data or delete files) are
            # re-stamped on EVERY attempt: a rebase moves the claimed
            # version, and a stale seq would let a delete that landed
            # mid-race apply to rows committed after it. Carried
            # entries keep their recorded seq; legacy entries missing
            # one read as 0 (they predate every delete).
            for f in entries:
                f['seq'] = base_version + 1
            # the persisted snapshot holds a MANIFEST LIST, not the
            # flat file list: unchanged manifests carry by reference,
            # so this commit writes O(entries it touched)
            if fast:
                base_mlist = list(base['manifest_list'])
                if list_op == 'append' and entries:
                    ml_new, written = self._pack_manifests(entries)
                    mlist = base_mlist + ml_new
                    summary = {
                        'added_files': len(entries),
                        'added_rows': sum(e['rows'] for e in entries),
                        'removed_files': 0, 'removed_rows': 0}
                else:
                    mlist, written = base_mlist, []
                    summary = {'added_files': 0, 'added_rows': 0,
                               'removed_files': 0, 'removed_rows': 0}
            else:
                new_files = apply(list(base['files']))
                mlist, written = self._pack_manifests(
                    new_files, base['manifest_list'])
                old = {f['path']: f['rows'] for f in base['files']}
                new = {f['path']: f['rows'] for f in new_files}
                summary = {
                    'added_files': sum(1 for p in new if p not in old),
                    'added_rows': sum(r for p, r in new.items()
                                      if p not in old),
                    'removed_files': sum(1 for p in old
                                         if p not in new),
                    'removed_rows': sum(r for p, r in old.items()
                                        if p not in new)}
            manifest = {
                'version': base_version + 1,
                'parent': base_version or None,
                'operation': operation,
                'schema': committed_schema,
                'manifest_list': mlist,
                # FILE-level commit summary (Iceberg snapshot summary
                # shape): what this commit added/removed without
                # diffing snapshots; delete-file commits read 0/0 here
                # (their row effect is merge-on-read)
                'summary': summary,
            }
            base_deletes = list(base.get('deletes') or [])
            dels = (apply_deletes(base_deletes)
                    if apply_deletes is not None else base_deletes)
            if dels:
                manifest['deletes'] = dels
            committed_transform = (base.get('partition_transform')
                                   if transform == '__inherit__'
                                   else transform)
            if committed_transform is not None:
                manifest['partition_transform'] = committed_transform
            manifest['write_props'] = self.write_props()
            # wall-clock commit stamp (``snapshot_admin log``); writer
            # clock skew can reorder stamps across writers — the same
            # caveat as Iceberg's snapshot timestamps
            manifest['committed_at'] = time.time()
            if tag is not None:
                manifest['tag'] = tag
            if self._claim_version(base_version + 1, manifest):
                return base_version + 1
            # lost the claim: the freshly written manifest files are
            # referenced by nothing — reclaim before the rebase repacks
            self._remove(written)
            for rel in written:
                self._mf_cache.pop(rel, None)
        self._remove(staged)  # never published — reclaim
        raise CommitConflict(
            f'{operation}: lost {_COMMIT_RETRIES} commit races')

    def _write_manifest_file(self, entries: List[dict]) -> str:
        """Persist one immutable manifest file (tmp + fsync + rename;
        no claim needed — the name is unique) and prime the cache."""
        clean = [{k: v for k, v in e.items() if k != '__mf'}
                 for e in entries]
        rel = f'manifests/m-{uuid.uuid4().hex}.json'
        os.rename(self._temp_json({'entries': clean}),
                  os.path.join(self.root, rel))
        self._mf_cache[rel] = clean
        return rel

    def _pack_manifests(self, new_files: List[dict],
                        base_mlist: Optional[List[dict]] = None):
        """Group a committed file list into manifest files: a manifest
        whose entry set is UNCHANGED from the base snapshot is carried
        forward by reference (zero rewrite); everything else — fresh
        stagings and partially-retained manifests — is rewritten
        grouped by partition value. A commit touching one partition
        therefore writes O(that partition's entries), not O(all
        files): the Iceberg manifest-list amortization
        (https://iceberg.apache.org/spec/#manifest-lists,
        re-implemented). Returns ``(manifest_list, written_paths)`` —
        the caller must reclaim ``written_paths`` if its commit loses.

        ``base_mlist`` (the base snapshot's manifest list) lets an
        unchanged manifest carry its SUMMARY verbatim without loading
        the manifest file: apply callbacks only keep or drop carried
        entries (fresh stagings never carry ``__mf``, paths are
        unique), so retained-count == recorded n_files proves set
        equality.
        """
        by_mf: Dict[str, List[dict]] = {}
        fresh: List[dict] = []
        for f in new_files:
            mf = f.get('__mf')
            if mf is None:
                fresh.append(f)
            else:
                by_mf.setdefault(mf, []).append(f)
        summaries = {m['path']: m for m in (base_mlist or [])}
        mlist: List[dict] = []
        written: List[str] = []
        for name in sorted(by_mf):
            ents = by_mf[name]
            summary = summaries.get(name)
            if summary is not None and len(ents) == summary['n_files']:
                mlist.append(summary)  # zero-I/O carry-forward
                continue
            orig = self._load_manifest_file(name)
            if {e['path'] for e in ents} == {o['path'] for o in orig}:
                mlist.append(self._mf_summary(name, orig))
            else:
                fresh.extend(ents)  # partially retained: rewrite
        by_pv: Dict[str, List[dict]] = {}
        for f in fresh:
            by_pv.setdefault(str(f.get('partition')), []).append(f)
        for pv in sorted(by_pv):
            ents = by_pv[pv]
            rel = self._write_manifest_file(ents)
            written.append(rel)
            mlist.append(self._mf_summary(rel, ents))
        return mlist, written

    @staticmethod
    def _mf_summary(rel: str, entries: List[dict]) -> dict:
        """A manifest-list entry: path + the aggregates that let reads
        prune (uniform partition value, per-column stat bounds) and
        report (row sum) WITHOUT loading the manifest file."""
        out = {'path': rel, 'n_files': len(entries),
               'rows': sum(e['rows'] for e in entries)}
        pvs = {e.get('partition') for e in entries}
        if len(pvs) == 1:
            out['partition'] = next(iter(pvs))
            out['uniform'] = True
        # list-level column bounds (Iceberg manifest-list
        # partition/field summaries): a column qualifies only when
        # EVERY entry carries stats for it — otherwise pruning on the
        # aggregate could skip a stats-less file that matches
        cols = None
        for e in entries:
            ks = set((e.get('stats') or {}).keys())
            cols = ks if cols is None else (cols & ks)
        stats = {}
        for c in (cols or ()):
            los = [e['stats'][c][0] for e in entries]
            his = [e['stats'][c][1] for e in entries]
            try:
                stats[c] = [min(los), max(his)]
            except TypeError:
                continue  # mixed un-orderable bounds: not summarizable
        if stats:
            out['stats'] = stats
            out['sv'] = min(e.get('sv', 1) for e in entries)
        return out

    def _claim_version(self, version: int, manifest: dict) -> bool:
        """Atomically claim ``v<version>.json``; False if already taken.

        ``os.link`` claims the slot AND publishes the payload in one
        syscall (link fails with FileExistsError if the name is taken),
        so no observer can ever see a claimed-but-empty manifest and a
        crash between "claim" and "publish" cannot brick the table —
        the two-step O_EXCL-then-rename variant had exactly that
        window. On an object store, replace with a conditional put
        (S3 If-None-Match) or a metastore compare-and-swap — this
        method and ``_link_json`` are the seam.
        """
        return self._link_json(f'v{version}.json', manifest)

    def _link_json(self, name: str, doc: dict) -> bool:
        """Publish ``doc`` as manifests/``name`` unless that name exists
        (exclusive ``os.link``); False if it did."""
        tmp = self._temp_json(doc)
        try:
            os.link(tmp, os.path.join(self.manifest_dir, name))
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def _temp_json(self, doc: dict) -> str:
        """Write and fsync ``doc`` to a temp file in manifests/; the
        caller publishes it by rename or exclusive link, so no reader
        ever sees a torn document."""
        tmp = os.path.join(self.manifest_dir,
                           f'.tmp-{uuid.uuid4().hex}.json')
        with open(tmp, 'w', encoding='utf-8') as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        return tmp


def _retry(name: str, attempt: Callable[[], Optional[int]]):
    """Run ``attempt`` (derive from the current state, then a validated
    commit) again while the state it derived from changed under it
    (``_CompactConflict``), at most ``_REWRITE_RETRIES`` times."""
    for _attempt in range(_REWRITE_RETRIES):
        try:
            return attempt()
        except _CompactConflict:
            continue
    raise CommitConflict(
        f'{name}: base kept changing for {_REWRITE_RETRIES} attempts')


def refresh_incremental(spark: SparkSession, source: SnapshotTable,
                        sink: SnapshotTable, transform,
                        key_cols: Sequence[str],
                        name: str = 'mv') -> Optional[int]:
    """Exactly-once incremental maintenance of a derived table (a
    materialized view): read the source's ``read_changelog`` since the
    last refresh, apply the row-wise ``transform`` (filter / project /
    extract) to the window's net inserts, and commit the result to
    ``sink``.

    The consumer cursor IS the sink's commit tag (``<name>@<source
    version>``): the data and the cursor advance are one atomic tagged
    commit, so a crash anywhere — or a concurrent duplicate refresher —
    replays as a no-op and can neither skip nor double-apply a batch.
    No offset file, no two-phase dance: the same shape as the
    streaming ingester's tagged foreachBatch, driven by table versions
    instead of micro-batches.

    Concurrent refreshers that observed DIFFERENT source heads carry
    different tags, so tag idempotence alone cannot serialize them
    (both windows start at the same cursor — overlapping rows would
    double-apply). The commit therefore re-validates ``last_consumed
    == lo`` on every attempt, atomically with the version claim: the
    loser's staged files are reclaimed and the refresh re-derives the
    cursor, committing only the truly-unread remainder.

    ``key_cols`` must be a PRIMARY KEY of the source (unique per
    visible state) — the standard CDC-upsert-stream contract. Deletes
    propagate to the sink BY KEY, so a duplicated key would make a
    row-level source delete (e.g. ``delete_positions`` hitting one of
    two rows sharing the key) over-delete the other row's sink
    derivative; with a unique key, key-deletes and row-deletes
    coincide. ``transform`` must PRESERVE ``key_cols`` (checked).

    * A window of appends only commits the transformed inserts as a
      plain ``append`` (no delete-key aggregate, no join, no delete
      file), so the view's own history stays a changelog source.
    * A window with a merge-on-read delete commits ``cdc-refresh``:
      the NET insert set (insert events not followed, by
      ``_commit_version``, by a delete of the same key — a
      delete-then-reinsert survives) plus ONE equality-delete file on
      ``key_cols``, in a SINGLE atomic claim. The delete file and the
      batch's data files share one seq and deletes apply only to
      strictly-earlier seqs, so the batch's own inserts survive while
      every previously-synced row with a deleted key dies
      merge-on-read. Run ``sink.compact()`` periodically, like any
      merge-on-read consumer.
    * A rewrite commit (overwrite / replace_partitions / delete /
      merge / compact) in the window raises via ``read_changelog`` —
      the view must then be rebuilt from one source version ``v``
      (typically ``source.current_version()``) with
      ``sink.overwrite(transform(source.read(spark, version=v)),
      tag=f'{name}@{v}')``, which is exactly Iceberg/Delta's
      incremental-view contract; the tag moves the cursor to ``v``, so
      later refreshes resume from there.

    Returns the sink version committed, or None when already current.
    """
    key_cols = list(key_cols)

    def attempt():
        hi = source.current_version()
        lo = sink.last_consumed(name)
        if hi <= lo:
            return None
        log = source.read_changelog(spark, lo, hi)
        if log is None:
            return None  # empty window: cursor re-derives next call
        # the refresh stages unpartitioned, so a hidden-partitioned
        # sink refuses it as it refuses an unpartitioned append
        sink._resolve_transform(None, None)
        # read_changelog validated the chain lo+1..hi, so its
        # operations say on the driver whether any delete is in it
        mutating = any(source._snapshot_doc(v)['operation'] != 'append'
                       for v in range(lo + 1, hi + 1))
        rows = log
        if mutating:
            dels = log.where(F.col('_change_type') == 'delete')
            last_del = (dels.groupBy(*key_cols)
                        .agg(F.max('_commit_version').alias('__last_del')))
            rows = (log.where(F.col('_change_type') == 'insert')
                    .join(F.broadcast(last_del), key_cols, 'left')
                    .where(F.col('__last_del').isNull()
                           | (F.col('_commit_version')
                              > F.col('__last_del')))
                    .drop('__last_del'))
        new_rows = transform(rows.drop('_change_type', '_commit_version'))
        missing = [k for k in key_cols if k not in new_rows.columns]
        if missing:
            raise ValueError(
                f'refresh_incremental: transform dropped key columns '
                f'{missing} — deletes could not be propagated')
        entries, schema = sink._stage(new_rows, None)
        # empty stagings: reclaim, don't commit
        sink._remove(e['path'] for e in entries if e['rows'] == 0)
        entries = [e for e in entries if e['rows'] > 0]
        if mutating:
            del_entry = sink._stage_delete_file(
                dels.select(*key_cols).dropDuplicates(), key_cols)
            new_deletes = [del_entry] if del_entry else []
            commit = dict(operation='cdc-refresh',
                          entries=entries + new_deletes,
                          apply=lambda base: base + entries,
                          apply_deletes=lambda base: base + new_deletes)
        else:
            commit = dict(operation='append', entries=entries,
                          list_op='append')
        unpartitioned_ok = sink._transform_validate(None)
        return sink._commit(
            schema=schema, tag=f'{name}@{hi}', evolve=True,
            validate=lambda: (sink.last_consumed(name) == lo
                              and unpartitioned_ok()),
            **commit)
    return _retry(f'refresh_incremental({name})', attempt)
