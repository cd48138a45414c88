"""Distributed BPE tokenizer: train + apply, fully JVM-side.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units") is the canonical training-corpus
tokenizer. Both phases here run without any Python in the data path:

* **Token-list-as-string.** A word's token list is one string with every
  token individually bracketed: 'fast' -> ``<f><a><s><t>``, word
  boundaries marked ``/``. A BPE merge of pair (a, b) is then EXACTLY
  one ``replace('<a><b>' -> '<ab>')``: consecutive matches share no
  characters (each token owns its brackets), so left-to-right
  non-overlapping string replacement IS one canonical BPE merge pass —
  ``abab`` under (a, b) becomes ``<ab><ab>``, ``bbbbb`` under (b, b)
  becomes ``<bb><bb><b>``, identical to the per-word reference loop.
  (A single *shared* separator encoding gets runs wrong: the match
  consumes the boundary char the next pair needs. The brackets exist
  precisely to kill that overlap.) Every merge is a whole-stage-codegen
  JVM string op — no pandas UDF, no per-row Python.

* **Distinct-word training state.** Like the original implementation's
  word-frequency dict, training aggregates the corpus once to distinct
  ``(word, count)`` rows and iterates on that — state is
  vocabulary-sized (Heaps' law: ~10^6-10^7 rows at 100 TB), not
  corpus-sized. Each merge iteration is one pair-explode + groupBy over
  that small state plus a 1-row driver collect (the argmax pair); the
  corpus is never rescanned after the initial word count.

* **Deterministic.** Pair selection orders by (count DESC, pair-label
  ASC) with the label ``a|b``, so ties break lexicographically on the
  delimited label — the same corpus always yields the same merge table,
  and the pure-Python reference trainer in the tests must match it
  exactly.

Tokens may not contain the four structural characters ``< > / |``;
normalization strips them from input (documented constraint — real
deployments pick non-text bytes, e.g. C0 controls). Words never merge
across whitespace (the ``/`` boundary is structural; word-boundary BPE,
SentencePiece-style, no ``</w>`` marker).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OPEN = '<'
CLOSE = '>'
BOUND = '/'
PAIR_SEP = '|'
_STRIP_RE = '[<>/|]'
_TOKEN_RE = '<([^<>]*)>'


def norm_text_col() -> Column:
    """Whitespace-collapsed, structural-character-stripped text (the
    tokenizer's input normalization; mirrored 1:1 in the gate oracle)."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.col('text'), _STRIP_RE, ''), r'\s+', ' '))


def word_repr_col(word: Column) -> Column:
    """One word -> its initial token-list string: 'fast' -> '<f><a><s><t>'."""
    return F.regexp_replace(word, '(.)', f'{OPEN}$1{CLOSE}')


def doc_repr_col() -> Column:
    """Whole document -> its token-list string, word boundaries as '/'.

    'go up' -> '<g><o>/<u><p>'. A merge pattern '<a><b>' can never span
    the boundary marker, so per-word and per-document application are
    equivalent and the per-document form is a single string column.
    """
    bracketed = F.regexp_replace(norm_text_col(),
                                 '(.)', f'{OPEN}$1{CLOSE}')
    # the space between words became '< >'; collapse it to the boundary
    return F.replace(bracketed, F.lit(f'{OPEN} {CLOSE}'), F.lit(BOUND))


def merge_pattern(a: str, b: str) -> Tuple[str, str]:
    return (f'{OPEN}{a}{CLOSE}{OPEN}{b}{CLOSE}', f'{OPEN}{a}{b}{CLOSE}')


def apply_merges(repr_col: Column,
                 merges: Sequence[Tuple[str, str]]) -> Column:
    """Chain the merge table over a token-list string column (JVM-only)."""
    out = repr_col
    for a, b in merges:
        pat, rep = merge_pattern(a, b)
        out = F.replace(out, F.lit(pat), F.lit(rep))
    return out


def tokens_col(repr_col: Column) -> Column:
    """Token-list string -> array of tokens."""
    return F.regexp_extract_all(repr_col, F.lit(_TOKEN_RE), 1)


def word_counts(docs: DataFrame) -> DataFrame:
    """Corpus -> distinct (word, cnt) training state. The ONE corpus
    scan + one shuffle on the word key; everything after operates on
    vocabulary-sized data."""
    words = docs.select(
        F.explode(F.split(norm_text_col(), ' ')).alias('word'))
    return (words.where(F.col('word') != '')
            .groupBy('word').agg(F.count('*').alias('cnt')))


def pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the training state.

    Pairs come from zipping the token array with its own tail
    (explode + groupBy, per the hot-path rule — no repeated
    higher-order expression), weighted by the word count.
    Result: (pair, n) with the pair label 'a|b'.
    """
    toks = tokens_col(F.col('toks_str'))
    head = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    tail = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = F.zip_with(head, tail,
                       lambda a, b: F.concat(a, F.lit(PAIR_SEP), b))
    return (state
            .select(F.explode(pairs).alias('pair'), 'cnt')
            .groupBy('pair').agg(F.sum('cnt').alias('n')))


def train(
    docs: DataFrame,
    n_merges: int,
    min_count: int = 2,
    max_local_state: int = 5_000_000,
) -> List[Tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    HYBRID: the corpus-sized work — normalization, word split, the
    (word, cnt) aggregation — is always distributed (one scan, one
    shuffle on the word key). The merge LOOP then runs driver-side
    whenever the distinct-word state fits (``max_local_state`` rows;
    by Heaps' law ~10^6-10^7 even at 100 TB, and (word, cnt) rows are
    tens of bytes — it essentially always fits): a production 30k-merge
    vocabulary as 30k sequential Spark jobs is pure scheduler latency
    on vocabulary-sized data. Above the threshold each merge iteration
    falls back to one distributed shuffle over the state + a 1-row
    argmax collect + a JVM replace, with a localCheckpoint truncating
    the replace lineage. Both paths share one tie-break contract
    ((count DESC, 'a|b' label ASC)) and are equivalence-tested against
    each other and the sequential reference.
    """
    wc = word_counts(docs)
    # ONE job decides the path AND fetches the state: take(N+1)
    # returns at most N+1 rows — overflow means "too big, go
    # distributed" without a second corpus-sized aggregation
    head = wc.take(max_local_state + 1)
    if len(head) <= max_local_state:
        counts = {r['word']: r['cnt'] for r in head}
        return _train_from_counts(counts, n_merges, min_count)
    state = wc.select(
        word_repr_col(F.col('word')).alias('toks_str'), 'cnt')
    state = state.localCheckpoint(eager=True)
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        best = (pair_counts(state)
                .orderBy(F.desc('n'), F.asc('pair'))
                .limit(1).collect())
        if not best or best[0]['n'] < min_count:
            break
        a, b = best[0]['pair'].split(PAIR_SEP)
        merges.append((a, b))
        state = state.withColumn(
            'toks_str', apply_merges(F.col('toks_str'), [(a, b)]))
        state = state.localCheckpoint(eager=True)
    return merges


def tokenize(
    docs: DataFrame,
    merges: Sequence[Tuple[str, str]],
    keep_tokens: bool = True,
) -> DataFrame:
    """Apply a merge table to every document (map-only, JVM-only).

    Returns (id, n_tokens, n_words, toks_str?) — ``toks_str`` is the
    full bracketed token-list string (word boundaries ``/``), the
    strongest value-level evidence for the oracle hash compare; drop it
    with ``keep_tokens=False`` when only counts are needed.
    """
    repr_ = apply_merges(doc_repr_col(), merges)
    toks = tokens_col(repr_)
    norm = norm_text_col()
    out = docs.select(
        F.col('doc_id'),
        F.size(toks).alias('n_tokens'),
        F.size(F.split(norm, ' ')).alias('n_words'),
        repr_.alias('toks_str'),
    )
    if not keep_tokens:
        out = out.drop('toks_str')
    return out


# ---------------------------------------------------------------------------
# pure-Python merge loop over the collected (word, count) state
# ---------------------------------------------------------------------------

def _merge_pass(toks, a, b):
    """One canonical left-to-right non-overlapping merge pass."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _train_from_counts(counts, n_merges: int,
                       min_count: int = 2) -> List[Tuple[str, str]]:
    """Driver-side merge loop over the collected (word, cnt) state.

    Incremental pair bookkeeping (the standard fast BPE trainer): a
    merge re-processes ONLY the words containing the merged pair (an
    inverted pair->words index), so total work is proportional to
    text actually rewritten, not n_merges * vocabulary. Tie-break is
    the engine-wide contract: (count DESC, 'a|b' label ASC) —
    equivalence-tested against both the distributed loop and the
    naive reference trainer in the tests.
    """
    from collections import Counter, defaultdict
    words = [list(w) for w in counts]
    freqs = list(counts.values())
    pc: Counter = Counter()
    index = defaultdict(set)
    for i, toks in enumerate(words):
        c = freqs[i]
        for j in range(len(toks) - 1):
            p = (toks[j], toks[j + 1])
            pc[p] += c
            index[p].add(i)
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        if not pc:
            break
        (a, b), n = min(
            pc.items(),
            key=lambda kv: (-kv[1], kv[0][0] + PAIR_SEP + kv[0][1]))
        if n < min_count:
            break
        merges.append((a, b))
        for i in list(index.get((a, b), ())):
            toks, c = words[i], freqs[i]
            for j in range(len(toks) - 1):
                p = (toks[j], toks[j + 1])
                pc[p] -= c
                if pc[p] == 0:
                    del pc[p]
                index[p].discard(i)
            new = _merge_pass(toks, a, b)
            words[i] = new
            for j in range(len(new) - 1):
                p = (new[j], new[j + 1])
                pc[p] += c
                index[p].add(i)
        index.pop((a, b), None)
    return merges
