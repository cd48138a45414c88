"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction at sf0.001.
``queries()`` / ``oracle_sql()`` pair every implemented operator with an
ANSI-SQL oracle DuckDB runs on the same parquet tables.

The extraction queries operate on a transcripts table synthesized
deterministically (inside Catalyst) from ``documents``; the hOCR wrapping
is invertible by construction, so the oracle recomputes expected outputs
directly from ``documents.text`` — this makes the Python extraction
kernel itself verifiable end-to-end against SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocrodjvu_spark import pipeline
from ocrodjvu_spark.functions import similarity, temporal, textops
from ocrodjvu_spark.sources import engine_synth as ES
from ocrodjvu_spark.sources import transcripts as T

SF0001 = '/root/testdata/sf0.001'


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full hOCR extraction over the sf0.001 transcripts."""
    df = T.synthesize_transcripts(spark, SF0001)
    return pipeline.extract_turns(df, emit_spans=False).select(
        'conv_id', 'turn_idx', 'dialect', 'error',
        'extracted_text', 'extracted_sexpr',
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _q_extract_text(spark, sf_dir):
    df = T.synthesize_transcripts(spark, sf_dir)
    return pipeline.extract_turns(
        df, emit_spans=False, emit_sexpr=False).select(
        'conv_id', 'turn_idx', 'extracted_text')


def _q_extract_word_spans(spark, sf_dir):
    df = T.synthesize_transcripts(spark, sf_dir)
    extracted = pipeline.extract_turns(df, emit_spans='packed',
                                       emit_sexpr=False)
    return pipeline.word_spans(extracted).select(
        'conv_id', 'turn_idx', 'word_idx', 'word', 'x0', 'y0', 'x1', 'y1')


def _q_extract_sexpr(spark, sf_dir):
    df = T.synthesize_transcripts(spark, sf_dir)
    return pipeline.extract_turns(df, emit_spans=False).select(
        'conv_id', 'turn_idx', 'extracted_sexpr')


def _q_turn_filter(spark, sf_dir):
    # F1 page filters, BOTH grammars in one gate (consolidated from
    # turn_filter + turn_filter_list, zero semantics lost). 'range':
    # a BETWEEN predicate applied BEFORE extraction so it pushes into
    # the scan (partition pruning on a real Iceberg table). 'list':
    # the page-list grammar — '3,7-9' parses to [3, 7, 8, 9]
    # (kernel/utils.parse_page_numbers, mirroring reference
    # lib/utils.py:35-53) and drives an isin filter pushed as
    # In(turn_idx, ...); the oracle hardcodes the expanded list, so
    # the grammar itself is what the hash-compare pins.
    from ocrodjvu_spark.kernel.utils import parse_page_numbers
    df = T.synthesize_transcripts(spark, sf_dir)

    def ex(filtered, kind):
        return pipeline.extract_turns(
            filtered, emit_spans=False, emit_sexpr=False).select(
            F.lit(kind).alias('filter_kind'),
            'conv_id', 'turn_idx', 'extracted_text')

    ranged = df.where((F.col('turn_idx') >= 2) & (F.col('turn_idx') <= 5))
    listed = df.where(F.col('turn_idx').isin(parse_page_numbers('3,7-9')))
    return ex(ranged, 'range').unionByName(ex(listed, 'list'))


# deterministic invalid-UTF-8 payloads spliced into an extra word span:
# even-turn_idx rows get two bare invalid bytes (2 x U+FFFD), others a
# truncated 3-byte sequence (ONE U+FFFD — Python's 'replace' handler
# substitutes maximal subparts, not per byte); both get a control byte
# 0x01 (sanitized to U+FFFD even though it decodes fine)
_FIX_UTF8_JUNK_A = b'\xff\xfe'
_FIX_UTF8_JUNK_B = b'\xe2\x82'


def _q_extract_fix_utf8(spark, sf_dir):
    # S2 sanitizer through the gate: parquet strings are always valid
    # UTF-8, so the invalid bytes are spliced in BINARY — markup bytes
    # with a junk word appended — and the whole extraction pipeline runs
    # over the bytes column with fix_utf8=True (reference
    # lib/utils.py:83-114 replacement semantics).
    df = T.synthesize_transcripts(spark, sf_dir)
    suffix_len = len(T._HOCR_SUFFIX)
    head = F.expr(f'substring(text, 1, length(text) - {suffix_len})')
    junk = F.when(F.col('turn_idx') % 2 == 0,
                  F.lit(_FIX_UTF8_JUNK_A)).otherwise(
                  F.lit(_FIX_UTF8_JUNK_B))
    payload = F.concat(
        F.encode(head, 'UTF-8'),
        F.lit(b'<span class="ocr_word" title="bbox 5 10 9 60">ab'),
        junk,
        F.lit(b'\x01cd</span>'),
        F.encode(F.lit(T._HOCR_SUFFIX), 'UTF-8'),
    )
    df = df.select('conv_id', 'turn_idx', payload.alias('text'))
    return pipeline.extract_turns(
        df, fix_utf8=True, emit_spans=False, emit_sexpr=False).select(
        'conv_id', 'turn_idx', 'extracted_text')


def _q_extract_roundtrip(spark, sf_dir):
    # text-layer round trip: extract -> emit hOCR (djvu2hocr semantics)
    # -> extract again; fixed point means the oracle is the same as
    # extract_text
    df = T.synthesize_transcripts(spark, sf_dir)
    extracted = pipeline.extract_turns(df)
    return pipeline.roundtrip_turns(extracted).select(
        'conv_id', 'turn_idx', 'extracted_text')


def _q_extract_details(spark, sf_dir):
    # details=lines AND details=chars in one gate (consolidated from
    # extract_lines + extract_chars, zero semantics lost): 'lines' =
    # line zones keep their text leaf, no word split; 'chars' = word
    # zones carry per-char children with the reference's
    # x0 + w*i//n integer proportional split (T5).
    df = T.synthesize_transcripts(spark, sf_dir)

    def part(detail):
        return pipeline.extract_turns(
            df, details=detail, emit_spans=False).select(
            F.lit(detail).alias('detail'),
            'conv_id', 'turn_idx', 'extracted_sexpr')

    return part('lines').unionByName(part('chars'))


def _q_extract_uax29(spark, sf_dir):
    # UAX#29 word segmentation (pure-Python engine; on this corpus the
    # token boundaries coincide with simple segmentation)
    df = T.synthesize_transcripts(spark, sf_dir)
    return pipeline.extract_turns(
        df, uax29=True, emit_spans=False, emit_sexpr=False).select(
        'conv_id', 'turn_idx', 'extracted_text')


def _q_extract_rotated(spark, sf_dir):
    # T6 rotation, ALL k branches in one gate (consolidated from the
    # r5 extract_rotated180/90/270 gates, zero semantics lost): 180 is
    # the even-k flip; 90/270 are the two dims-swapped odd-k branches
    # (reference lib/text_zones.py:162-165; validated by
    # lib/cli/hocr2djvused.py:52-53). One sub-frame per rotation with a
    # literal discriminator, so the oracle pins each geometry
    # independently — the grid layout keeps every transformed bbox
    # exact integer arithmetic.
    df = T.synthesize_transcripts(spark, sf_dir)
    parts = []
    for k in (90, 180, 270):
        extracted = pipeline.extract_turns(
            df, rotation=k, emit_spans='packed', emit_sexpr=False)
        parts.append(pipeline.word_spans(extracted).select(
            F.lit(k).alias('rotation'),
            'conv_id', 'turn_idx', 'word_idx', 'word',
            'x0', 'y0', 'x1', 'y1'))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_streaming_extraction(spark, sf_dir):
    # the Structured Streaming face of the extraction pipeline: drain
    # the whole backlog (availableNow) through the IDENTICAL extraction
    # UDF into a file sink, then compare against the batch SQL oracle —
    # streaming and batch must agree row-for-row
    from ocrodjvu_spark.streaming import extract_stream as ST
    base = _gate_tempdir('ocrodjvu-spark-stream-gate-')
    import os
    src = os.path.join(base, 'src')
    out = os.path.join(base, 'out')
    ckpt = os.path.join(base, 'ckpt')
    T.synthesize_transcripts(spark, sf_dir).write.parquet(src)
    stream = ST.read_transcripts_stream(spark, src)
    extracted = pipeline.extract_turns(
        stream, emit_spans=False, emit_sexpr=False).select(
        'conv_id', 'turn_idx', 'extracted_text')
    ST.run_to_parquet(extracted, out, ckpt).awaitTermination()
    return spark.read.parquet(out)


def _q_streaming_dedup(spark, sf_dir):
    # streaming exact dedup (dropDuplicatesWithinWatermark on the text
    # hash): the source carries every turn plus an exact-duplicate copy
    # of every 7th one; exactly one row per distinct text must survive.
    # The duplicate rows are FULL copies (identical in every output
    # column), so the expected output is independent of which arrival
    # wins — the gate stays deterministic even if the source file ever
    # splits into multiple tasks. First-arrival-wins ordering itself is
    # pinned by the cross-micro-batch unit test with controlled file
    # mtimes (tests/test_multimodal_streaming.py).
    from ocrodjvu_spark.streaming import extract_stream as ST
    import os
    base = _gate_tempdir('ocrodjvu-spark-streamdedup-')
    src = os.path.join(base, 'src')
    out = os.path.join(base, 'out')
    ckpt = os.path.join(base, 'ckpt')
    docs = T.load_table(spark, sf_dir, 'documents')
    conv_id, turn_idx, role, ts = T.turn_key_exprs()
    turns = docs.select(
        conv_id.alias('conv_id'),
        turn_idx.alias('turn_idx'),
        role.alias('role'),
        F.col('text'),
        F.lit(None).cast('string').alias('tool'),
        ts.alias('ts'),
        F.col('doc_id'))
    dups = turns.where(F.col('doc_id') % 7 == 0)
    (turns.unionAll(dups)
     .coalesce(1).sortWithinPartitions('doc_id')
     .drop('doc_id')
     .write.parquet(src))
    stream = ST.read_transcripts_stream(spark, src)
    deduped = ST.dedup_stream(stream).select(
        'text_hash', 'conv_id', 'turn_idx', 'role')
    ST.run_to_parquet(deduped, out, ckpt).awaitTermination()
    return spark.read.parquet(out)


def _q_streaming_ingest(spark, sf_dir):
    # streaming incremental ingestion (foreachBatch + durable seen-keys
    # registry on the snapshot store): batch 1 = the whole corpus,
    # batch 2 = full-copy re-deliveries of every 7th/11th row, registry
    # pre-seeded with every 5th doc's hash ("previously ingested").
    # Batch 2's duplicates must be dropped BY THE REGISTRY (cross-batch
    # durable state), not in-memory stream state; final corpus = one
    # min-doc_id row per content hash not in the seed. Tagged commits
    # make replays idempotent (tested in test_snapstore).
    import os
    import shutil
    import time

    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    from ocrodjvu_spark.streaming import ingest as IG
    base = _gate_tempdir('ocrodjvu-spark-ingest-')
    src = os.path.join(base, 'src')
    os.makedirs(src)
    docs = T.load_table(spark, sf_dir, 'documents')
    conv_id, turn_idx, role, ts = T.turn_key_exprs()
    turns = docs.select(
        F.col('doc_id'), conv_id.alias('conv_id'),
        turn_idx.alias('turn_idx'), role.alias('role'),
        F.col('text'), ts.alias('ts'))
    redeliveries = turns.where(
        (F.col('doc_id') % 7 == 0) | (F.col('doc_id') % 11 == 0))
    now = time.time()
    for i, (name, df_part) in enumerate(
            (('b1', turns), ('b2', redeliveries))):
        tmp = os.path.join(base, f'tmp_{name}')
        (df_part.coalesce(1).sortWithinPartitions('doc_id')
         .write.parquet(tmp))
        part = [f for f in os.listdir(tmp)
                if f.endswith('.parquet')][0]
        dst = os.path.join(src, f'{name}.parquet')
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))  # b1 triggers first
    registry_root = os.path.join(base, 'registry')
    IG.seed_registry(
        spark, registry_root,
        docs.where(F.col('doc_id') % 5 == 0)
            .select(F.md5(textops.norm_text())
                    .alias(IG.KEY_COL)))
    stream = (spark.readStream
              .schema('doc_id bigint, conv_id string, turn_idx int, '
                      'role string, text string, ts timestamp')
              .option('maxFilesPerTrigger', 1)
              .parquet(src))
    corpus_root = os.path.join(base, 'corpus')
    IG.run_incremental_ingest(
        stream, corpus_root, registry_root,
        os.path.join(base, 'ckpt')).awaitTermination()
    corpus = SnapshotTable(corpus_root)
    if corpus.find_tag('ingest-1-corpus') is None:
        raise AssertionError('second micro-batch never committed — '
                             'the cross-batch registry path was not '
                             'exercised')
    return corpus.read(spark).select('conv_id', 'turn_idx', 'text')


def _gate_tempdir(prefix: str) -> str:
    """mkdtemp + exit-time removal (gate runs must not accumulate a
    corpus copy per invocation under /tmp)."""
    import atexit
    import shutil
    import tempfile
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_STATEFUL_GATE_SEQ = [0]


def _q_stateful_conversation_state(spark, sf_dir):
    # custom stateful streaming operator (applyInPandasWithState):
    # running per-conversation state accumulated across SEVERAL
    # micro-batches (8 input files, 2 per trigger), drained with
    # availableNow into an update-mode memory sink. Every state field is
    # monotone, so the final state per conversation is the max over the
    # emitted updates — and equals the plain batch aggregate the SQL
    # oracle computes.
    import os

    from ocrodjvu_spark.streaming import extract_stream as ST
    from ocrodjvu_spark.streaming.stateful import running_conversation_state
    base = _gate_tempdir('ocrodjvu-spark-stateful-gate-')
    src = os.path.join(base, 'src')
    T.synthesize_transcripts(spark, sf_dir).repartition(8) \
        .write.parquet(src)
    stream = ST.read_transcripts_stream(spark, src, max_files_per_trigger=2)
    extracted = pipeline.extract_turns(stream, emit_spans=False,
                                       emit_sexpr=False)
    state = running_conversation_state(extracted)
    _STATEFUL_GATE_SEQ[0] += 1
    name = f'stateful_gate_{os.getpid()}_{_STATEFUL_GATE_SEQ[0]}'
    (state.writeStream.format('memory').queryName(name)
     .outputMode('update').trigger(availableNow=True)
     .start().awaitTermination())
    final = spark.table(name).groupBy('conv_id').agg(
        F.max('n_pages').alias('n_pages'),
        F.max('n_chars').alias('n_chars'),
        F.max('max_turn_idx').alias('max_turn_idx'),
    ).localCheckpoint()  # detach from the sink view so it can be dropped
    spark.catalog.dropTempView(name)
    return final


def _q_multimodal_features(spark, sf_dir):
    # binary multimodal pipeline end-to-end: real netpbm/BMP/TIFF image
    # payloads, real 8-bit-PCM WAV audio AND real uncompressed-AVI
    # video payloads -> mapInArrow decode (stdlib codecs,
    # kernel/{image,audio,video}_codecs.py) with exact geometry /
    # sample counts / integer sample sums / duration; compressed
    # codecs remain out of scope (no codec library in this container;
    # undecodable payloads stub-route with decoder='stub'). checksum
    # (md5 of raw payload bytes) is pinned by unit tests instead —
    # DuckDB cannot rebuild the binary payload to hash it.
    from ocrodjvu_spark.functions import multimodal as MM
    media = MM.synthesize_media(spark, sf_dir)
    return MM.extract_features(media).drop('checksum')


def _q_multimodal_resize(spark, sf_dir):
    # real nearest-neighbor downscale of the raw-PNM images (floor
    # source mapping, exactly reproducible in integer SQL), then decode
    # the resized payloads: geometry + pixel sums prove the resample
    from ocrodjvu_spark.functions import multimodal as MM
    media = MM.synthesize_media(spark, sf_dir)
    resized = MM.resize_images(media)
    return (MM.extract_features(resized)
            .where(F.col('kind') == 'image')
            .drop('checksum', 'sample_rate', 'duration_ms'))


def _q_multimodal_frames(spark, sf_dir):
    # real AVI frame extraction through the gate: every 2nd decoded
    # frame's index, size and exact byte sum vs the generative closed
    # form (byte i of frame f = (i + f + doc_id) % 256). frame_byte_sum
    # is an Arrow-batched measurement UDF over the operator's real
    # binary output — DuckDB cannot rebuild the binary to hash it, but
    # it CAN recompute the sum.
    from ocrodjvu_spark.functions import multimodal as MM
    media = MM.synthesize_media(spark, sf_dir)
    frames = MM.sample_frames(media)
    return frames.select(
        'media_id',
        F.col('frame_idx').cast('int').alias('frame_idx'),
        F.length('frame').cast('int').alias('frame_len'),
        MM.frame_byte_sum(F.col('frame')).alias('frame_sum'))


def _q_events_window_agg(spark, sf_dir):
    # tumbling-window aggregation over the events stream table (batch
    # face of the streaming metrics operator)
    events = T.load_table(spark, sf_dir, 'events')
    return (
        events
        .groupBy(F.window('ts', '1 hour').alias('w'),
                 F.col('event_type'))
        .agg(F.count('*').alias('n_events'),
             F.round(F.avg('value'), 6).alias('avg_value'))
        .select(F.col('w.start').alias('window_start'), 'event_type',
                'n_events', 'avg_value')
    )


def _q_embedding_neardup_pairs(spark, sf_dir):
    # embedding-cosine near-duplicate pairs (threshold) via banded
    # sign-LSH candidates + exact cosine verify — a bucket equi-join, no
    # cross join / full-corpus broadcast. The oracle is the brute-force
    # all-pairs SQL; recall at the 16x2 banding is exact on this corpus
    # (deterministic planes — see similarity.neardup_pairs docstring).
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.neardup_pairs(emb, threshold=0.4)


def _q_embedding_neardup_auto(spark, sf_dir):
    # the formula-sized banding path: auto_banding(0.45, 1e-5) resolves
    # to 60 bands of 4 planes (per-pair miss <= 1e-5 by the
    # OR-amplification formula; 0.45 because this corpus's max pairwise
    # cosine is ~0.54 — a 0.9 gate would be vacuously 0-row); the oracle
    # is still brute-force all-pairs, so the hash compare verifies the
    # computed banding's recall on this corpus exhaustively
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.neardup_pairs(
        emb, threshold=0.45, n_bands='auto', target_miss=1e-5)


def _extract_docs(df, words=False, **extract_kwargs):
    """Extract a doc_id-keyed frame as one-turn conversations
    (``pipeline.extract_turns``; ``pipeline.word_spans`` of it when
    ``words``), keyed by doc_id again."""
    turns = df.select(F.col('doc_id').alias('conv_id'),
                      F.lit(0).alias('turn_idx'), 'text')
    out = pipeline.extract_turns(turns, **extract_kwargs)
    if words:
        out = pipeline.word_spans(out)
    return out.withColumnRenamed('conv_id', 'doc_id')


def _q_extract_cuneiform(spark, sf_dir):
    # E2/T3/T4, BOTH cuneiform dialects in one gate (consolidated from
    # extract_cuneiform08 + extract_cuneiform09, zero semantics lost;
    # the dialect column already discriminates the sub-frames):
    # <= 0.8 = bare body/p/span markup, page box from the external
    # page_size, char spans regrouped into words; >= 0.9 ("openocr") =
    # ocr_cinfo x_bboxes stash, whitespace (-1,-1,-1,-1) sentinels,
    # bare-<p> paragraph fallback.
    c08 = _extract_docs(
        ES.synthesize_cuneiform08(spark, sf_dir),
        page_size=(ES.GRID_PAGE_W, ES.GRID_PAGE_H), emit_spans=False)
    c09 = _extract_docs(
        ES.synthesize_cuneiform09(spark, sf_dir), emit_spans=False)
    return c08.unionByName(c09).select(
        'doc_id', 'dialect', 'extracted_sexpr')


def _q_extract_tesseract_makebox(spark, sf_dir):
    # E1/J1/T7: tesseract dialect with the makebox charbox script —
    # details=chars activates the stateful charbox zip + y-flip
    df = ES.synthesize_tesseract_makebox(spark, sf_dir)
    return _extract_docs(df, details='chars', emit_spans=False).select(
        'doc_id', 'dialect', 'extracted_sexpr')


def _q_extract_ocropus_surplus(spark, sf_dir):
    # E5/T3: generic-hOCR (ocropus-style) line whose bboxes list carries
    # one spare box — the non-Cuneiform surplus rule must drop it
    df = ES.synthesize_ocropus_surplus(spark, sf_dir)
    return _extract_docs(df, emit_spans=False).select(
        'doc_id', 'dialect', 'extracted_sexpr')


# tokens whose UAX#29 segmentation differs from simple space-splitting
# (reference semantics: lib/unicode_support.py:40-52; ICU offsets pinned
# in the reference's tests/test_unicode_support.py)
UAX29_SUFFIX = ' rabbit-hole u.s. 3.14 over-the-top'
UAX29_SUFFIX_SEGMENTED = ' rabbit - hole u.s . 3.14 over - the - top'

# CLDR-root colon tailoring (W2 locale hook): ICU's en-US-POSIX drops
# COLON from MidLetter, so 's:t' splits — the untailored UCD rules
# (where colon IS MidLetter per WordBreakProperty.txt) would keep 's:t'
# whole and hash-mismatch this gate
UAX29_COLON_SUFFIX = ' s:t c:a'
UAX29_COLON_SEGMENTED = ' s : t c : a'

# W2 dictionary segmentation (Thai locale hook): space-less Thai runs
# segment by a least-cost (Viterbi) path over the embedded lexicon
# (kernel/segment.py:_THAI_LEXICON) — ICU's actual algorithm shape
# (lib/unicode_support.py:40-52 delegates to ICU's dictionary break
# engine). The 'ฒฒ' pair matches no entry and must merge into ONE
# unmatched chunk (ICU-shaped unknown-run rule), and 'มากิน' ("come
# eat") pins least-cost vs greedy: greedy longest-match would take
# มาก ("much") and strand the unmatchable tail ิน; the least-cost path
# picks มา|กิน (two dictionary words beat one word + two penalized
# unknown characters). 'ตากลม' pins FREQUENCY-weighted costs (round 6,
# matching ICU's weighted thaidict): both 2-word tilings are fully
# lexical — ตา|กลม ("round eyes") vs ตาก|ลม ("expose to wind") — so a
# uniform word cost ties (and longer-first would take ตาก); the tier
# costs (ตา 3 + กลม 4 < ตาก 5 + ลม 3) pick the common reading.
UAX29_THAI_SUFFIX = (' สวัสดีครับ ภาษาไทยดีมาก ผมรักฒฒประเทศไทย มากิน'
                     ' ตากลม')
UAX29_THAI_SEGMENTED = (' สวัสดี ครับ ภาษา ไทย ดี มาก'
                        ' ผม รัก ฒฒ ประเทศ ไทย มา กิน ตา กลม')

# W2 CJK divergence pin: the reference's ICU applies CJ dictionary
# segmentation to Han/Hiragana; this engine intentionally keeps the
# UAX #29 root behavior (one word per ideograph, Katakana runs joined
# by WB13) — a DOCUMENTED divergence (SURVEY §2 W2 note), recorded here
# so it can never drift silently
UAX29_CJK_SUFFIX = ' 漢字カタカナかな 日本語テスト'
UAX29_CJK_SEGMENTED = ' 漢 字 カタカナ か な 日 本 語 テスト'

# W2 CJK dictionary OPT-IN ('zh_dict' locale variant): Han runs engage
# the same least-cost engine over the embedded CJK lexicon — 我们 / 中国
# / 学习 / 汉语 / 日本語 are dictionary words, the lone 在 merges into a
# one-char unknown chunk, and Katakana テスト still joins via root WB13.
# The DEFAULT CJK path stays root rules (extract_uax29_cjk, unchanged).
UAX29_CJK_DICT_SUFFIX = ' 我们在中国学习汉语 日本語テスト'
UAX29_CJK_DICT_SEGMENTED = ' 我们 在 中国 学习 汉语 日本語 テスト'


def _uax29_text(spark, sf_dir, suffix, uax29):
    """(doc_id, extracted_text) of the documents with ``suffix`` appended,
    segmented under the ``uax29`` locale."""
    docs = T.load_table(spark, sf_dir, 'documents')
    suffixed = docs.select(
        'doc_id',
        T.hocr_markup_col(T.tokens_col(F.concat('text', F.lit(suffix))))
         .alias('text'))
    return _extract_docs(suffixed, uax29=uax29, emit_spans=False,
                         emit_sexpr=False).select('doc_id', 'extracted_text')


def _q_extract_uax29_tailoring(spark, sf_dir):
    # W2 UAX#29 distinguishing checks, BOTH suffixes in one gate
    # (consolidated from extract_uax29_segmentation +
    # extract_uax29_colon, zero semantics lost). 'base':
    # hyphens/abbreviation dots split under UAX#29 but not under
    # simple segmentation, so this oracle CANNOT be satisfied by the
    # simple path (unlike extract_uax29, where the corpus boundaries
    # coincide). 'colon': CLDR-locale tailoring (see
    # UAX29_COLON_SUFFIX).
    def part(kind, suffix):
        return _uax29_text(spark, sf_dir, suffix, True).select(
            F.lit(kind).alias('tailoring'), '*')

    return part('base', UAX29_SUFFIX).unionByName(
        part('colon', UAX29_COLON_SUFFIX))


def _q_extract_uax29_thai(spark, sf_dir):
    # W2 Thai dictionary segmentation through the full pipeline
    # (uax29='th' locale reaches kernel/segment.py's lexicon hook)
    return _uax29_text(spark, sf_dir, UAX29_THAI_SUFFIX, 'th')


def _q_extract_uax29_cjk(spark, sf_dir):
    # W2 CJK divergence pin (root rules; see UAX29_CJK_SUFFIX comment)
    return _uax29_text(spark, sf_dir, UAX29_CJK_SUFFIX, True)


def _q_extract_uax29_cjk_dict(spark, sf_dir):
    # W2 CJK dictionary opt-in through the full pipeline (uax29=
    # 'zh_dict' reaches the least-cost engine over the CJK lexicon);
    # the default path stays pinned by extract_uax29_cjk
    return _uax29_text(spark, sf_dir, UAX29_CJK_DICT_SUFFIX, 'zh_dict')


def _q_extract_orf_gocr(spark, sf_dir):
    # E3 + E4 in one gate (consolidated from extract_orf +
    # extract_gocr, zero semantics lost): the ocrad ORF and gocr XML
    # adapters end-to-end over synthesized payloads, each sub-frame
    # tagged with its engine so the oracle pins both adapters.
    def engine_words(engine, df):
        return _extract_docs(
            df, words=True, engine=engine, page_size=(ES.PAGE_W, ES.PAGE_H),
            emit_spans='packed', emit_sexpr=False,
        ).select(F.lit(engine).alias('engine'), 'doc_id', 'word_idx',
                 'word', 'x0', 'y0', 'x1', 'y1')

    return engine_words('ocrad', ES.synthesize_orf(spark, sf_dir)) \
        .unionByName(engine_words('gocr', ES.synthesize_gocr(spark, sf_dir)))


def _q_djvused_script(spark, sf_dir):
    # S7 sink: the literal djvused script block per turn
    # (select N / remove-txt / set-txt / <sexpr> / .)
    df = T.synthesize_transcripts(spark, sf_dir)
    extracted = pipeline.extract_turns(df, emit_spans=False)
    return extracted.select(
        'conv_id', 'turn_idx',
        F.concat(
            F.lit('select '), F.col('turn_idx').cast('string'),
            F.lit('\nremove-txt\nset-txt\n'),
            F.col('extracted_sexpr'), F.lit('\n.\n'),
        ).alias('djvused_script'))


def _q_error_channel(spark, sf_dir):
    # on-error resume: rows with doc_id % 31 == 0 get their page bbox
    # stripped (a MalformedHocr in the reference); the pipeline keeps
    # them with a typed error instead of aborting
    root = F.floor(F.sqrt(F.col('doc_id'))).cast('long')
    broken = F.col('doc_id') % 31 == 0
    df = (T.load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
          .withColumn('text2', F.when(
              broken,
              F.lit('<html><head><meta name="ocr-capabilities" '
                    'content="x"/></head><body>'
                    '<div class="ocr_page">no bbox</div></body></html>'))
           .otherwise(T.hocr_markup_col(T.tokens_col('text')))))
    transcripts = df.select(
        F.concat(F.lit('conv-'), root.cast('string')).alias('conv_id'),
        (F.col('doc_id') - root * root + 1).cast('int').alias('turn_idx'),
        F.col('text2').alias('text'))
    extracted = pipeline.extract_turns(
        transcripts, keep_columns=(), emit_spans=False, emit_sexpr=False)
    return extracted.select(
        'conv_id', 'turn_idx',
        F.col('error').isNotNull().alias('failed'),
        F.coalesce('extracted_text', F.lit('')).alias('extracted_text'))


def _q_turns_per_conv(spark, sf_dir):
    # A4 per-document page count
    df = T.synthesize_transcripts(spark, sf_dir)
    return df.groupBy('conv_id').agg(
        F.count('*').alias('n_turns'),
        F.max('turn_idx').alias('max_turn_idx'),
    )


def _q_conversation_reassembly(spark, sf_dir):
    # W3 stable (conv_id, turn_idx) ordering -> per-conversation document
    df = T.synthesize_transcripts(spark, sf_dir)
    extracted = pipeline.extract_turns(df, emit_spans=False,
                                       emit_sexpr=False)
    return pipeline.reassemble_conversations(extracted).select(
        'conv_id', 'conversation_text', 'n_turns')


def _q_extraction_metrics(spark, sf_dir):
    # sidecar metrics rollup (lineage/metrics table content); the
    # metrics read spans/text/error but never the sexpr — elide it at
    # the UDF (same output, less Arrow transfer)
    df = T.synthesize_transcripts(spark, sf_dir)
    extracted = pipeline.extract_turns(df, emit_sexpr=False)
    return pipeline.extraction_metrics(extracted).select(
        'conv_id', 'n_turns', 'n_errors', 'n_spans', 'n_chars')


def _q_dedup_conversations(spark, sf_dir):
    # full-pipeline composition: extract -> stable reassembly -> exact
    # conversation-level dedup (what a 10^12-turn corpus actually runs)
    df = T.synthesize_transcripts(spark, sf_dir)
    extracted = pipeline.extract_turns(df, emit_spans=False,
                                       emit_sexpr=False)
    convs = pipeline.reassemble_conversations(extracted)
    return convs.groupBy(
        F.md5('conversation_text').alias('conv_hash')).agg(
        F.min('conv_id').alias('rep_conv_id'),
        F.count('*').alias('n_dupes'),
    )


def _q_corpus_split(spark, sf_dir):
    # deterministic corpus partitioning, BOTH flavors in one gate
    # (consolidated from corpus_split + stratified_sample, zero
    # semantics lost). part='split': hash-based train/eval split,
    # stable across runs and engines (rolling text hash mod 100) —
    # the standard leakage-free way to partition a training corpus, no
    # sampling RNG, no driver state. part='sample': deterministic
    # per-language downsampling (data-mix resampling) — salted rolling
    # hash mod 10000 vs per-stratum integer thresholds, reproducible
    # across runs/engines/partitionings, map-only.
    docs = T.load_table(spark, sf_dir, 'documents')
    bucket = textops.rolling_hash(
        F.regexp_replace(F.trim('text'), r'\s+', ' ')) % 100
    split = docs.select(
        F.lit('split').alias('part'),
        'doc_id',
        bucket.cast('int').alias('split_bucket'),
        F.when(bucket < 80, F.lit('train'))
         .when(bucket < 90, F.lit('validation'))
         .otherwise(F.lit('test')).alias('split'),
        F.lit(None).cast('string').alias('stratum'),
        F.lit(None).cast('int').alias('sample_bucket'))
    sample = textops.stratified_sample(
        docs, _SAMPLE_RATES, default_rate=0.5).select(
        F.lit('sample').alias('part'), 'doc_id',
        F.lit(None).cast('int').alias('split_bucket'),
        F.lit(None).cast('string').alias('split'),
        'stratum', 'sample_bucket')
    return split.unionByName(sample)


# sampling-rate targets for the stratified_sample gate: downsample the
# dominant language, keep a minority language whole, exclude one, and
# let the rest take the default — all four code paths produce rows
_SAMPLE_RATES = {'en': 0.25, 'zh': 1.0, 'de': 0.0}


def _q_length_quantiles(spark, sf_dir):
    # per-language length distribution (data-card table): exact
    # interpolating percentiles vs DuckDB quantile_cont; approx=True is
    # the bounded-memory sketch path at scale (documented, not gated)
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.length_quantiles(docs)


def _q_sampled_quantiles(spark, sf_dir):
    # deterministic hash-sampled quantiles: the scale path that STAYS
    # oracle-exact — the portable rolling hash draws the identical
    # sample in both engines (no RNG), the sample is mergeable across
    # snapshots/partitions (sample of union == union of samples), and
    # the exact interpolating percentile buffers only ~1/rate of each
    # stratum. Completes the portable sketch family (membership /
    # cardinality / frequency / quantiles).
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.sampled_quantiles(docs)


def _q_dedup_apply(spark, sf_dir):
    # the 'apply' face of exact dedup: keep the min-doc_id representative
    # per normalized-text hash as a min AGGREGATION + equi-join back —
    # NOT a row_number window on the hash, which would ship every
    # duplicate of a boilerplate key through one task with no partial
    # aggregation. groupBy(hash).agg(min(doc_id)) collapses the hot key
    # map-side; the join back (1 row per hash on the build side) is
    # AQE-skew-splittable. The raw corpus has no exact dups, so every
    # 10th doc gets identical boilerplate; those 50 rows must collapse
    # to the single doc_id=7 representative
    docs = T.load_table(spark, sf_dir, 'documents')
    text2 = (F.when(F.col('doc_id') % 10 == 7,
                    F.lit('shared boilerplate footer text'))
             .otherwise(F.col('text')))
    docs = docs.select('doc_id', 'lang', text2.alias('text'))
    h = F.md5(textops.norm_text())
    hashed = docs.select('doc_id', 'lang', h.alias('content_hash'))
    firsts = (hashed.groupBy('content_hash')
              .agg(F.min('doc_id').alias('doc_id')))
    return (hashed.join(firsts, ['content_hash', 'doc_id'])
            .select('doc_id', 'lang', 'content_hash'))


def _q_quality_repetition(spark, sf_dir):
    # Gopher-style repetition signals; every 11th doc gets a repeated
    # spam phrase so top_bigram_frac separates spammy from clean rows
    docs = T.load_table(spark, sf_dir, 'documents')
    spam = F.concat(F.col('text'),
                    F.lit(' click here click here click here'))
    docs = docs.select(
        'doc_id',
        F.when(F.col('doc_id') % 11 == 0, spam)
         .otherwise(F.col('text')).alias('text'))
    return textops.repetition_stats(docs)


def _q_gopher_quality(spark, sf_dir):
    # Gopher-rule document filter (Rae et al. 2021). Deterministic spam
    # injections make every rule fire on some rows: every 7th doc gets
    # '#'/ellipsis symbol spam (symbol-ratio rule), every 13th a run of
    # bare digits (alpha-word-frac rule); short docs trip min_words
    docs = T.load_table(spark, sf_dir, 'documents')
    symbols = F.concat(F.col('text'), F.lit(' ## ### #### ... ...'))
    digits = F.concat(F.col('text'),
                      F.lit(' 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4'))
    docs = docs.select(
        'doc_id',
        F.when(F.col('doc_id') % 7 == 0, symbols)
         .when(F.col('doc_id') % 13 == 0, digits)
         .otherwise(F.col('text')).alias('text'))
    return textops.gopher_rules(docs)


def _q_c4_quality(spark, sf_dir):
    # C4 line-level cleaning (Raffel et al. 2020). The corpus has no
    # newlines, so deterministic lines are appended to exercise every
    # rule: two always-kept lines, one too-short line, and a doc_id-keyed
    # fifth line that trips the brace rule (%4==0), the lorem-ipsum rule
    # (%4==1), or survives as the third kept line (else). NULL-strict
    # concat (not concat_ws) keeps parity with SQL ||.
    docs = T.load_table(spark, sf_dir, 'documents')
    line_e = (
        F.when(F.col('doc_id') % 4 == 0, F.lit('stray { brace'))
        .when(F.col('doc_id') % 4 == 1, F.lit('lorem ipsum dolor sit amet.'))
        .otherwise(F.lit('the third injected line rounds out the document.')))
    text2 = F.concat(
        textops.norm_text(), F.lit('\n'),
        F.lit('the first injected line has enough words.\n'
              'tiny.\n'
              'the second injected line also has enough words.\n'),
        line_e)
    return textops.c4_rules(docs.select('doc_id', text2.alias('text')))


def _q_split_contamination(spark, sf_dir):
    # train/test n-gram leakage over the SAME deterministic split the
    # corpus_split query produces; min_common=2 prunes one-off shingle
    # collisions
    docs = T.load_table(spark, sf_dir, 'documents')
    bucket = textops.rolling_hash(
        F.regexp_replace(F.trim('text'), r'\s+', ' ')) % 100
    with_split = docs.select('doc_id', 'text', bucket.alias('b'))
    train = with_split.where(F.col('b') < 80)
    test = with_split.where(F.col('b') >= 90)
    return textops.contamination_pairs(train, test, min_common=2)


# gate targets: upweight src0, downweight src1, exclude src2 (weight-0
# path); the rest share the remainder uniformly
_MIX_TARGETS = {'src0': 0.2, 'src1': 0.01}
_MIX_TARGETS.update({f'src{i}': 0.79 / 17 for i in range(3, 20)})


def _q_domain_mix(spark, sf_dir):
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.domain_mix_weights(docs, _MIX_TARGETS)


def _q_doc_chunks(spark, sf_dir):
    # sliding-window chunking, 64-token windows with stride 48 (25%
    # overlap): the pretraining/RAG document-splitting step
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.chunk_documents(docs)


def _q_snapshot_mview_cdc(spark, sf_dir):
    # CDC-driven incremental MV over a MUTATING source: two refreshes
    # bracket a history of append / equality-delete / append /
    # position-delete commits; inserts and the window's delete keys
    # commit in ONE atomic claim (cursor tag rides it), so a replay is
    # a no-op — asserted in-gate. The final view must equal the transform of the
    # source's final visible state, which the oracle reconstructs
    # set-algebraically.
    import os
    from ocrodjvu_spark.plans.snapstore import (SnapshotTable,
                                                refresh_incremental)
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'n_chars')
    base = _gate_tempdir('ocrodjvu-spark-mviewcdc-')
    src = SnapshotTable(os.path.join(base, 'src'))
    mv = SnapshotTable(os.path.join(base, 'mv'))

    def transform(df):
        return df.where(F.col('n_chars') >= 200) \
                 .select('doc_id', 'n_chars')

    src.append(docs)
    src.delete_keys(spark, docs.where(F.col('doc_id') % 9 == 0)
                    .select('doc_id'), ['doc_id'])
    if refresh_incremental(spark, src, mv, transform,
                           ['doc_id']) is None:
        raise AssertionError('first CDC refresh must commit')
    src.append(docs.where(F.col('doc_id') % 13 == 0).select(
        (F.col('doc_id') + F.lit(1000000)).alias('doc_id'), 'n_chars'))
    src.delete_positions(spark, F.col('doc_id') % 7 == 3)
    if refresh_incremental(spark, src, mv, transform,
                           ['doc_id']) is None:
        raise AssertionError('second CDC refresh must commit')
    if refresh_incremental(spark, src, mv, transform,
                           ['doc_id']) is not None:
        raise AssertionError('replayed refresh must be a no-op')
    return mv.read(spark)


def _q_snapshot_changelog(spark, sf_dir):
    # CDC WITH DELETES (Iceberg changelog-scan shape): append corpus
    # (v1), equality-delete every 9th doc (v2), append re-crawled
    # +1e6-id docs for every 13th (v3), position-delete doc_id%7==3
    # (v4 — hits surviving originals AND v3 rows whose shifted id
    # matches). The feed must emit each row change exactly once with
    # its commit version: deletes at v2/v4 are computed against the
    # VISIBLE state of the parent snapshot (earlier pending deletes
    # applied), which the oracle reconstructs set-algebraically.
    import os
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'n_chars')
    t = SnapshotTable(os.path.join(
        _gate_tempdir('ocrodjvu-spark-changelog-'), 't'))
    t.append(docs)
    t.delete_keys(spark, docs.where(F.col('doc_id') % 9 == 0)
                  .select('doc_id'), ['doc_id'])
    t.append(docs.where(F.col('doc_id') % 13 == 0).select(
        (F.col('doc_id') + F.lit(1000000)).alias('doc_id'), 'n_chars'))
    t.delete_positions(spark, F.col('doc_id') % 7 == 3)
    if t.read_changelog(spark, t.current_version()) is not None:
        raise AssertionError('empty changelog window must be None')
    return t.read_changelog(spark, 0).select(
        'doc_id', 'n_chars', '_change_type', '_commit_version')


def _q_winnowing_fingerprints(spark, sf_dir):
    # MOSS-style winnowing (Schleimer et al. 2003): positioned 3-gram
    # hashes, window-4 minimum selection (leftmost tie-break via the
    # hash*2^20+pos composite key) — guarantees a shared fingerprint
    # for any >= 6-token shared substring at ~40% of the hash volume
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.winnowing_fingerprints(docs)


def _q_dedup_substring_spans(spark, sf_dir):
    # Lee et al. 2022-style exact-substring duplicate regions: token
    # spans covered by 5-grams shared by >= 2 documents, merged
    # per-document (gaps-and-islands)
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.duplicated_spans(docs)


def _q_checkpoint_resume(spark, sf_dir):
    # S8 savers + resume driver gate: phase 1 processes only 3 of 8
    # lineage buckets; a simulated crash then loses one completed
    # bucket's output partition AND its lineage rows (as if the job
    # died between the data write and the sidecar append); phase 2
    # resumes from the surviving sidecar. The final table must equal a
    # clean full recompute — the anti-join resume + dynamic-partition
    # overwrite idempotency contract, end-to-end through the driver.
    import os
    import shutil
    from ocrodjvu_spark.plans import checkpoint as CK
    base = _gate_tempdir('ocrodjvu-spark-ckpt-gate-')
    out = os.path.join(base, 'out')
    side = os.path.join(base, 'side')
    side2 = os.path.join(base, 'side2')
    tr = T.synthesize_transcripts(spark, sf_dir)
    done = CK.run_extraction(spark, tr, out, side, n_buckets=8,
                             max_buckets=3, emit_spans=False,
                             emit_sexpr=False)
    lost = done[-1]
    shutil.rmtree(os.path.join(out, f'bucket={lost}'))
    (spark.read.parquet(side).where(F.col(CK.BUCKET_COL) != lost)
     .write.parquet(side2))
    CK.run_extraction(spark, tr, out, side2, n_buckets=8,
                      emit_spans=False, emit_sexpr=False)
    # S9/A5 lineage metrics off the SAME resumed run (consolidated
    # from checkpoint_metrics, zero semantics lost): the post-resume
    # sidecar's per-bucket metric rows must reconcile exactly with the
    # corpus — every bucket marked complete, turn and char totals
    # match, zero errors. (The resume path rebuilds the sidecar at
    # side2 + appends; metrics read the final sidecar.)
    rows = (spark.read.parquet(out)
            .select(F.lit('rows').alias('part'),
                    'conv_id', 'turn_idx', 'extracted_text',
                    F.lit(None).cast('int').alias('n_buckets'),
                    F.lit(None).cast('long').alias('n_turns'),
                    F.lit(None).cast('long').alias('n_errors'),
                    F.lit(None).cast('long').alias('n_chars')))
    metrics = (spark.read.parquet(side2).agg(
        F.count('*').cast('int').alias('n_buckets'),
        F.sum('n_turns').cast('long').alias('n_turns'),
        F.sum('n_errors').cast('long').alias('n_errors'),
        F.sum('n_chars').cast('long').alias('n_chars'))
        .select(F.lit('metrics').alias('part'),
                F.lit(None).cast('string').alias('conv_id'),
                F.lit(None).cast('int').alias('turn_idx'),
                F.lit(None).cast('string').alias('extracted_text'),
                'n_buckets', 'n_turns', 'n_errors', 'n_chars'))
    return rows.unionByName(metrics)


def _q_checkpoint_snapshot(spark, sf_dir):
    # Snapshot-manifest table format (plans/snapstore.py): the same
    # two-phase resume as checkpoint_resume, but committed through the
    # Iceberg-style manifest protocol — and the gate additionally
    # exercises the isolation property the parquet stand-in lacks: a
    # reader pinned at the phase-1 snapshot must still read cleanly
    # AFTER phase 2 re-swaps one of its partitions (old files are
    # immutable until expire_snapshots). Final state must equal a full
    # clean recompute, per-turn.
    import os
    from ocrodjvu_spark import pipeline
    from ocrodjvu_spark.plans import checkpoint as CK
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    base = _gate_tempdir('ocrodjvu-spark-snap-gate-')
    table = SnapshotTable(os.path.join(base, 'table'))
    tr = CK.with_bucket(T.synthesize_transcripts(spark, sf_dir), 8)
    extracted = pipeline.extract_turns(
        tr, keep_columns=(CK.BUCKET_COL,),
        emit_spans=False, emit_sexpr=False)
    phase1 = [0, 1, 2]
    table.replace_partitions(
        extracted.where(F.col(CK.BUCKET_COL).isin(phase1)), CK.BUCKET_COL)
    pinned = table.read(spark)  # file list resolved at snapshot 1
    # phase 2 resumes the rest AND re-swaps bucket 2 (idempotent redo)
    table.replace_partitions(
        extracted.where(~F.col(CK.BUCKET_COL).isin([0, 1])), CK.BUCKET_COL)
    # snapshot isolation: the pinned reader still sees exactly phase 1
    n_pinned = pinned.count()
    n_phase1 = extracted.where(
        F.col(CK.BUCKET_COL).isin(phase1)).count()
    if n_pinned != n_phase1:
        raise AssertionError(
            f'pinned snapshot drifted: {n_pinned} != {n_phase1}')
    return (table.read(spark)
            .select('conv_id', 'turn_idx', 'extracted_text'))


def _q_corpus_takedown(spark, sf_dir):
    # the takedown/right-to-be-forgotten flow on the snapshot store,
    # ALL THREE delete strategies over the same opt-out list (every
    # 9th doc's content hash, so natural duplicates of an opted-out
    # text go too). part='cow': copy-on-write delete_where — files
    # with matching rows rewritten — then expire physically reclaims
    # the pre-delete snapshot. part='mor': MERGE-ON-READ delete_keys
    # (Iceberg v2 equality delete file) — no data file rewritten, the
    # scan anti-joins the keys; compact then MATERIALIZES the pending
    # delete (manifest drops it, asserted in-gate). part='pos':
    # MERGE-ON-READ delete_positions (Iceberg v2 position delete
    # file) — the same predicate committed as (file, row) pairs, read
    # back with the pending delete applied at scan. The same oracle
    # SQL checks all three parts.
    import os
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    base = _gate_tempdir('ocrodjvu-spark-takedown-')
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'text')
    corpus = docs.withColumn(
        'content_hash', F.md5(textops.norm_text()))
    optout_df = (docs.where(F.col('doc_id') % 9 == 0)
                 .select(F.md5(textops.norm_text())
                         .alias('content_hash')).distinct())
    optout = [r.content_hash for r in optout_df.collect()]

    t = SnapshotTable(os.path.join(base, 'corpus'))
    t.append(corpus)
    v_before = t.current_version()
    t.delete_where(spark, F.col('content_hash').isin(optout))
    # pre-delete snapshot retains the rows until expiry (time travel),
    # then expiry reclaims it — both halves asserted
    n_before = t.read(spark, version=v_before).count()
    if n_before != docs.count():
        raise AssertionError('pre-delete snapshot lost rows')
    t.expire_snapshots(keep_last=1)
    if v_before in t.versions():
        raise AssertionError('expiry left the pre-delete snapshot')
    cow = t.read(spark).select(
        F.lit('cow').alias('part'), 'doc_id', 'content_hash')

    m = SnapshotTable(os.path.join(base, 'corpus_mor'))
    m.append(corpus)
    data_paths = sorted(f['path'] for f in m.snapshot()['files'])
    m.delete_keys(spark, optout_df, ['content_hash'])
    after = m.snapshot()
    if sorted(f['path'] for f in after['files']) != data_paths:
        raise AssertionError('merge-on-read delete rewrote data files')
    if not after.get('deletes'):
        raise AssertionError('no pending delete file recorded')
    m.compact(spark, target_partitions=4)
    if m.snapshot().get('deletes'):
        raise AssertionError('compact left pending deletes')
    mor = m.read(spark).select(
        F.lit('mor').alias('part'), 'doc_id', 'content_hash')

    p = SnapshotTable(os.path.join(base, 'corpus_pos'))
    p.append(corpus)
    pos_paths = sorted(f['path'] for f in p.snapshot()['files'])
    p.delete_positions(spark, F.col('content_hash').isin(optout))
    after_p = p.snapshot()
    if sorted(f['path'] for f in after_p['files']) != pos_paths:
        raise AssertionError('position delete rewrote data files')
    dls = after_p.get('deletes') or []
    if not (len(dls) == 1 and dls[0].get('positions')):
        raise AssertionError('no pending position-delete file')
    pos = p.read(spark).select(
        F.lit('pos').alias('part'), 'doc_id', 'content_hash')
    return cow.unionByName(mor).unionByName(pos)


def _q_snapshot_upsert(spark, sf_dir):
    # MERGE INTO on the snapshot store (plans/snapstore.py merge_into):
    # the corpus-refresh upsert a CDC/re-crawl pipeline commits — the
    # source batch re-extracts every 7th doc ('v2 ' prefix, n_chars+3)
    # and inserts brand-new docs (doc_id+1,000,000 for every 11th);
    # unmatched target rows carry forward untouched. One left-anti
    # shuffle join + union, base-validated commit. The pre-merge
    # snapshot must stay readable and intact (time travel) — asserted
    # in-gate.
    import os
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    base = _gate_tempdir('ocrodjvu-spark-upsert-')
    t = SnapshotTable(os.path.join(base, 'corpus'))
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'text', 'n_chars')
    t.append(docs)
    v0 = t.current_version()
    updates = docs.where(F.col('doc_id') % 7 == 0).select(
        'doc_id',
        F.concat(F.lit('v2 '), F.col('text')).alias('text'),
        (F.col('n_chars') + F.lit(3)).alias('n_chars'))
    inserts = docs.where(F.col('doc_id') % 11 == 0).select(
        (F.col('doc_id') + F.lit(1000000)).alias('doc_id'),
        'text', 'n_chars')
    t.merge_into(spark, updates.unionByName(inserts), ['doc_id'])
    if t.read(spark, version=v0).count() != docs.count():
        raise AssertionError('pre-merge snapshot drifted')
    return t.read(spark).select('doc_id', 'text', 'n_chars')


def _q_snapshot_skipping(spark, sf_dir):
    # File-level data skipping on the snapshot store, range-clustered
    # AND z-ordered in one gate (consolidated from snapshot_skipping +
    # snapshot_zorder, zero semantics lost). part='range': per-column
    # min/max stats harvested from each staged file's parquet footer
    # (one footer read at stage time, no extra scan) prune the
    # manifest DRIVER-side before Spark opens a single file —
    # Iceberg's lower_bounds/upper_bounds skipping; the corpus is
    # staged range-clustered on doc_id (8 files, disjoint ranges) and
    # a scan for doc_id in [400, 449] must skip most files (asserted
    # in-gate via file_may_match). part='zorder': Delta's OPTIMIZE
    # ZORDER BY — a second table lands append-ordered (round-robin,
    # every file spans the whole key domain, nothing prunes), then one
    # Morton-clustered rewrite (zorder_expr: quantile rank-buckets,
    # bit interleave, all whole-stage codegen; transient sort key
    # never stored) makes BOTH doc_id and n_chars prunable at once —
    # asserted in-gate per dimension.
    import os
    from ocrodjvu_spark.plans.snapstore import (SnapshotTable,
                                                file_may_match)
    base = _gate_tempdir('ocrodjvu-spark-skip-')
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'lang', 'n_chars')

    t = SnapshotTable(os.path.join(base, 'corpus'))
    t.append(docs.repartitionByRange(8, 'doc_id'))
    filters = [('doc_id', '>=', 400), ('doc_id', '<=', 449)]
    files = t.snapshot()['files']
    kept = [f for f in files if file_may_match(f, filters)]
    if not (0 < len(kept) < len(files)):
        raise AssertionError(
            f'data skipping pruned nothing: {len(kept)}/{len(files)}')
    ranged = (t.read(spark, stats_filters=filters)
              .where((F.col('doc_id') >= 400) & (F.col('doc_id') <= 449))
              .select(F.lit('range').alias('part'), '*'))

    z = SnapshotTable(os.path.join(base, 'zcorpus'))
    z.append(docs.repartition(8))
    z.compact(spark, zorder_by=['doc_id', 'n_chars'],
              target_partitions=8)
    zfiles = z.snapshot()['files']
    for dim in ([('doc_id', '<', 100)], [('n_chars', '<', 150)]):
        zkept = sum(file_may_match(f, dim) for f in zfiles)
        if not zkept < len(zfiles):
            raise AssertionError(
                f'z-order pruned nothing on {dim}: '
                f'{zkept}/{len(zfiles)}')
    zfilters = [('doc_id', '<', 250), ('n_chars', '>=', 300)]
    zordered = (z.read(spark, stats_filters=zfilters)
                .where((F.col('doc_id') < 250)
                       & (F.col('n_chars') >= 300))
                .select(F.lit('zorder').alias('part'), '*'))
    return ranged.unionByName(zordered)


def _q_snapshot_lifecycle(spark, sf_dir):
    # Additive schema evolution + CDC incremental scan over ONE table
    # lifecycle (consolidated from snapshot_evolution +
    # snapshot_changes, zero semantics lost). The corpus starts
    # WITHOUT a lang column (doc_id < 250); later crawl batches append
    # WITH it. part='head': the full read — the committed schema is
    # the additive union, and files written before the column existed
    # read lang as NULL through Spark's name-based parquet resolution,
    # no rewrite of old data (drops/retypes raise, unit-tested;
    # renames need Iceberg field IDs, scoped out in snapstore.py).
    # part='changes': Iceberg's CDC read — a consumer checkpointed at
    # v1 tails ONLY the rows appended afterwards (batches 2+3, the
    # changelog's insert events) off the manifest parent chain, no
    # re-read of the 100-TB base; a rewrite in the window raises
    # (unit-tested).
    import os
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    base = _gate_tempdir('ocrodjvu-spark-lifecycle-')
    t = SnapshotTable(os.path.join(base, 'corpus'))
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'lang', 'n_chars')
    t.append(docs.select('doc_id', 'n_chars')
             .where(F.col('doc_id') < 250))
    v1 = t.current_version()
    t.append(docs.select('doc_id', 'n_chars', 'lang')
             .where((F.col('doc_id') >= 250) & (F.col('doc_id') < 400)))
    t.append(docs.select('doc_id', 'n_chars', 'lang')
             .where(F.col('doc_id') >= 400))
    head = t.read(spark).select(
        F.lit('head').alias('part'), 'doc_id', 'n_chars', 'lang')
    changes = t.read_changelog(spark, v1) \
        .where(F.col('_change_type') == 'insert').select(
            F.lit('changes').alias('part'), 'doc_id', 'n_chars', 'lang')
    return head.unionByName(changes)


def _q_snapshot_mview(spark, sf_dir):
    # Exactly-once incremental materialized view over the snapshot
    # store: the English-corpus view refreshes after each source
    # append by reading ONLY the added rows (read_changelog), and the
    # consumer cursor is the sink's own commit tag — data append and
    # cursor advance are one atomic commit, so the duplicate refresh
    # (a crashed refresher's replay) is a no-op, asserted in-gate.
    import os
    from ocrodjvu_spark.plans.snapstore import (SnapshotTable,
                                                refresh_incremental)
    base = _gate_tempdir('ocrodjvu-spark-mview-')
    src = SnapshotTable(os.path.join(base, 'corpus'))
    mv = SnapshotTable(os.path.join(base, 'corpus_en'))
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'lang', 'n_chars')

    def transform(batch):
        return batch.where(F.col('lang') == 'en') \
            .select('doc_id', 'n_chars')

    src.append(docs.where(F.col('doc_id') < 250))
    refresh_incremental(spark, src, mv, transform, ['doc_id'],
                        name='en_view')
    src.append(docs.where(F.col('doc_id') >= 250))
    v = refresh_incremental(spark, src, mv, transform, ['doc_id'],
                            name='en_view')
    replay = refresh_incremental(spark, src, mv, transform, ['doc_id'],
                                 name='en_view')
    if replay is not None or mv.current_version() != v:
        raise AssertionError('duplicate refresh was not a no-op')
    return mv.read(spark)


def _q_snapshot_events_time(spark, sf_dir):
    # Hidden partitioning + time-range data skipping over ONE event
    # table (consolidated from snapshot_skipping_time +
    # snapshot_hidden_partitioning, zero semantics lost). The table
    # partitions by day(ts) — a value DERIVED at stage time, no
    # materialized partition column (Iceberg partition transforms);
    # the manifest records the spec, later writes inherit it and a
    # different spec raises (partition evolution out of scope,
    # unit-tested). One day's partition is then swapped for a
    # corrected re-ingest (value + 100) at TRANSFORMED granularity via
    # replace_partitions — the daily-recrawl flow; day-level manifest
    # pruning asserted in-gate. Finally THE hot scan on an event table
    # at scale: timestamp stats are normalized to epoch micros in the
    # manifest (parquet datetime stats are not JSON-portable raw) and
    # datetime probe values convert the same way, so a time-window
    # scan opens only the files whose range intersects
    # (hypertable-style chunk exclusion) — pruning asserted in-gate,
    # and the corrected day (2024-01-22) sits INSIDE the window so the
    # swap is value-visible in the output.
    import datetime
    import os
    from ocrodjvu_spark.plans.snapstore import (SnapshotTable,
                                                file_may_match)
    base = _gate_tempdir('ocrodjvu-spark-evtime-')
    t = SnapshotTable(os.path.join(base, 'events'))
    ev = T.load_table(spark, sf_dir, 'events') \
        .select('event_id', 'ts', 'user_id', 'event_type', 'value')
    t.append(ev, partition_col='ts', partition_transform='day')
    day = '2024-01-22'
    n_day = t.read(spark, partition_values=[day]).count()
    if not 0 < n_day < ev.count():
        raise AssertionError(f'day partition pruning broken: {n_day}')
    corrected = ev.where(F.to_date('ts') == F.lit(day)) \
        .withColumn('value', F.col('value') + F.lit(100.0))
    t.replace_partitions(corrected, 'ts')  # spec inherited from HEAD
    lo = datetime.datetime(2024, 1, 20)
    hi = datetime.datetime(2024, 1, 25)
    filters = [('ts', '>=', lo), ('ts', '<', hi)]
    files = t.snapshot()['files']
    kept = [f for f in files if file_may_match(f, filters)]
    if not (0 < len(kept) < len(files)):
        raise AssertionError(
            f'time skipping pruned nothing: {len(kept)}/{len(files)}')
    return (t.read(spark, stats_filters=filters)
            .where((F.col('ts') >= F.lit('2024-01-20'))
                   & (F.col('ts') < F.lit('2024-01-25')))
            .select('event_id', 'ts', 'user_id', 'event_type',
                    F.round('value', 6).alias('value')))


def _q_snapshot_sketch_metadata(spark, sf_dir):
    # Per-file sketch metadata, bloom AND NDV over ONE table
    # (consolidated from snapshot_skipping_bloom + snapshot_ndv, zero
    # semantics lost — one handle records both write properties, the
    # way a real table carries its full sketch config).
    # part='bloom': point lookups on a HASH-LIKE column (content_hash
    # — uniformly random, so every file's min/max spans the whole
    # domain and stats prune NOTHING, asserted in-gate) are pruned by
    # per-file bloom bitmaps instead (parquet column bloom filters,
    # same portable double-hash family as functions/bloom); probes are
    # two real hashes (doc_id 3 and 7), no-false-negative is
    # structural, the pruning assertion shows the bitmaps bite.
    # part='ndv': per-file HLL register tables recorded at stage time
    # let ndv() answer approx-COUNT-DISTINCT with ZERO data I/O — the
    # planning statistic ANALYZE TABLE would scan 100 TB for; the gate
    # returns the DRIVER-merged registers (the sketch monoid: per-file
    # sketches merge to exactly the whole-scan sketch) and the oracle
    # recomputes them from scratch in DuckDB — integer-exact
    # (estimator tolerance is unit-asserted).
    import os
    from ocrodjvu_spark.plans.snapstore import (SnapshotTable,
                                                file_may_match)
    base = _gate_tempdir('ocrodjvu-spark-sketchmeta-')
    t = SnapshotTable(os.path.join(base, 'corpus'),
                      bloom_cols=['content_hash'],
                      ndv_cols=['doc_id'], ndv_p=_HLL_P)
    docs = T.load_table(spark, sf_dir, 'documents').select(
        'doc_id', 'lang',
        F.md5(textops.norm_text()).alias('content_hash'))
    t.append(docs.repartitionByRange(8, 'doc_id'))
    probes = [r.content_hash for r in
              docs.where(F.col('doc_id').isin([3, 7])).collect()]
    files = t.snapshot()['files']
    stats_only = sum(
        file_may_match({'stats': f['stats']},
                       [('content_hash', 'in', probes)])
        for f in files)
    if stats_only != len(files):
        raise AssertionError(
            'premise broken: min/max stats pruned a hash probe')
    kept = sum(file_may_match(f, [('content_hash', 'in', probes)])
               for f in files)
    if not 0 < kept < len(files):
        raise AssertionError(
            f'bloom skipping pruned nothing: {kept}/{len(files)}')
    bloom_rows = (
        t.read(spark, stats_filters=[('content_hash', 'in', probes)])
        .where(F.col('content_hash').isin(probes))
        .select(F.lit('bloom').alias('part'),
                'doc_id', 'lang', 'content_hash',
                F.lit(None).cast('int').alias('register'),
                F.lit(None).cast('int').alias('max_rank')))
    est = t.ndv('doc_id')
    n_docs = docs.count()
    if not 0.7 < est / n_docs < 1.3:  # zero-I/O estimate sanity
        raise AssertionError(f'manifest NDV estimate off: {est}')
    merged = t.ndv_registers('doc_id')
    ndv_rows = spark.createDataFrame(
        [('ndv', None, None, None, r, m)
         for r, m in sorted(merged.items())],
        'part string, doc_id bigint, lang string, '
        'content_hash string, register int, max_rank int')
    return bloom_rows.unionByName(ndv_rows)


def _q_jsonl_roundtrip(spark, sf_dir):
    # JSONL source/sink (sources/jsonl.py): the corpus exchange
    # format. Export is JVM-side sharded line-JSON with schema-ordered
    # keys; read-back uses an explicit schema + PERMISSIVE corrupt
    # channel (never schema-infer at scale). In-gate cross-engine
    # check: DuckDB parses the EXACT files Spark wrote (count + sum);
    # the returned frame is the Spark round-trip vs the base-table
    # oracle.
    import os
    import duckdb as _duckdb
    from ocrodjvu_spark.sources import jsonl as J
    base = _gate_tempdir('ocrodjvu-spark-jsonl-')
    path = os.path.join(base, 'export')
    docs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'lang', 'text', 'n_chars')
    J.write_jsonl(docs, path, shards=4)
    back = J.read_jsonl(
        spark, path,
        'doc_id bigint, lang string, text string, n_chars bigint') \
        .cache()  # Spark forbids queries over ONLY the corrupt column
    if back.where(F.col('_corrupt_record').isNotNull()).count() != 0:
        raise AssertionError('clean export produced corrupt records')
    want = _duckdb.connect().execute(
        f"SELECT count(*), sum(n_chars) "
        f"FROM read_json_auto('{path}/*.json')").fetchone()
    got = docs.agg(F.count('*'), F.sum('n_chars')).collect()[0]
    if (want[0], want[1]) != (got[0], got[1]):
        raise AssertionError(
            f'DuckDB read of the Spark export disagrees: {want} != '
            f'{tuple(got)}')
    return back.select('doc_id', 'lang', 'text', 'n_chars')


def _q_dedup_substring_capped(spark, sf_dir):
    # stop-gram cap bound + its observability companion in one gate
    # (consolidated from dedup_substring_capped + oversized_ngrams,
    # zero semantics lost). part='span': max_df=2 excludes the 5-grams
    # shared by >= 3 docs (74 hashes at sf0.01), the skew guard for
    # boilerplate n-grams whose join-back rows would all land on one
    # key at scale. part='dropped': exactly which n-gram hashes the
    # cap excludes (what an operator reviews before committing to a
    # cap at corpus scale).
    docs = T.load_table(spark, sf_dir, 'documents')
    spans = textops.duplicated_spans(docs, max_df=2) \
        .select(F.lit('span').alias('part'), '*',
                F.lit(None).cast('long').alias('sh'),
                F.lit(None).cast('long').alias('df'))
    dropped = textops.oversized_ngrams(docs, max_df=2).select(
        F.lit('dropped').alias('part'),
        F.lit(None).cast('long').alias('doc_id'),
        F.lit(None).cast('int').alias('span_start'),
        F.lit(None).cast('int').alias('span_end'),
        F.lit(None).cast('int').alias('n_tokens'),
        'sh', F.col('df').cast('long').alias('df'))
    return spans.unionByName(dropped)


# injected multi-line suffix for the line-dedup gate: the raw corpus
# text is single-line, so every 5th doc gains two shared boilerplate
# lines — only the lowest-id such doc may keep them
DEDUP_LINES_SUFFIX = ('\nshared boilerplate footer line one'
                      '\nsecond shared boilerplate footer line')
# the same suffix as a SQL concat expression, so Spark gate and oracle
# can never desync (newlines become chr(10) — SQL string literals
# cannot hold them portably)
_SQL_LINES_SUFFIX = ' || '.join(
    f"chr(10) || '{ln}'" for ln in DEDUP_LINES_SUFFIX.split('\n')[1:])


def _q_dedup_lines(spark, sf_dir):
    # C4-style cross-document line dedup: shared boilerplate lines
    # survive only at their first corpus occurrence; short lines exempt
    docs = T.load_table(spark, sf_dir, 'documents')
    text2 = F.when(F.col('doc_id') % 5 == 0,
                   F.concat('text', F.lit(DEDUP_LINES_SUFFIX))) \
        .otherwise(F.col('text'))
    return textops.dedup_lines(
        docs.select('doc_id', text2.alias('text')))


def _q_quality_buckets(spark, sf_dir):
    # CCNet head/middle/tail perplexity bucketing over the corpus LM
    # score; thresholds are one broadcast aggregate row, no global sort
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.quality_buckets(docs, vocab_size=200)


# script-profile gate injections: pure-script replacements so every
# dominant class (and the tie-break) is exercised
SCRIPT_THAI_TEXT = 'สวัสดีครับ ผมรักประเทศไทย ภาษาไทยดีมาก'
SCRIPT_CJK_TEXT = '日本語のテキストです 漢字仮名交じり文'
SCRIPT_CYR_SUFFIX = ' привет мир'


def _q_tool_call_stats(spark, sf_dir):
    # agent-transcript analytics over the FULL input_hint schema
    # (role/tool/ts, not just conv/turn/text): per-conversation turn
    # mix, tool-call counts, distinct tools, and wall-clock span. One
    # key shuffle with map-side partial aggregation; distinct tools via
    # collect_set size, NOT countDistinct (which would force an Expand
    # through the shuffle when mixed into a multi-aggregate).
    # collect_set dedupes INSIDE the aggregation buffer — per-group
    # state is O(distinct tools), not O(turns) as collect_list would be
    tr = T.synthesize_transcripts(spark, sf_dir)
    return (tr.groupBy('conv_id').agg(
        F.count('*').cast('int').alias('n_turns'),
        F.sum(F.when(F.col('role') == 'tool', 1).otherwise(0))
         .cast('int').alias('n_tool_turns'),
        F.size(F.collect_set('tool'))
         .cast('int').alias('n_tools'),
        (F.unix_timestamp(F.max('ts')) - F.unix_timestamp(F.min('ts')))
         .cast('bigint').alias('span_seconds')))


def _q_role_sequence(spark, sf_dir):
    # stable turn ordering surfaced as data: the '>'-joined role chain
    # per conversation (sortable struct collect, no window)
    tr = T.synthesize_transcripts(spark, sf_dir)
    return (tr.groupBy('conv_id').agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct('turn_idx',
                                                     'role'))),
                lambda s: s['role']), '>').alias('role_seq')))


def _q_corpus_pipeline(spark, sf_dir):
    # the composed training-corpus filter chain a real pipeline runs:
    # exact-dedup keep-first -> language filter (en) -> LM-quality
    # tail cut. Three key-joined stages, each individually gated
    # elsewhere; this gate pins that the composition (join keys,
    # filter interplay, null buckets) stays correct end-to-end. The
    # raw corpus has no exact dups, so the dedup stage is structurally
    # present but passes everything through (its non-vacuous behavior
    # is gated by dedup_apply).
    docs = T.load_table(spark, sf_dir, 'documents')
    lang = textops.language_id(docs).select('doc_id', 'lang_pred')
    buckets = textops.quality_buckets(docs, vocab_size=200) \
        .select('doc_id', 'bucket')
    # keep-first via min-aggregation + join-back (skew-safe: map-side
    # partial agg collapses a boilerplate hash; no hot-key window)
    hashed = docs.select(
        'doc_id', 'text',
        F.md5(textops.norm_text()).alias('_h'))
    minids = (hashed.groupBy('_h')
              .agg(F.min('doc_id').alias('doc_id')))
    firsts = hashed.join(minids, ['_h', 'doc_id'])
    return (firsts
            .join(lang, 'doc_id').join(buckets, 'doc_id')
            .where((F.col('lang_pred') == 'en')
                   & (F.col('bucket') != 'tail'))
            .select('doc_id', 'text'))


def _q_ingest_pipeline(spark, sf_dir):
    # the round-5 primitives composed the way an ingestion job chains
    # them: bloom-prefiltered incremental dedup vs a prior snapshot
    # (every 3rd doc's hash) -> BPE token accounting (tokenizer trained
    # on the incoming corpus) -> token-budget filter. Each stage is
    # individually gated (dedup_incremental, bpe_tokenize); this pins
    # the composition — join keys, prefilter losslessness inside a
    # longer chain, count interplay — end to end.
    from ocrodjvu_spark.functions import bloom, bpe
    docs = T.load_table(spark, sf_dir, 'documents')
    seen = (docs.where(F.col('doc_id') % 3 == 0)
            .select(F.md5(textops.norm_text())
                    .alias('content_hash')))
    filt = bloom.bloom_build(
        seen.select(F.col('content_hash').alias('key')).distinct(),
        m_bits=_BLOOM_M, k=_BLOOM_K)
    survivors = textops.incremental_dedup(docs, seen, bloom_filter=filt)
    merges = bpe.train(docs, _BPE_MERGES, min_count=1)
    toks = bpe.tokenize(docs, merges, keep_tokens=False)
    return (survivors.select('doc_id')
            .join(toks, 'doc_id')
            .where((F.col('n_tokens') >= 20) & (F.col('n_tokens') <= 400))
            .select('doc_id', 'n_tokens', 'n_words'))


def _q_script_profile(spark, sf_dir):
    # per-doc script composition + dominant script (the segmentation-
    # locale routing signal); deterministic injections cover thai/cjk
    # dominants and a mixed latin+cyrillic doc
    docs = T.load_table(spark, sf_dir, 'documents')
    text2 = (F.when(F.col('doc_id') % 10 == 3, F.lit(SCRIPT_THAI_TEXT))
             .when(F.col('doc_id') % 10 == 6, F.lit(SCRIPT_CJK_TEXT))
             .when(F.col('doc_id') % 10 == 9,
                   F.concat('text', F.lit(SCRIPT_CYR_SUFFIX)))
             .otherwise(F.col('text')))
    return textops.script_profile(
        docs.select('doc_id', text2.alias('text')))


def _q_ann_recall(spark, sf_dir):
    # recall@k of the IVF probe against the exact brute-force answer —
    # the index-evaluation loop; nprobe=1 leaves cross-boundary
    # neighbors unfound so recall is non-trivially < 1 for some queries
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.ann_recall(emb, nprobe=1)


def _q_ann_recall_kmeans(spark, sf_dir):
    # production-IVF composition: TRAIN the coarse quantizer (Lloyd's
    # k-means, k=4 lists) instead of using the stored label column,
    # then evaluate the probe at nprobe ∈ {1, 2, n_lists}. nprobe =
    # n_lists probes every inverted list, so the candidate set is the
    # whole corpus and recall is provably 1.0 (unit-tested too);
    # smaller nprobe trades recall for ~nprobe/n_lists of the scan.
    # kmeans_labels is invoked ONCE (its driver loop collects only
    # k-row centroid tables); the three recall evaluations share the
    # resulting assignment.
    emb = T.load_table(spark, sf_dir, 'embeddings')
    labels = similarity.kmeans_labels(emb, k=4, iterations=2)
    relabeled = (emb.select('vec_id', 'embedding')
                 .join(labels, 'vec_id')
                 .select('vec_id', 'embedding',
                         F.col('cluster').alias('label')))
    frames = [
        similarity.ann_recall(relabeled, nprobe=np_)
        .withColumn('nprobe', F.lit(np_).cast('int'))
        for np_ in (1, 2, 4)
    ]
    return frames[0].unionByName(frames[1]).unionByName(frames[2])


def _q_dedup_substring_apply(spark, sf_dir):
    # the APPLY side of Lee et al. 2022: strip every token covered by a
    # duplicated span (5-grams shared by >= 2 docs) and reassemble
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.remove_duplicated_spans(docs)


def _q_lm_quality(spark, sf_dir):
    # corpus-trained char-trigram LM scoring; vocab_size=200 makes the
    # cap bind at sf0.01 (377 distinct trigrams) so the OOV floor path
    # is exercised too
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.lm_score(docs, vocab_size=200)


def _q_pii_scrub(spark, sf_dir):
    # PII redaction plumbing: every 5th doc gets a deterministic email +
    # phone appended; the scrubber must count and replace exactly those
    docs = T.load_table(spark, sf_dir, 'documents')
    injected = F.concat(
        F.col('text'), F.lit(' contact agent-'),
        F.col('doc_id').cast('string'),
        F.lit('@example.com or 555-010-0142'))
    docs = docs.select(
        'doc_id',
        F.when(F.col('doc_id') % 5 == 0, injected)
         .otherwise(F.col('text')).alias('text'))
    return textops.pii_scrub(docs)


def _q_conversation_packing(spark, sf_dir):
    # context-window packing: assign each turn to a fixed-budget chunk
    # by the running token count within its conversation (the sequence
    # packing step before training-batch assembly). Window is
    # partitioned by conv_id — no global order, scale-safe.
    from pyspark.sql import Window
    budget = 512
    base = T.load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    root = F.floor(F.sqrt(F.col('doc_id'))).cast('long')
    turns = base.select(
        F.concat(F.lit('conv-'), root.cast('string')).alias('conv_id'),
        (F.col('doc_id') - root * root + 1).cast('int').alias('turn_idx'),
        F.size(T.tokens_col('text')).alias('n_tokens'))
    w = (Window.partitionBy('conv_id').orderBy('turn_idx')
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum('n_tokens').over(w)
    return turns.select(
        'conv_id', 'turn_idx', 'n_tokens',
        F.floor((cum - F.col('n_tokens')) / budget).cast('int')
         .alias('chunk_id'))


def _q_dedup_exact(spark, sf_dir):
    # exact dedup: hash-groupBy on normalized text (map-side partial agg)
    docs = T.load_table(spark, sf_dir, 'documents')
    norm = F.regexp_replace(F.trim('text'), r'\s+', ' ')
    return docs.groupBy(F.md5(norm).alias('text_hash')).agg(
        F.min('doc_id').alias('rep_doc_id'),
        F.count('*').alias('n_dupes'),
    )


# BPE-ish pre-tokenization pattern (GPT-2 style, ASCII subset): letter
# runs, single digits, punctuation runs — identical semantics in Java
# regex (Spark) and RE2 (DuckDB)
BPE_PIECE_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+"


def _q_token_stats(spark, sf_dir):
    # token counting + quality-ish stats, all JVM-side: whitespace
    # tokens AND a BPE-ish regex piece count (the pre-tokenizer shape a
    # training pipeline budgets with)
    docs = T.load_table(spark, sf_dir, 'documents')
    tokens = T.tokens_col('text')
    norm = F.regexp_replace(F.trim('text'), r'\s+', ' ')
    return docs.select(
        'doc_id',
        F.size(tokens).alias('n_tokens'),
        F.length(F.trim('text')).cast('long').alias('n_text_chars'),
        F.round(
            F.aggregate(
                tokens, F.lit(0).cast('long'),
                lambda acc, t: acc + F.length(t),
            ) / F.size(tokens),
            4,
        ).alias('avg_token_len'),
        F.size(F.regexp_extract_all(norm, F.lit(BPE_PIECE_RE), 0))
         .alias('n_bpe_pieces'),
    )


def _docs_with_near_dups(spark, sf_dir):
    """documents + deterministic near-duplicate rows (dedup positives)."""
    docs = T.load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    dups = docs.where(F.col('doc_id') % 17 == 0).select(
        (F.col('doc_id') + 1000000).alias('doc_id'),
        F.concat(F.col('text'), F.lit(' near duplicate tail')).alias('text'),
    )
    return docs.unionByName(dups)


def _q_dedup_minhash_lsh(spark, sf_dir):
    # MinHash signatures -> LSH bands -> candidate pairs -> exact-Jaccard
    # verification (the scale path for near-dup detection)
    docs = _docs_with_near_dups(spark, sf_dir)
    return textops.minhash_dedup_pairs(docs, threshold=0.5)


def _q_dedup_clusters(spark, sf_dir):
    # iterative connected components over the near-dup pair graph
    # (min-label propagation; oracle is a recursive CTE)
    docs = _docs_with_near_dups(spark, sf_dir)
    return textops.dedup_clusters(docs)


def _q_dedup_cluster_apply(spark, sf_dir):
    # the APPLY side of dedup_clusters: keep-one-representative-per-
    # near-dup-cluster via one left-anti join on the doc key
    docs = _docs_with_near_dups(spark, sf_dir)
    return textops.dedup_cluster_apply(docs)


def _q_dedup_ngram_jaccard(spark, sf_dir):
    # exact shingle-join Jaccard baseline
    docs = _docs_with_near_dups(spark, sf_dir)
    return textops.jaccard_pairs(docs, threshold=0.5)


def _q_simhash(spark, sf_dir):
    docs = T.load_table(spark, sf_dir, 'documents')
    # explode+aggregate form: bit-exact with the column form
    # (test-pinned) but codegen'd instead of interpreted lambdas
    return (textops.simhash_table(docs)
            .select('doc_id', F.col('sim').alias('simhash')))


def _q_dedup_simhash_pairs(spark, sf_dir):
    # SimHash-banded near-dup pairs: 16-bit-band bucket join + Hamming
    # verify; recall is EXACT by pigeonhole at max_dist=3 < 4 bands, so
    # the all-pairs SQL oracle is matched without an oracle that mirrors
    # the bucketing
    docs = _docs_with_near_dups(spark, sf_dir)
    return textops.simhash_neardup_pairs(docs).select(
        'doc_a', 'doc_b', F.col('hamming_dist').cast('int')
        .alias('hamming_dist'))


def _q_tfidf_top_terms(spark, sf_dir):
    # TF-IDF keyword extraction: top-3 terms per document by
    # tf * ln(N/df), ties broken lexicographically
    docs = T.load_table(spark, sf_dir, 'documents')
    # lazy corpus size (cross-joined like the oracle's n CTE), not an
    # eager .count() job at query-construction time
    n_docs = docs.agg(F.count('*').cast('double').alias('n_docs'))
    terms = docs.select(
        'doc_id', F.explode(T.tokens_col('text')).alias('term'))
    tf = terms.groupBy('doc_id', 'term').agg(F.count('*').alias('tf'))
    # df derives FROM tf as a window count over the term partition (tf
    # is already distinct on (doc_id, term), so rows-per-term == df):
    # the corpus is tokenized ONCE — one scan→explode→groupBy subtree,
    # no second aggregate and no tf|><|df join. Same shuffle count as
    # the join form (tf still exchanges on term for the window), one
    # fewer tokenize pass — the most expensive stage at 100 TB
    # (plan-audited in PLANS.md: exactly one Generate explode).
    from pyspark.sql import Window
    w_term = Window.partitionBy('term')
    scored = (tf.withColumn('df', F.count('*').over(w_term))
              .crossJoin(F.broadcast(n_docs))
              .select(
                  'doc_id', 'term',
                  F.round(F.col('tf')
                          * F.log(F.col('n_docs') / F.col('df')),
                          6).alias('tfidf')))
    w = Window.partitionBy('doc_id').orderBy(
        F.col('tfidf').desc(), F.col('term'))
    return (scored.withColumn('rank', F.row_number().over(w))
            .where(F.col('rank') <= 3)
            .select('doc_id', 'rank', 'term', 'tfidf'))


def _q_language_id(spark, sf_dir):
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.language_id(docs)


def _q_language_id_ngram(spark, sf_dir):
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.language_id_ngram(docs)


def _q_quality_score(spark, sf_dir):
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.quality_score(docs)


def _q_doc_fingerprint(spark, sf_dir):
    docs = T.load_table(spark, sf_dir, 'documents')
    return textops.doc_fingerprint(docs)


_BPE_MERGES = 10


def _q_bpe_train(spark, sf_dir):
    # distributed BPE training, primitive + loop in one gate
    # (consolidated from bpe_pair_counts + bpe_train, zero semantics
    # lost). part='pair': the training primitive — first-iteration
    # adjacent-pair counts over the distinct-word state (top 20,
    # count-desc / pair-asc). part='merge': the iterative argmax-merge
    # loop over the vocabulary-sized state; the oracle unrolls the
    # same 10 iterations as chained materialized CTEs, so the learned
    # merge table is value-checked end-to-end.
    from ocrodjvu_spark.functions import bpe
    docs = T.load_table(spark, sf_dir, 'documents')
    state = bpe.word_counts(docs).select(
        bpe.word_repr_col(F.col('word')).alias('toks_str'), 'cnt')
    pairs = (bpe.pair_counts(state)
             .orderBy(F.desc('n'), F.asc('pair')).limit(20)
             .select(F.lit('pair').alias('part'),
                     F.lit(None).cast('int').alias('rank'),
                     'pair', F.col('n').cast('long').alias('n')))
    merges = bpe.train(docs, _BPE_MERGES, min_count=1)
    learned = spark.createDataFrame(
        [('merge', i + 1, f'{a}{bpe.PAIR_SEP}{b}', None)
         for i, (a, b) in enumerate(merges)],
        'part string, rank int, pair string, n long')
    return pairs.unionByName(learned)


def _q_bpe_tokenize(spark, sf_dir):
    # train-then-apply: the full tokenizer path, all JVM-side (merges
    # as separator-bounded string replaces); hash-checked down to the
    # full per-document token-list string
    from ocrodjvu_spark.functions import bpe
    docs = T.load_table(spark, sf_dir, 'documents')
    merges = bpe.train(docs, _BPE_MERGES, min_count=1)
    return bpe.tokenize(docs, merges)


_BLOOM_M = 256
_BLOOM_K = 3


_HLL_P = 6
_CMS_D = 3  # cms.CMS_DEPTH
_CMS_W = 64


def _q_cms_counts(spark, sf_dir):
    # Count-Min frequency sketch over all word occurrences, probed with
    # the distinct vocabulary: (key, est, true_n) — w=64 forces real
    # collisions at sf0.01, so est > true_n for some keys and both
    # engines must agree on the exact overcounts (integer-exact);
    # est >= true_n always (one-sided error, asserted in tests)
    from ocrodjvu_spark.functions import cms
    docs = T.load_table(spark, sf_dir, 'documents')
    words = (docs.select(F.explode(textops.tokens()).alias('key'))
             .where(F.col('key') != ''))
    sketch = cms.cms_build(words, w=_CMS_W)
    est = cms.cms_estimate(words.distinct(), sketch, w=_CMS_W)
    truth = words.groupBy(F.col('key')).agg(
        F.count('*').alias('true_n'))
    return est.join(truth, 'key')


def _q_sketch_tables(spark, sf_dir):
    # Bloom + HLL sketch tables in one gate (consolidated from
    # bloom_filter + hll_registers, zero semantics lost).
    # part='bloom': membership pre-filter (the scalable first stage of
    # cross-corpus dedup/decontamination) built over the corpus
    # vocabulary, probed with a present set (words of every 7th doc)
    # and a synthetic absent set (same words + 'zz'); the exact
    # bit-level outcome INCLUDING the designed false positives is
    # hash-compared (m=256 over the ~60-word sf0.01 vocabulary yields
    # exactly one FP and zero false negatives — both engines must
    # agree on which key). part='hll': the full (register, max_rank)
    # table over the same vocabulary — integer-exact across engines
    # (no float estimate in the hash compare; estimator accuracy is
    # tolerance-asserted in tests/test_hll.py).
    from ocrodjvu_spark.functions import bloom, hll
    docs = T.load_table(spark, sf_dir, 'documents')
    words = (docs.select(F.explode(textops.tokens()).alias('key'))
             .where(F.col('key') != ''))
    vocab = words.distinct()
    filt = bloom.bloom_build(vocab, m_bits=_BLOOM_M, k=_BLOOM_K)
    present = (docs.where(F.col('doc_id') % 7 == 0)
               .select(F.explode(textops.tokens()).alias('key'))
               .where(F.col('key') != '').distinct())
    absent = present.select(F.concat('key', F.lit('zz')).alias('key'))
    probes = present.unionByName(absent).distinct()
    res = bloom.bloom_probe(probes, filt)
    truth = vocab.withColumn('in_vocab', F.lit(1))
    # booleans cast to int: a NULLable boolean round-trips as float
    # through pandas on the DuckDB side but stays boolean on the Spark
    # side — ints normalize identically in the driver's hash compare
    probed = (res.join(truth, 'key', 'left')
              .select(F.lit('bloom').alias('part'),
                      'key',
                      F.col('maybe_present').cast('int')
                       .alias('maybe_present'),
                      F.col('in_vocab').isNotNull().cast('int')
                       .alias('actually_present'),
                      F.lit(None).cast('int').alias('register'),
                      F.lit(None).cast('int').alias('max_rank')))
    regs = hll.hll_sketch(words, p=_HLL_P).select(
        F.lit('hll').alias('part'),
        F.lit(None).cast('string').alias('key'),
        F.lit(None).cast('int').alias('maybe_present'),
        F.lit(None).cast('int').alias('actually_present'),
        'register', 'max_rank')
    return probed.unionByName(regs)


def _q_dedup_incremental(spark, sf_dir):
    # cross-snapshot dedup THROUGH the bloom prefilter: "seen" = every
    # 3rd doc's content hash; the batch = the whole corpus; survivors
    # must be identical to the plain anti-join (the oracle is
    # bloom-agnostic — the filter's no-false-negative guarantee is the
    # thing under test, composed end-to-end)
    from ocrodjvu_spark.functions import bloom
    docs = T.load_table(spark, sf_dir, 'documents')
    seen = (docs.where(F.col('doc_id') % 3 == 0)
            .select(F.md5(textops.norm_text())
                    .alias('content_hash')))
    filt = bloom.bloom_build(
        seen.select(F.col('content_hash').alias('key')).distinct(),
        m_bits=_BLOOM_M, k=_BLOOM_K)
    return textops.incremental_dedup(
        docs, seen, bloom_filter=filt)


def _q_ann_cosine_topk(spark, sf_dir):
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.cosine_topk(emb, n_queries=10, k=5)


def _q_ann_ivf_topk(spark, sf_dir):
    # IVF at BOTH nprobe settings in one gate (consolidated from
    # ann_ivf_topk + ann_ivf_nprobe2, zero semantics lost): nprobe=1
    # is the base coarse-quantizer path; nprobe=2 is the recall knob —
    # results differ wherever a true neighbor sits across the nearest
    # Voronoi boundary, and the oracle pins that exactly.
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return (similarity.ivf_topk(emb)
            .select(F.lit(1).alias('nprobe'), '*')
            .unionByName(
                similarity.ivf_topk(emb, nprobe=2)
                .select(F.lit(2).alias('nprobe'), '*')))


def _q_ann_lsh_topk(spark, sf_dir):
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.lsh_topk(emb)


def _q_ann_index_persisted(spark, sf_dir):
    # the deployable-IVF lifecycle: TRAIN the coarse quantizer
    # (kmeans_centroids — the train-only face of the embedding_kmeans
    # loop), PUBLISH it as a versioned snapshot-table artifact
    # (save_vector_index: publish a version, serving pins one),
    # reload with a FRESH handle and ASSIGN the corpus under the
    # loaded centroids (assign_to_centroids — map-only, centroids as
    # JVM literals: the serving path). The roundtrip must be
    # bit-identical, so the same unrolled-Lloyd oracle as
    # embedding_kmeans value-checks the assignment; persistence
    # properties (version committed, reload equality, re-publish bumps
    # the version, pinned version stays readable) asserted in-gate.
    import os
    emb = T.load_table(spark, sf_dir, 'embeddings')
    cents = similarity.kmeans_centroids(emb)
    root = os.path.join(_gate_tempdir('ocrodjvu-spark-annindex-'),
                        'ivf')
    v1 = similarity.save_vector_index(spark, root, cents)
    loaded, quant = similarity.load_vector_index(spark, root)
    want = {cid: [int(x) for x in vec] for cid, vec in cents.items()}
    if v1 != 1 or quant != 1000 or loaded != want:
        raise AssertionError('vector-index roundtrip mismatch')
    if similarity.save_vector_index(spark, root, cents) != 2:
        raise AssertionError('re-publish must bump the version')
    pinned, _q = similarity.load_vector_index(spark, root, version=1)
    if pinned != want:
        raise AssertionError('pinned index version must stay readable')
    return similarity.assign_to_centroids(emb, loaded)


def _q_embedding_kmeans(spark, sf_dir):
    # iterative algorithm coverage: Lloyd's k-means (k=8, 3 rounds) on
    # the integer-quantized grid — exact distances, so the unrolled SQL
    # oracle matches bit-for-bit
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.kmeans_labels(emb, k=8, iterations=3)


def _q_semantic_clusters(spark, sf_dir):
    # the full embedding-dedup pipeline face: SemDeDup pairs -> O(log n)
    # alternating-star connected components -> (vec_id, cluster_id);
    # composition of two already-gated operators, pinned end-to-end by
    # a recursive-CTE oracle over the same pair set
    emb = T.load_table(spark, sf_dir, 'embeddings')
    pairs = similarity.semantic_dedup_pairs(emb, k=8, iterations=3)
    edges = pairs.select(F.col('vec_a').alias('doc_a'),
                         F.col('vec_b').alias('doc_b'))
    return (textops.connected_components(edges)
            .select(F.col('v').alias('vec_id'), 'cluster_id'))


def _q_embedding_quantize(spark, sf_dir):
    # int8 symmetric per-vector quantization: scale, md5 fingerprint of
    # the exact code vector, and worst reconstruction error — map-only
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.quantize_embeddings(emb)


def _q_dedup_semantic(spark, sf_dir):
    # SemDeDup: k-means partition (same deterministic k=8 x 3 rounds the
    # embedding_kmeans gate pins) then within-cluster exact cosine pairs
    # -- the equi-join-on-cluster scale shape; threshold 0.4 because the
    # corpus max pairwise cosine is ~0.54
    emb = T.load_table(spark, sf_dir, 'embeddings')
    return similarity.semantic_dedup_pairs(emb, k=8, iterations=3)


def _sql_kmeans(k: int = 8, iterations: int = 3,
                quant: int = 1000) -> str:
    """Unrolled Lloyd iterations mirroring similarity.kmeans_labels."""
    parts = [f'''
pts AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {quant}) AS BIGINT))
               AS qv
    FROM embeddings
),
c0 AS (
    SELECT CAST(rn - 1 AS INTEGER) AS cid, qv AS cv
    FROM (SELECT qv, row_number() OVER (ORDER BY vec_id) AS rn FROM pts)
    WHERE rn <= {k}
)''']

    def assign_expr(cent_cte):
        return f'''(
            SELECT c.cid FROM {cent_cte} c
            ORDER BY list_sum(list_transform(range(1, len(p.qv) + 1),
                     i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))),
                     c.cid
            LIMIT 1)'''

    for it in range(1, iterations + 1):
        parts.append(f''',
a{it} AS (
    SELECT p.vec_id, p.qv, {assign_expr(f'c{it - 1}')} AS cluster
    FROM pts p
),
m{it} AS (
    SELECT a{it}.cluster AS cid, d.i AS i,
           CAST(round(avg(d.x)) AS BIGINT) AS c
    FROM a{it},
         LATERAL (SELECT unnest(qv) AS x,
                         generate_subscripts(qv, 1) AS i) AS d
    GROUP BY 1, 2
),
c{it} AS (
    SELECT prev.cid, COALESCE(g.cv, prev.cv) AS cv
    FROM c{it - 1} prev
    LEFT JOIN (SELECT cid, list(c ORDER BY i) AS cv
               FROM m{it} GROUP BY cid) g USING (cid)
)''')
    return ('WITH ' + ''.join(parts) + f'''
SELECT p.vec_id,
       CAST({assign_expr(f'c{iterations}')} AS INTEGER) AS cluster
FROM pts p''')


def _q_events_sessionization(spark, sf_dir):
    # session windows (10-minute gap) per user over the events stream
    # table — the batch face of streaming sessionization
    events = T.load_table(spark, sf_dir, 'events')
    return (
        events
        .groupBy(F.session_window('ts', '10 minutes').alias('w'),
                 F.col('user_id'))
        .agg(F.count('*').alias('n_events'),
             F.round(F.sum('value'), 4).alias('sum_value'))
        .select('user_id',
                F.col('w.start').alias('session_start'),
                'n_events', 'sum_value')
    )


def _q_events_asof_join(spark, sf_dir):
    # as-of join, BOTH physical strategies in one gate (consolidated
    # from events_asof_join + events_asof_join_bucketed, zero
    # semantics lost — the variants must produce identical rows, so
    # the oracle repeats one ASOF JOIN under two discriminators).
    # 'plain': union + window carry-forward, one shuffle on user_id,
    # never a range theta-join; 141 clicks at sf0.01 have no prior
    # purchase and keep nulls (the left-join path). 'bucketed': the
    # skew-proof segmented variant; hourly buckets make the sf0.01
    # corpus exercise in-bucket, cross-bucket and cross-empty-bucket
    # carries.
    events = T.load_table(spark, sf_dir, 'events')
    clicks = events.where(F.col('event_type') == 'click').select(
        'event_id', 'user_id', 'ts')
    purchases = events.where(F.col('event_type') == 'purchase')
    plain = temporal.asof_join(clicks, purchases)
    bucketed = temporal.asof_join_bucketed(clicks, purchases,
                                           bucket_sec=3600)
    return (plain.select(F.lit('plain').alias('variant'), '*')
            .unionByName(
                bucketed.select(F.lit('bucketed').alias('variant'),
                                '*')))


def _q_events_range_join(spark, sf_dir):
    # bounded range join: (click, error) pairs for the same user within
    # 10 minutes — interval-bucketed equi-join (floor-second semantics
    # on both engines), exact recall at one-bucket adjacency
    events = T.load_table(spark, sf_dir, 'events')
    clicks = events.where(F.col('event_type') == 'click')
    errors = events.where(F.col('event_type') == 'error')
    return temporal.range_join(clicks, errors, window_sec=600)


def _q_events_rollup_cube(spark, sf_dir):
    # multi-granularity grouping sets, BOTH operators in one gate
    # (consolidated from events_rollup + events_cube, zero semantics
    # lost). ROLLUP: (type, day) -> type -> grand total in ONE pass —
    # Catalyst's Expand duplicates rows per grouping set map-side, so
    # it's still a single shuffle; at 100 TB that beats three separate
    # aggregations reading the fact table three times. CUBE: all four
    # grouping sets in one Expand + one shuffle — the rollup's sibling
    # for dashboards that slice by either dimension independently.
    events = T.load_table(spark, sf_dir, 'events')
    day = F.date_format('ts', 'yyyy-MM-dd').alias('day')

    def agg(grouped, op):
        return (grouped
                .agg(F.grouping_id().alias('gid'),
                     F.count('*').alias('n_events'),
                     F.round(F.sum('value'), 4).alias('sum_value'))
                .select(F.lit(op).alias('op'), 'event_type', 'day',
                        'gid', 'n_events', 'sum_value'))

    return agg(events.rollup('event_type', day), 'rollup').unionByName(
        agg(events.cube('event_type', day), 'cube'))


def _q_events_retention(spark, sf_dir):
    # cohort retention: users bucketed by first-seen week, activity
    # counted per week offset — the standard growth-analytics rollup.
    # Two aggregations, both keyed (user, then cohort×offset); the
    # distinct-user count sits in its own single-purpose groupBy, so
    # no countDistinct-induced Expand mixes into a multi-aggregate.
    events = T.load_table(spark, sf_dir, 'events')
    week = F.date_format(F.date_trunc('week', F.col('ts')),
                         'yyyy-MM-dd')
    first = (events.groupBy('user_id')
             .agg(F.min(week).alias('cohort_week')))
    active = (events.select('user_id', week.alias('week')).distinct())
    return (active.join(first, 'user_id')
            .select('cohort_week',
                    (F.datediff(F.to_date('week'),
                                F.to_date('cohort_week')) / 7)
                    .cast('int').alias('week_offset'),
                    'user_id')
            .groupBy('cohort_week', 'week_offset')
            .agg(F.count('*').cast('long').alias('n_users')))


_PIVOT_TYPES = ['click', 'view', 'purchase', 'signup', 'error']


def _q_events_pivot(spark, sf_dir):
    # pivot with an EXPLICIT value list: passing the values avoids the
    # hidden distinct-scan job Spark otherwise runs first (an unbounded
    # extra pass at 100 TB) and keeps the output schema static; absent
    # (user, type) combos coalesce to 0
    events = T.load_table(spark, sf_dir, 'events')
    pivoted = (events.groupBy('user_id')
               .pivot('event_type', _PIVOT_TYPES)
               .agg(F.count(F.lit(1))))
    return pivoted.select(
        'user_id',
        *[F.coalesce(F.col(t), F.lit(0)).alias(f'n_{t}')
          for t in _PIVOT_TYPES])


_EVENTS_DDL = ('event_id long, ts timestamp, user_id long, '
               'event_type string, value double, props string')

# shared by the plain and bucketed as-of gates (identical semantics).
# The right side is deduped to one row per (user_id, ts) (max event_id)
# BEFORE the ASOF join: DuckDB's pick among tied frontier rows is
# implementation-defined, Spark's is the lexicographic-max payload
# struct (= max event_id) — pre-deduping pins both engines to the same
# row.
_ASOF_SQL = '''
    SELECT l.event_id, l.user_id, l.ts,
           r.event_id AS matched_event_id,
           r.ts AS matched_ts,
           r.value AS matched_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN
         (SELECT * FROM events WHERE event_type = 'purchase'
          QUALIFY row_number() OVER (
              PARTITION BY user_id, ts
              ORDER BY event_id DESC) = 1) r
    ON l.user_id = r.user_id AND l.ts >= r.ts
'''


def _q_streaming_join(spark, sf_dir):
    # watermarked stream-stream interval join: clicks stream x errors
    # stream, same user, error within 60 min after the click. The
    # watermark horizon (90 days) exceeds the corpus time-span (~30
    # days), so NO row can ever be dropped as late and the drained
    # result equals the batch join exactly, independent of how the
    # files split into micro-batches — the determinism must not hinge
    # on everything landing in one trigger
    import os
    from ocrodjvu_spark.streaming import extract_stream as ST
    from ocrodjvu_spark.streaming import joins as SJ
    base = _gate_tempdir('ocrodjvu-spark-streamjoin-')
    events = T.load_table(spark, sf_dir, 'events')
    for etype, sub in (('click', 'left'), ('error', 'right')):
        (events.where(F.col('event_type') == etype)
         .coalesce(1).sortWithinPartitions('event_id')
         .write.parquet(os.path.join(base, sub)))
    read = lambda sub: (spark.readStream.schema(_EVENTS_DDL)
                        .option('maxFilesPerTrigger', 16)
                        .parquet(os.path.join(base, sub)))
    joined = SJ.interval_join_stream(read('left'), read('right'),
                                     watermark='90 days')
    out = os.path.join(base, 'out')
    ST.run_to_parquet(joined, out,
                      os.path.join(base, 'ckpt')).awaitTermination()
    return spark.read.parquet(out)


def _q_events_json_props(spark, sf_dir):
    # semi-structured path: JSON property extraction + agg, JVM-side
    events = T.load_table(spark, sf_dir, 'events')
    k = F.get_json_object('props', '$.k').cast('long')
    return (
        events
        .select('event_type', k.alias('k'))
        .groupBy('event_type')
        .agg(F.count('*').alias('n_events'),
             F.sum('k').alias('sum_k'),
             F.max('k').alias('max_k'))
    )


def _q_lineitem_pricing_summary(spark, sf_dir):
    # relational-shell sanity: TPC-H-Q1-style pricing summary (pure
    # Catalyst aggregation with map-side partials)
    li = T.load_table(spark, sf_dir, 'lineitem')
    return (
        li.where(F.col('l_shipdate') <= F.lit('1998-09-02'))
        .groupBy('l_returnflag', 'l_linestatus')
        .agg(
            F.round(F.sum('l_quantity'), 4).alias('sum_qty'),
            F.round(F.sum('l_extendedprice'), 4).alias('sum_base_price'),
            F.round(F.sum(F.col('l_extendedprice')
                          * (1 - F.col('l_discount'))), 4)
             .alias('sum_disc_price'),
            F.round(F.avg('l_quantity'), 6).alias('avg_qty'),
            F.count('*').alias('count_order'),
        )
    )


def _q_orders_per_nation(spark, sf_dir):
    # broadcast-join chain: orders -> customer -> nation (small dims
    # broadcast; only the fact table scans at scale)
    orders = T.load_table(spark, sf_dir, 'orders')
    customer = T.load_table(spark, sf_dir, 'customer')
    nation = T.load_table(spark, sf_dir, 'nation')
    return (
        orders
        .join(F.broadcast(customer),
              orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col('n_name').alias('nation'))
        .agg(F.count('*').alias('n_orders'),
             F.round(F.sum('o_totalprice'), 4).alias('total_price'))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver records verdicts for roughly the
    # first 50 entries of this dict per round.  Keep the dict ordered
    # (1) gates with no driver verdict yet, (2) gates added or changed
    # this round, (3) previously-verified gates, oldest verdict first.
    # When adding a gate, insert it at the top of block (2).
    return {
        # -- block 1: the gates round 7 re-plumbed (minhash/simhash
        #    dedup, the semantic/embedding near-dup family, the LM
        #    scorer, the shared run-metric definition), which have no
        #    driver verdict since — 9 entries ---------------------
        'simhash': _q_simhash,
        'dedup_simhash_pairs': _q_dedup_simhash_pairs,
        'extraction_metrics': _q_extraction_metrics,
        'dedup_minhash_lsh': _q_dedup_minhash_lsh,
        'ann_cosine_topk': _q_ann_cosine_topk,
        'dedup_semantic': _q_dedup_semantic,
        'embedding_neardup_pairs': _q_embedding_neardup_pairs,
        'embedding_neardup_auto': _q_embedding_neardup_auto,
        'lm_quality': _q_lm_quality,
        # -- block 2: gates re-plumbed by the snapshot-store
        #    consolidation (one change feed, one view refresher, one
        #    rewrite loop) first, then the round-6 additions/changes
        #    and late-r5 gates (r7 verdicts) — 36 entries ----------
        'snapshot_lifecycle': _q_snapshot_lifecycle,
        'snapshot_mview': _q_snapshot_mview,
        'snapshot_mview_cdc': _q_snapshot_mview_cdc,
        'snapshot_upsert': _q_snapshot_upsert,
        'corpus_takedown': _q_corpus_takedown,
        'ann_index_persisted': _q_ann_index_persisted,
        'winnowing_fingerprints': _q_winnowing_fingerprints,
        'snapshot_changelog': _q_snapshot_changelog,
        'extract_uax29_thai': _q_extract_uax29_thai,
        'extract_uax29_cjk_dict': _q_extract_uax29_cjk_dict,
        'checkpoint_snapshot': _q_checkpoint_snapshot,
        'dedup_incremental': _q_dedup_incremental,
        'streaming_ingest': _q_streaming_ingest,
        'cms_counts': _q_cms_counts,
        'ingest_pipeline': _q_ingest_pipeline,
        'events_retention': _q_events_retention,
        'bpe_train': _q_bpe_train,
        'bpe_tokenize': _q_bpe_tokenize,
        'snapshot_skipping': _q_snapshot_skipping,
        'sampled_quantiles': _q_sampled_quantiles,
        'jsonl_roundtrip': _q_jsonl_roundtrip,
        'snapshot_events_time': _q_snapshot_events_time,
        'snapshot_sketch_metadata': _q_snapshot_sketch_metadata,
        'sketch_tables': _q_sketch_tables,
        'turn_filter': _q_turn_filter,
        'extract_rotated': _q_extract_rotated,
        'extract_details': _q_extract_details,
        'extract_orf_gocr': _q_extract_orf_gocr,
        'extract_cuneiform': _q_extract_cuneiform,
        'extract_uax29_tailoring': _q_extract_uax29_tailoring,
        'ann_ivf_topk': _q_ann_ivf_topk,
        'events_asof_join': _q_events_asof_join,
        'events_rollup_cube': _q_events_rollup_cube,
        'dedup_substring_capped': _q_dedup_substring_capped,
        'checkpoint_resume': _q_checkpoint_resume,
        'corpus_split': _q_corpus_split,
        # -- block 3: previously verified, oldest verdict first
        #    (r4 verdicts; 9 + 36 + 5 = the ~50-slot window) ------
        'multimodal_frames': _q_multimodal_frames,
        'tool_call_stats': _q_tool_call_stats,
        'quality_buckets': _q_quality_buckets,
        'ann_recall': _q_ann_recall,
        'multimodal_resize': _q_multimodal_resize,
        # -- outside the ~50-slot window: remaining r4-verified,
        #    then r5-verified (freshest last). NEXT ROTATION:
        #    promote anything the next round changes, then the
        #    oldest entries below this line -----------------------
        'extract_text': _q_extract_text,
        'extract_word_spans': _q_extract_word_spans,
        'extract_sexpr': _q_extract_sexpr,
        'extract_roundtrip': _q_extract_roundtrip,
        'events_window_agg': _q_events_window_agg,
        'events_range_join': _q_events_range_join,
        'events_pivot': _q_events_pivot,
        'streaming_join': _q_streaming_join,
        'streaming_extraction': _q_streaming_extraction,
        'streaming_dedup': _q_streaming_dedup,
        'stateful_conversation_state': _q_stateful_conversation_state,
        'extract_tesseract_makebox': _q_extract_tesseract_makebox,
        'extract_ocropus_surplus': _q_extract_ocropus_surplus,
        'djvused_script': _q_djvused_script,
        'events_json_props': _q_events_json_props,
        'events_sessionization': _q_events_sessionization,
        'lineitem_pricing_summary': _q_lineitem_pricing_summary,
        'orders_per_nation': _q_orders_per_nation,
        'dedup_substring_spans': _q_dedup_substring_spans,
        'dedup_substring_apply': _q_dedup_substring_apply,
        'dedup_cluster_apply': _q_dedup_cluster_apply,
        'script_profile': _q_script_profile,
        'role_sequence': _q_role_sequence,
        'extract_uax29_cjk': _q_extract_uax29_cjk,
        'extract_fix_utf8': _q_extract_fix_utf8,
        'error_channel': _q_error_channel,
        'turns_per_conv': _q_turns_per_conv,
        'conversation_reassembly': _q_conversation_reassembly,
        'dedup_exact': _q_dedup_exact,
        'length_quantiles': _q_length_quantiles,
        'dedup_apply': _q_dedup_apply,
        'quality_repetition': _q_quality_repetition,
        'gopher_quality': _q_gopher_quality,
        'c4_quality': _q_c4_quality,
        'split_contamination': _q_split_contamination,
        'pii_scrub': _q_pii_scrub,
        'domain_mix': _q_domain_mix,
        'doc_chunks': _q_doc_chunks,
        'conversation_packing': _q_conversation_packing,
        'dedup_conversations': _q_dedup_conversations,
        'token_stats': _q_token_stats,
        'dedup_ngram_jaccard': _q_dedup_ngram_jaccard,
        'dedup_clusters': _q_dedup_clusters,
        'language_id': _q_language_id,
        'language_id_ngram': _q_language_id_ngram,
        'tfidf_top_terms': _q_tfidf_top_terms,
        'quality_score': _q_quality_score,
        'doc_fingerprint': _q_doc_fingerprint,
        'embedding_kmeans': _q_embedding_kmeans,
        'embedding_quantize': _q_embedding_quantize,
        'semantic_clusters': _q_semantic_clusters,
        'ann_lsh_topk': _q_ann_lsh_topk,
        'extract_uax29': _q_extract_uax29,
        'ann_recall_kmeans': _q_ann_recall_kmeans,
        'multimodal_features': _q_multimodal_features,
        'dedup_lines': _q_dedup_lines,
        'corpus_pipeline': _q_corpus_pipeline,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL over the same parquet views)
# --------------------------------------------------------------------------

_CONV = T.SQL_CONV_ID
_TIDX = T.SQL_TURN_IDX
_NORM = T.SQL_NORM_TEXT
_TOKS = T.SQL_TOKENS

_WORDS_CTE = f'''
WITH words AS (
    SELECT {_CONV} AS conv_id,
           {_TIDX} AS turn_idx,
           t.tok AS word,
           CAST(t.i - 1 AS INTEGER) AS word_idx,
           len({_TOKS}) AS n_words
    FROM documents,
         LATERAL (
            SELECT UNNEST({_TOKS}) AS tok,
                   generate_subscripts({_TOKS}, 1) AS i
         ) AS t
)
'''


# portable rolling hash of a string expression {s}
def _SQL_HASH(s):
    return (
        'list_reduce(list_prepend(CAST(0 AS BIGINT), '
        f'list_transform(string_split({s}, \'\'), '
        'c -> CAST(ascii(c) AS BIGINT))), '
        '(acc, x) -> (acc * 31 + x) % 2147483647)'
    )


# shingle hash = fold of the three token hashes (acc*1009 + h, mod p) —
# mirrors textops.shingle_hashes exactly (tokens hashed once, shingles
# combined arithmetically; short docs fold all token hashes into one)
_SQL_SHINGLE_HASHES = (
    'CASE WHEN len(hs) >= 3 THEN list_distinct(list_transform('
    'range(1, len(hs) - 1), '
    'i -> ((hs[i] * 1009 + hs[i+1]) % 2147483647 * 1009 + hs[i+2]) '
    '% 2147483647)) '
    'ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), hs), '
    '(acc, x) -> (acc * 1009 + x) % 2147483647)] END'
)


def _sql_token_hashes(src):
    return (f'SELECT doc_id, list_transform(toks, t -> {_SQL_HASH("t")}) '
            f'AS hs FROM {src}')


_SQL_DOCS_DUPS_BASE = '''
docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           text || ' near duplicate tail' AS text
    FROM documents WHERE doc_id % 17 = 0
)'''

# per-bit majority vote over token hashes -> 64-bit fingerprint
# (mirrors textops.simhash_table; operates on a CTE exposing hs). A token's
# 64 bit votes come from three derived 31-bit words: h itself (bits
# 0..30), (h*48271+11)%p (31..61), (h*69621+7)%p (62..63) — the SIMHASH_W1/
# SIMHASH_W2 constants. Bit 63's weight is BIGINT min so the DuckDB value
# is bit-identical to Spark's signed long; list_sum returns HUGEINT,
# hence the outer CAST.
_SQL_SIMHASH = (
    'CAST(list_sum(list_transform(range(0, 64), j -> '
    'CASE WHEN list_sum(list_transform(hs, h -> '
    'CASE WHEN (CASE WHEN j < 31 THEN (h >> j) '
    'WHEN j < 62 THEN (((h * 48271 + 11) % 2147483647) >> (j - 31)) '
    'ELSE (((h * 69621 + 7) % 2147483647) >> (j - 62)) END) & 1 = 1 '
    'THEN 1 ELSE -1 END)) > 0 '
    'THEN (CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT) '
    'ELSE (CAST(1 AS BIGINT) << j) END) ELSE CAST(0 AS BIGINT) END'
    ')) AS BIGINT)'
)

_SQL_DOCS_DUPS = f'''
{_SQL_DOCS_DUPS_BASE},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
th AS ({_sql_token_hashes('tok')}),
sh AS (
    SELECT DISTINCT doc_id,
           unnest({_SQL_SHINGLE_HASHES}) AS shingle
    FROM th
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
'''

from ocrodjvu_spark.functions.textops import (  # noqa: E402
    HASH_MOD, LANG_ORDER, MINHASH_PARAMS, STOPWORDS)

_SQL_MINHASH_SIG = ', '.join(
    f'list_aggregate(list_transform(shingles, h -> (h * {a} + {b}) '
    f'% {HASH_MOD}), \'min\') AS mh{k}'
    for k, (a, b) in enumerate(MINHASH_PARAMS)
)
_SQL_BANDS = ', '.join(
    "('{b}:' || CAST(mh{h0} AS VARCHAR) || '-' || CAST(mh{h1} AS VARCHAR)"
    " || '-' || CAST(mh{h2} AS VARCHAR) || '-' || CAST(mh{h3} AS VARCHAR))"
    .format(b=b, h0=4 * b, h1=4 * b + 1, h2=4 * b + 2, h3=4 * b + 3)
    for b in range(4)
)


def _sql_stop_hits(lang):
    words = ', '.join(f"'{w}'" for w in STOPWORDS[lang])
    return (f'len(list_filter(toks, t -> list_contains([{words}], t)))')


_SQL_EMB = '''
e AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
n AS (
    SELECT vec_id, v,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM e
)
'''

_SQL_TOPK_TAIL = '''
SELECT query_id, rank, neighbor_id, cos_sim
FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
    ) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= 5
'''





# the CASE mirror of _MIX_TARGETS (weight-0 for absent domains)
_SQL_MIX_TARGET = ('CASE source ' + ' '.join(
    f"WHEN '{k}' THEN {v!r}" for k, v in sorted(_MIX_TARGETS.items()))
    + ' ELSE 0.0 END')


def _sql_pos_shingle(n: int) -> str:
    """Positional n-gram hash combine (mirrors
    textops.positioned_shingle_hashes: fold acc*1009 + h, mod p)."""
    expr = 'hs[t.i]'
    for j in range(1, n):
        expr = f'({expr} * 1009 + hs[t.i+{j}]) % 2147483647'
    return expr


# corpus char-trigram LM scoring CTE chain (mirrors textops.lm_score
# with vocab_size=200); terminal CTE is `scored(doc_id, n_trigrams,
# lm_score)` — shared by the lm_quality and quality_buckets oracles
_SQL_LM_SCORED = f'''d AS (SELECT doc_id, {_NORM} AS t FROM documents),
            tris AS (
                SELECT doc_id,
                       unnest(CASE WHEN length(t) >= 3
                              THEN list_transform(
                                  range(1, length(t) - 1),
                                  i -> substr(t, i, 3))
                              ELSE [NULL] END) AS tri
                FROM d
            ),
            counts AS (
                SELECT tri, count(*) AS c FROM tris
                WHERE tri IS NOT NULL GROUP BY 1
            ),
            total AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM counts),
            vocab AS (
                SELECT tri,
                       CAST(round(ln(c / total) * 1000000, 0) AS BIGINT)
                           AS logp_q
                FROM counts, total ORDER BY c DESC, tri LIMIT 200
            ),
            fl AS (
                SELECT CAST(round(ln(0.5 / total) * 1000000, 0) AS BIGINT)
                           AS floor_q
                FROM total
            ),
            lp AS (
                SELECT t.doc_id, t.tri,
                       coalesce(v.logp_q, fl.floor_q) AS lp
                FROM tris t LEFT JOIN vocab v ON t.tri = v.tri, fl
            ),
            scored AS (
                SELECT doc_id,
                       CAST(count(tri) AS INTEGER) AS n_trigrams,
                       CASE WHEN count(tri) > 0
                            THEN round(sum(lp) * 1.0 / count(*)
                                       / 1000000, 6)
                       END AS lm_score
                FROM lp GROUP BY 1
            )'''


# shared fragments for the multimodal oracles: the generative layout of
# functions/multimodal.synthesize_media re-derived in closed form
_SQL_MEDIA_BASE = '''base AS (
    SELECT doc_id, doc_id % 3 AS k3,
           CAST(4 + doc_id % 5 AS INTEGER) AS w,
           CAST(3 + doc_id % 4 AS INTEGER) AS h,
           (doc_id // 3) % 5 AS fmt
    FROM documents
)'''

_SQL_MEDIA_IMG = '''SELECT doc_id, w, h, fmt,
           CAST(CASE WHEN fmt IN (1, 3) THEN 1 ELSE 3 END AS INTEGER)
               AS ch,
           CASE WHEN fmt = 2 THEN 'bmp' WHEN fmt = 4 THEN 'tiff'
                ELSE 'pnm' END AS dec
    FROM base WHERE k3 = 0'''

# per-format container size (headers + padded/packed body) and the
# closed-form pixel sum of the generative sample pattern
_SQL_MEDIA_IMGF = f'''SELECT doc_id, w, h, ch, dec,
           CAST(CASE fmt
             WHEN 0 THEN length('P6 ' || w || ' ' || h || ' 255'
                          || chr(10)) + w * h * 3
             WHEN 1 THEN length('P5 ' || w || ' ' || h || ' 255'
                          || chr(10)) + w * h
             WHEN 2 THEN 54 + h * (((3 * w + 3) // 4) * 4)
             WHEN 4 THEN 136 + w * h * 3
             ELSE length('P4 ' || w || ' ' || h || chr(10))
                  + h * ((w + 7) // 8)
           END AS INTEGER) AS n_bytes,
           CASE WHEN fmt = 3 THEN
               CAST(list_sum(list_transform(range(0, w * h),
                    i -> ((i % w) + (i // w) + doc_id) % 2)) AS BIGINT)
           ELSE
               CAST(list_sum(list_transform(range(0, w * h * ch),
                    i -> (i + doc_id) % 256)) AS BIGINT)
           END AS pixel_sum
    FROM ({_SQL_MEDIA_IMG}) i'''

# audio rows are REAL 8-bit-PCM WAV (kernel/audio_codecs.py): canonical
# 44-byte header + interleaved data + RIFF pad byte when odd, sample i
# = (i + doc_id) % 256 — all re-derived here in closed form
_SQL_MEDIA_WAV = '''
            SELECT doc_id AS media_id, 'audio' AS kind,
                   CAST(44 + n + (n % 2) AS INTEGER) AS n_bytes,
                   CAST(NULL AS INTEGER) AS width,
                   CAST(NULL AS INTEGER) AS height,
                   CAST(ch AS INTEGER) AS channels,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(list_sum(list_transform(range(0, n),
                        i -> (i + doc_id) % 256)) AS BIGINT) AS pixel_sum,
                   CAST(rate AS INTEGER) AS sample_rate,
                   CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
                   'wav' AS decoder
            FROM (SELECT doc_id,
                         8000 * (1 + doc_id % 4) AS rate,
                         1 + doc_id % 2 AS ch,
                         100 + doc_id % 50 AS frames,
                         (100 + doc_id % 50) * (1 + doc_id % 2) AS n
                  FROM base WHERE k3 = 1)'''

# video rows are REAL AVI (kernel/video_codecs.py): RIFF + hdrl(avih)
# + movi with one word-aligned 00db chunk per uncompressed gray frame;
# byte i of frame f is (i + f + doc_id) % 256 — container size, sample
# sum and duration all re-derived in closed form
_SQL_MEDIA_AVI = '''
            SELECT doc_id AS media_id, 'video' AS kind,
                   CAST(100 + nf * (8 + fs + fs % 2) AS INTEGER)
                       AS n_bytes,
                   CAST(w AS INTEGER) AS width,
                   CAST(h AS INTEGER) AS height,
                   CAST(1 AS INTEGER) AS channels,
                   CAST(nf * fs AS BIGINT) AS n_samples,
                   CAST(list_sum(list_transform(range(0, nf * fs),
                        i -> ((i % fs) + (i // fs) + doc_id) % 256))
                       AS BIGINT) AS pixel_sum,
                   CAST(NULL AS INTEGER) AS sample_rate,
                   CAST(nf * micro // 1000 AS BIGINT) AS duration_ms,
                   'avi' AS decoder
            FROM (SELECT doc_id,
                         4 + doc_id % 3 AS w,
                         2 + doc_id % 3 AS h,
                         (4 + doc_id % 3) * (2 + doc_id % 3) AS fs,
                         3 + doc_id % 4 AS nf,
                         1000000 // (10 + doc_id % 5) AS micro
                  FROM base WHERE k3 = 2)'''


def _sql_dup_spans(max_df: int | None = None) -> str:
    """Lee-et-al duplicated-spans oracle (mirrors
    textops.duplicated_spans); ``max_df`` is the stop-gram cap."""
    cap = f'AND count(*) <= {max_df}' if max_df is not None else ''
    return f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            th AS ({_sql_token_hashes('tok')}),
            pos_sh AS (
                SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos,
                       {_sql_pos_shingle(5)} AS sh
                FROM th,
                     LATERAL (SELECT unnest(range(1, len(hs) - 3)) AS i) t
                WHERE len(hs) >= 5
            ),
            dfc AS (
                SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM pos_sh)
                GROUP BY sh HAVING count(*) >= 2 {cap}
            ),
            dup AS (
                SELECT p.doc_id, p.pos, p.pos + 5 AS end_
                FROM pos_sh p JOIN dfc USING (sh)
            ),
            w AS (
                SELECT doc_id, pos, end_,
                       max(end_) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_max
                FROM dup
            ),
            isl AS (
                SELECT doc_id, pos, end_,
                       sum(CASE WHEN prev_max IS NULL OR pos >= prev_max
                           THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos)
                           AS island
                FROM w
            )
            SELECT doc_id,
                   CAST(min(pos) AS INTEGER) AS span_start,
                   CAST(max(end_) AS INTEGER) AS span_end,
                   CAST(max(end_) - min(pos) AS INTEGER) AS n_tokens
            FROM isl GROUP BY doc_id, island
        '''


_SQL_ANN_EXACT = f'''
            WITH {_SQL_EMB},
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_sum(list_transform(range(1, len(q.v) + 1),
                                 i -> q.v[i] * c.v[i]))
                             / (q.nrm * c.nrm), 6) AS cos_sim
                FROM n q JOIN n c
                  ON q.vec_id < 10 AND c.vec_id <> q.vec_id
            )
            {_SQL_TOPK_TAIL}
        '''


def _sql_script_fracs() -> str:
    """Per-script char fractions (mirrors textops.script_profile; RE2
    script classes, 'g' flag — DuckDB replaces only the first match
    without it)."""
    from ocrodjvu_spark.functions.textops import SCRIPT_CLASSES
    parts = []
    for name, _, re2_cls in SCRIPT_CLASSES:
        # SQL single-quoted strings pass backslashes through verbatim
        parts.append(
            f"round((length(t) - length(regexp_replace(t, "
            f"'{re2_cls}', '', 'g'))) * 1.0 "
            f"/ greatest(length(t), 1), 6) AS {name}_frac")
    return ',\n                       '.join(parts)


def _sql_ann_ivf(nprobe: int, labels_sql: str | None = None) -> str:
    """IVF oracle; ``nprobe`` mirrors similarity.ivf_topk's probe count.
    ``labels_sql`` (a query yielding (vec_id, cluster)) swaps the
    stored ``label`` column for a LEARNED coarse quantizer — the
    ann_recall_kmeans composition."""
    if labels_sql is None:
        corpus_sql = '''SELECT e2.vec_id, e2.label AS list_id, n.v, n.nrm
                FROM embeddings e2 JOIN n ON n.vec_id = e2.vec_id'''
    else:
        corpus_sql = f'''SELECT e2.vec_id, km.cluster AS list_id,
                       n.v, n.nrm
                FROM embeddings e2
                JOIN ({labels_sql}) km ON km.vec_id = e2.vec_id
                JOIN n ON n.vec_id = e2.vec_id'''
    return f'''
            WITH {_SQL_EMB},
            corpus AS (
                {corpus_sql}
            ),
            dims AS (
                SELECT list_id, t.i,
                       avg(v[t.i]) AS c
                FROM corpus,
                     LATERAL (SELECT UNNEST(range(1, len(v) + 1)) AS i) t
                GROUP BY 1, 2
            ),
            centroids AS (
                SELECT list_id,
                       list(c ORDER BY i) AS cvec,
                       sqrt(sum(c * c)) AS cnrm
                FROM dims GROUP BY 1
            ),
            probes AS (
                SELECT query_id, probe_list FROM (
                    SELECT q.vec_id AS query_id, c.list_id AS probe_list,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY round(
                                   list_sum(list_transform(
                                       range(1, len(q.v) + 1),
                                       i -> q.v[i] * c.cvec[i]))
                                   / (q.nrm * c.cnrm), 6) DESC,
                               c.list_id) AS c_rank
                    FROM corpus q, centroids c
                    WHERE q.vec_id < 10
                ) WHERE c_rank <= {nprobe}
            ),
            scored AS (
                SELECT p.query_id, c.vec_id AS neighbor_id,
                       round(list_sum(list_transform(
                                 range(1, len(c.v) + 1),
                                 i -> c.v[i] * q.v[i]))
                             / (c.nrm * q.nrm), 6) AS cos_sim
                FROM probes p
                JOIN corpus q ON q.vec_id = p.query_id
                JOIN corpus c ON c.list_id = p.probe_list
                 AND c.vec_id <> p.query_id
            )
            {_SQL_TOPK_TAIL}
        '''


def _sql_ann_recall_kmeans() -> str:
    """Recall sweep of the learned-quantizer IVF (mirrors
    _q_ann_recall_kmeans): the unrolled-k-means fragment supplies the
    list assignment, one recall block per nprobe in {1, 2, n_lists}."""
    labels_sql = _sql_kmeans(k=4, iterations=2)

    def block(np_: int) -> str:
        return f'''
            SELECT CAST({np_} AS INTEGER) AS nprobe, b.query_id,
                   coalesce(h.n_hit, 0) AS n_hit, b.n_exact,
                   round(coalesce(h.n_hit, 0) * 1.0 / b.n_exact, 6)
                       AS recall
            FROM (
                SELECT query_id, CAST(count(*) AS INTEGER) AS n_exact
                FROM exact GROUP BY 1
            ) b LEFT JOIN (
                SELECT e.query_id, CAST(count(*) AS INTEGER) AS n_hit
                FROM exact e
                JOIN ({_sql_ann_ivf(np_, labels_sql)}) a
                  ON a.query_id = e.query_id
                 AND a.neighbor_id = e.neighbor_id
                GROUP BY 1
            ) h USING (query_id)'''

    return (f'WITH exact AS ({_SQL_ANN_EXACT})'
            + ' UNION ALL '.join(block(np_) for np_ in (1, 2, 4)))


# -- BPE oracle: the training loop unrolled as chained materialized CTEs.
# State s{i} is the distinct-word token-list-string table after merge i
# (every token individually bracketed: 'fast' -> '<f><a><s><t>'); p{i}
# is the argmax pair label 'a|b' of iteration i (count DESC, pair ASC —
# the engine's exact tie-break). A merge's replace pattern is rebuilt
# from the label itself ('<'||replace(pair,'|','><')||'>' ->
# '<'||replace(pair,'|','')||'>'), so the SQL needs no knowledge of the
# learned tokens.
_SQL_BPE_NORM = ("trim(regexp_replace(regexp_replace(text, '[<>/|]', '',"
                 " 'g'), '\\s+', ' ', 'g'))")
_SQL_BPE_TOKS = "regexp_extract_all({src}, '<([^<>]*)>', 1)"


_SQL_BPE_PAIRS = f'''
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || '|' || toks[i + 1])) AS pair,
               cnt
        FROM (SELECT {_SQL_BPE_TOKS.format(src='toks_str')} AS toks, cnt
              FROM s{{prev}})'''


def _sql_bpe_merge_expr(expr: str, i: int) -> str:
    return (f"replace({expr}, "
            f"'<' || replace((SELECT pair FROM p{i}), '|', '><') || '>', "
            f"'<' || replace((SELECT pair FROM p{i}), '|', '') || '>')")


def _sql_bpe_ctes(n_merges: int) -> str:
    parts = [f'''
s0 AS MATERIALIZED (
    SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS toks_str,
           count(*) AS cnt
    FROM (SELECT unnest(string_split({_SQL_BPE_NORM}, ' ')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY 1
)''']
    for i in range(1, n_merges + 1):
        parts.append(f'''
p{i} AS MATERIALIZED (
    SELECT pair FROM ({_SQL_BPE_PAIRS.format(prev=i - 1)})
    GROUP BY pair
    ORDER BY sum(cnt) DESC, pair
    LIMIT 1
)''')
        if i < n_merges:
            parts.append(f'''
s{i} AS MATERIALIZED (
    SELECT {_sql_bpe_merge_expr('toks_str', i)} AS toks_str, cnt
    FROM s{i - 1}
)''')
    return 'WITH ' + ','.join(parts)


def _sql_bpe_apply_chain(expr: str, n_merges: int) -> str:
    for i in range(1, n_merges + 1):
        expr = _sql_bpe_merge_expr(expr, i)
    return expr


def _sql_bloom() -> str:
    # mirrors functions/bloom.py: double hashing (h1 + i*h2 + i^2) mod m,
    # 63 bits per int64 word (sign bit clear — DuckDB raises on 1<<63)
    idx = '[' + ', '.join(str(i) for i in range(_BLOOM_K)) + ']'
    mask = "CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)"
    return f'''
        WITH vocab AS MATERIALIZED (
            SELECT DISTINCT word AS key
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            WHERE word <> ''
        ),
        present AS MATERIALIZED (
            SELECT DISTINCT word AS key
            FROM (SELECT unnest({_TOKS}) AS word FROM documents
                  WHERE doc_id % 7 = 0)
            WHERE word <> ''
        ),
        probes AS MATERIALIZED (
            SELECT key FROM present
            UNION
            SELECT key || 'zz' FROM present
        ),
        vpos AS (
            SELECT unnest(list_transform({idx},
                i -> (h1 + i * h2 + i * i) % {_BLOOM_M})) AS pos
            FROM (SELECT h1, (h1 * 48271 + 11) % 2147483647 AS h2
                  FROM (SELECT {_SQL_HASH('key')} AS h1 FROM vocab))
        ),
        bitmap AS MATERIALIZED (
            SELECT pos // 63 AS word_idx, bit_or({mask}) AS bits
            FROM vpos GROUP BY 1
        ),
        ppos AS (
            SELECT key, unnest(list_transform({idx},
                i -> (h1 + i * h2 + i * i) % {_BLOOM_M})) AS pos
            FROM (SELECT key, h1,
                         (h1 * 48271 + 11) % 2147483647 AS h2
                  FROM (SELECT key, {_SQL_HASH('key')} AS h1
                        FROM probes))
        )
        SELECT p.key,
               (count(CASE WHEN b.bits IS NOT NULL
                            AND (b.bits & ({mask.replace('pos', 'p.pos')}))
                                <> 0 THEN 1 END) = {_BLOOM_K})
                   AS maybe_present,
               (max(CASE WHEN v.key IS NOT NULL THEN 1 ELSE 0 END) = 1)
                   AS actually_present
        FROM ppos p
        LEFT JOIN bitmap b ON b.word_idx = p.pos // 63
        LEFT JOIN vocab v ON v.key = p.key
        GROUP BY p.key
    '''


def oracle_sql() -> dict[str, str]:
    d = {
        'extract_text': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
        ''',
        'extract_word_spans': _WORDS_CTE + '''
            SELECT conv_id, turn_idx, word_idx, word,
                   CAST(10 + 100 * word_idx AS INTEGER) AS x0,
                   CAST(940 AS INTEGER) AS y0,
                   CAST(100 + 100 * word_idx AS INTEGER) AS x1,
                   CAST(990 AS INTEGER) AS y1
            FROM words
        ''',
        'extract_sexpr': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   '(page 0 0 ' || CAST(len({_TOKS}) * 100 + 100 AS VARCHAR)
                   || ' 1000 (line 10 940 '
                   || CAST(len({_TOKS}) * 100 AS VARCHAR) || ' 990 '
                   || (
                        SELECT string_agg(
                            '(word ' || CAST(10 + 100 * (t.i - 1) AS VARCHAR)
                            || ' 940 '
                            || CAST(100 + 100 * (t.i - 1) AS VARCHAR)
                            || ' 990 "' || t.tok || '")', ' '
                            ORDER BY t.i)
                        FROM (
                            SELECT UNNEST({_TOKS}) AS tok,
                                   generate_subscripts({_TOKS}, 1) AS i
                        ) AS t
                   )
                   || '))' AS extracted_sexpr
            FROM documents
        ''',
        'extract_roundtrip': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
        ''',
        'error_channel': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   (doc_id % 31 = 0) AS failed,
                   CASE WHEN doc_id % 31 = 0 THEN ''
                        ELSE {_NORM} END AS extracted_text
            FROM documents
        ''',
        # both page-filter grammars; 'list' is the hardcoded expansion
        # of '3,7-9' — the Spark side runs the page-list grammar, so a
        # grammar bug shows as a rows mismatch
        'turn_filter': f'''
            SELECT 'range' AS filter_kind,
                   {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
            WHERE {_TIDX} BETWEEN 2 AND 5
            UNION ALL
            SELECT 'list', {_CONV}, {_TIDX}, {_NORM}
            FROM documents
            WHERE {_TIDX} IN (3, 7, 8, 9)
        ''',
        # sanitizer semantics spelled out: 2 bare invalid bytes -> 2
        # replacement chars, a truncated 3-byte sequence -> ONE (maximal
        # subpart), control 0x01 -> one; appended as an extra ' ab...cd'
        # word token
        'extract_fix_utf8': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} || ' ab' ||
                   CASE WHEN {_TIDX} % 2 = 0
                        THEN chr(65533) || chr(65533)
                        ELSE chr(65533) END ||
                   chr(65533) || 'cd' AS extracted_text
            FROM documents
        ''',
        'turns_per_conv': f'''
            SELECT {_CONV} AS conv_id,
                   count(*) AS n_turns,
                   max({_TIDX}) AS max_turn_idx
            FROM documents
            GROUP BY 1
        ''',
        'conversation_reassembly': f'''
            SELECT {_CONV} AS conv_id,
                   string_agg({_NORM}, chr(10) ORDER BY {_TIDX})
                       AS conversation_text,
                   count(*) AS n_turns
            FROM documents
            GROUP BY 1
        ''',
        'extraction_metrics': f'''
            SELECT {_CONV} AS conv_id,
                   count(*) AS n_turns,
                   CAST(0 AS BIGINT) AS n_errors,
                   CAST(sum(len({_TOKS}) + 2) AS BIGINT) AS n_spans,
                   CAST(sum(length({_NORM})) AS BIGINT) AS n_chars
            FROM documents
            GROUP BY 1
        ''',
        'dedup_conversations': f'''
            WITH convs AS (
                SELECT {_CONV} AS conv_id,
                       string_agg({_NORM}, chr(10) ORDER BY {_TIDX})
                           AS conversation_text
                FROM documents
                GROUP BY 1
            )
            SELECT md5(conversation_text) AS conv_hash,
                   min(conv_id) AS rep_conv_id,
                   count(*) AS n_dupes
            FROM convs
            GROUP BY 1
        ''',
        'corpus_split': f'''
            WITH h AS (
                SELECT doc_id,
                       {_SQL_HASH(_NORM)} % 100 AS b
                FROM documents
            )
            SELECT doc_id, CAST(b AS INTEGER) AS split_bucket,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'validation'
                        ELSE 'test' END AS split
            FROM h
        ''',
        'stratified_sample': f'''
            WITH h AS (
                SELECT doc_id, lang,
                       {_SQL_HASH(f"'sample:' || lang || ':' || {_NORM}")}
                           % {textops.SAMPLE_DENOM} AS b
                FROM documents
            )
            SELECT doc_id, lang AS stratum, CAST(b AS INTEGER) AS sample_bucket
            FROM h
            WHERE b < CASE lang WHEN 'en' THEN 2500
                                WHEN 'zh' THEN 10000
                                WHEN 'de' THEN 0
                                ELSE 5000 END
        ''',
        'quality_repetition': f'''
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 11 = 0
                            THEN {_NORM} ||
                                 ' click here click here click here'
                            ELSE {_NORM} END AS t
                FROM documents
            ),
            tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM d),
            big AS (
                SELECT doc_id, len(toks) AS n_tokens,
                       len(list_distinct(toks)) AS n_distinct,
                       unnest(CASE WHEN len(toks) >= 2
                              THEN list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])
                              ELSE [NULL] END) AS bigram
                FROM tok
            ),
            pb AS (
                SELECT doc_id, n_tokens, n_distinct, bigram,
                       count(*) AS c
                FROM big GROUP BY 1, 2, 3, 4
            ),
            pd AS (
                SELECT doc_id, n_tokens, n_distinct,
                       sum(CASE WHEN bigram IS NOT NULL THEN c
                           ELSE 0 END) AS n_bigrams,
                       max(CASE WHEN bigram IS NOT NULL THEN c
                           ELSE 0 END) AS top
                FROM pb GROUP BY 1, 2, 3
            )
            SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
                   round(1.0 - n_distinct * 1.0
                         / greatest(n_tokens, 1), 6) AS dup_token_frac,
                   CAST(n_bigrams AS INTEGER) AS n_bigrams,
                   round(top * 1.0 / greatest(n_bigrams, 1), 6)
                       AS top_bigram_frac
            FROM pd
        ''',
        'split_contamination': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            th AS ({_sql_token_hashes('tok')}),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest({_SQL_SHINGLE_HASHES}) AS shingle
                FROM th
            ),
            split AS (
                SELECT doc_id, {_SQL_HASH(_NORM)} % 100 AS b
                FROM documents
            ),
            te AS (SELECT sh.doc_id, shingle FROM sh
                   JOIN split USING (doc_id) WHERE b >= 90),
            tr AS (SELECT sh.doc_id, shingle FROM sh
                   JOIN split USING (doc_id) WHERE b < 80),
            te_sizes AS (
                SELECT doc_id AS test_doc, count(*) AS n_test
                FROM te GROUP BY 1
            ),
            pairs AS (
                SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
                       count(*) AS n_common
                FROM te JOIN tr ON te.shingle = tr.shingle
                GROUP BY 1, 2
                HAVING count(*) >= 2
            )
            SELECT test_doc, train_doc,
                   n_common AS n_common_shingles,
                   round(n_common * 1.0 / n_test, 6) AS contamination
            FROM pairs JOIN te_sizes USING (test_doc)
        ''',
        'domain_mix': f'''
            WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1
            ),
            total AS (
                SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per
            )
            SELECT source, n_docs, n_tokens,
                   round(n_tokens / t, 6) AS token_share,
                   round(({_SQL_MIX_TARGET}) / (n_tokens / t), 6)
                       AS mix_weight
            FROM per, total
        ''',
        'doc_chunks': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            ch AS (
                SELECT doc_id, toks,
                       unnest(range(0, 1 + CAST(ceil(
                           greatest(len(toks) - 64, 0) / 48.0)
                           AS INTEGER))) AS k
                FROM tok
            )
            SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
                   CAST(len(toks[k*48+1 : k*48+64]) AS INTEGER)
                       AS n_tokens,
                   array_to_string(toks[k*48+1 : k*48+64], ' ')
                       AS chunk_text
            FROM ch
        ''',
        # integer-quantized log-probs (1e6 grid): LONG sums are exact
        # and order-independent, so Spark and DuckDB agree bit-for-bit
        'dedup_substring_spans': _sql_dup_spans(),
        'snapshot_mview_cdc': '''
            WITH base AS (SELECT doc_id, n_chars FROM documents),
            ins3 AS (
                SELECT doc_id + 1000000 AS doc_id, n_chars
                FROM base WHERE doc_id % 13 = 0
            ),
            vis3 AS (
                SELECT * FROM base WHERE doc_id % 9 <> 0
                UNION ALL SELECT * FROM ins3
            )
            SELECT doc_id, n_chars FROM vis3
            WHERE doc_id % 7 <> 3 AND n_chars >= 200
        ''',
        'snapshot_changelog': '''
            WITH base AS (SELECT doc_id, n_chars FROM documents),
            ins3 AS (
                SELECT doc_id + 1000000 AS doc_id, n_chars
                FROM base WHERE doc_id % 13 = 0
            ),
            vis3 AS (
                SELECT * FROM base WHERE doc_id % 9 <> 0
                UNION ALL SELECT * FROM ins3
            )
            SELECT doc_id, n_chars,
                   'insert' AS _change_type,
                   CAST(1 AS INTEGER) AS _commit_version FROM base
            UNION ALL
            SELECT doc_id, n_chars, 'delete', CAST(2 AS INTEGER)
            FROM base WHERE doc_id % 9 = 0
            UNION ALL
            SELECT doc_id, n_chars, 'insert', CAST(3 AS INTEGER)
            FROM ins3
            UNION ALL
            SELECT doc_id, n_chars, 'delete', CAST(4 AS INTEGER)
            FROM vis3 WHERE doc_id % 7 = 3
        ''',
        'winnowing_fingerprints': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks
                         FROM documents),
            th AS ({_sql_token_hashes('tok')}),
            pos_sh AS (
                SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos,
                       {_sql_pos_shingle(3)} AS sh
                FROM th,
                     LATERAL (SELECT unnest(range(1, len(hs) - 1))
                              AS i) t
                WHERE len(hs) >= 3
            ),
            keyed AS (
                SELECT doc_id, pos, sh * 1048576 + pos AS key
                FROM pos_sh
            ),
            win AS (
                SELECT doc_id, pos,
                       min(key) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND 3 FOLLOWING) AS wmin,
                       count(*) OVER (PARTITION BY doc_id) AS m
                FROM keyed
            ),
            sel AS (
                SELECT DISTINCT doc_id, wmin FROM win
                WHERE pos <= greatest(m - 4, 0)
            )
            SELECT doc_id,
                   CAST(wmin % 1048576 AS INTEGER) AS fp_pos,
                   CAST(wmin // 1048576 AS BIGINT) AS fp
            FROM sel
        ''',
        'dedup_substring_capped': _sql_dup_spans(max_df=2),
        'dedup_substring_apply': f'''
            WITH spans AS ({_sql_dup_spans()}),
            toks AS (
                SELECT doc_id, t.tok, CAST(t.i - 1 AS INTEGER) AS pos
                FROM documents,
                     LATERAL (SELECT unnest({_TOKS}) AS tok,
                              generate_subscripts({_TOKS}, 1) AS i) t
            ),
            kept AS (
                SELECT toks.doc_id, tok, pos FROM toks
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans s
                    WHERE s.doc_id = toks.doc_id
                      AND pos >= s.span_start AND pos < s.span_end)
            ),
            agg AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                       CAST(count(*) AS INTEGER) AS n_tokens
                FROM kept GROUP BY doc_id
            ),
            tot AS (
                SELECT doc_id, CAST(len({_TOKS}) AS INTEGER) AS total
                FROM documents
            )
            SELECT t.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   coalesce(a.n_tokens, 0) AS n_tokens,
                   CAST(t.total - coalesce(a.n_tokens, 0) AS INTEGER)
                       AS n_removed
            FROM tot t LEFT JOIN agg a USING (doc_id)
        ''',
        'oversized_ngrams': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            th AS ({_sql_token_hashes('tok')}),
            pos_sh AS (
                SELECT doc_id, {_sql_pos_shingle(5)} AS sh
                FROM th,
                     LATERAL (SELECT unnest(range(1, len(hs) - 3)) AS i) t
                WHERE len(hs) >= 5
            )
            SELECT sh, count(*) AS df
            FROM (SELECT DISTINCT doc_id, sh FROM pos_sh)
            GROUP BY sh HAVING count(*) > 2
        ''',
        'lm_quality': f'''
            WITH {_SQL_LM_SCORED}
            SELECT doc_id, n_trigrams, lm_score FROM scored
        ''',
        'quality_buckets': f'''
            WITH {_SQL_LM_SCORED},
            cuts AS (
                SELECT round(quantile_cont(lm_score, 1.0/3), 6) AS q33,
                       round(quantile_cont(lm_score, 2.0/3), 6) AS q66
                FROM scored
            )
            SELECT doc_id, lm_score,
                   CASE WHEN lm_score IS NULL THEN 'unscored'
                        WHEN lm_score >= q66 THEN 'head'
                        WHEN lm_score >= q33 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored, cuts
        ''',
        'corpus_pipeline': f'''
            WITH {_SQL_LM_SCORED},
            cuts AS (
                SELECT round(quantile_cont(lm_score, 1.0/3), 6) AS q33,
                       round(quantile_cont(lm_score, 2.0/3), 6) AS q66
                FROM scored
            ),
            buck AS (
                SELECT doc_id,
                       CASE WHEN lm_score IS NULL THEN 'unscored'
                            WHEN lm_score >= q66 THEN 'head'
                            WHEN lm_score >= q33 THEN 'middle'
                            ELSE 'tail' END AS bucket
                FROM scored, cuts
            ),
            tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            lang AS (
                SELECT doc_id,
                       {', '.join(
                           f'CAST({_sql_stop_hits(lang)} AS INTEGER) '
                           f'AS hits_{lang}'
                           for lang in LANG_ORDER)}
                FROM tok
            ),
            pred AS (
                SELECT doc_id,
                       CASE
                         WHEN greatest(hits_en, hits_de, hits_fr,
                                       hits_es) <= 0 THEN 'und'
                         {' '.join(
                             f"WHEN hits_{lang} = greatest(hits_en, "
                             f"hits_de, hits_fr, hits_es) "
                             f"THEN '{lang}'"
                             for lang in LANG_ORDER)}
                       END AS lang_pred
                FROM lang
            ),
            firsts AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           row_number() OVER (
                               PARTITION BY md5({_NORM})
                               ORDER BY doc_id) AS rn
                    FROM documents)
                WHERE rn = 1
            )
            SELECT f.doc_id, f.text
            FROM firsts f
            JOIN pred p USING (doc_id)
            JOIN buck b USING (doc_id)
            WHERE p.lang_pred = 'en' AND b.bucket <> 'tail'
        ''',
        'dedup_lines': f'''
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                            THEN text || {_SQL_LINES_SUFFIX}
                            ELSE text END AS t
                FROM documents
            ),
            lines AS (
                SELECT doc_id, CAST(l.i - 1 AS INTEGER) AS line_idx, l.ln
                FROM d, LATERAL (
                    SELECT unnest(string_split_regex(t, '\\r?\\n')) AS ln,
                           generate_subscripts(
                               string_split_regex(t, '\\r?\\n'), 1) AS i
                ) l
            ),
            marked AS (
                SELECT doc_id, line_idx, ln,
                       (length(ln) < 10 OR row_number() OVER (
                            PARTITION BY ln ORDER BY doc_id, line_idx) = 1)
                           AS keep
                FROM lines
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN keep THEN ln END,
                                       chr(10) ORDER BY line_idx), '')
                       AS clean_text,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INTEGER)
                       AS n_lines,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INTEGER)
                       AS n_removed
            FROM marked GROUP BY doc_id
        ''',
        'gopher_quality': f'''
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN {_NORM} || ' ## ### #### ... ...'
                            WHEN doc_id % 13 = 0
                            THEN {_NORM} ||
                                 ' 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4'
                            ELSE {_NORM} END AS t
                FROM documents
            ),
            tok AS (
                SELECT doc_id, t,
                       string_split_regex(trim(t), '\\s+') AS toks
                FROM d
            ),
            feat AS (
                SELECT doc_id,
                       CAST(len(toks) AS INTEGER) AS n_words,
                       CAST(list_sum(list_transform(toks,
                            w -> length(w))) AS BIGINT) AS sum_len,
                       len(list_filter(toks,
                           w -> regexp_matches(w, '[a-zA-Z]')))
                           AS n_alpha_words,
                       {_sql_stop_hits('en')} AS stop_hits,
                       length(t) - length(replace(t, '#', ''))
                           AS hash_chars,
                       len(regexp_extract_all(t, '\\.\\.\\.'))
                           AS ellipses
                FROM tok
            )
            SELECT doc_id, n_words,
                   round(sum_len * 1.0 / greatest(n_words, 1), 6)
                       AS mean_word_len,
                   round((hash_chars + ellipses) * 1.0
                         / greatest(n_words, 1), 6) AS symbol_word_ratio,
                   round(n_alpha_words * 1.0 / greatest(n_words, 1), 6)
                       AS alpha_word_frac,
                   CAST(stop_hits AS INTEGER) AS stop_hits,
                   CAST(n_words BETWEEN 20 AND 100000
                        AND sum_len * 1.0 / greatest(n_words, 1)
                            BETWEEN 3.0 AND 10.0
                        AND (hash_chars + ellipses) * 1.0
                            / greatest(n_words, 1) <= 0.1
                        AND n_alpha_words * 1.0 / greatest(n_words, 1)
                            >= 0.8
                        AND stop_hits >= 2 AS INTEGER) AS keep
            FROM feat
        ''',
        'length_quantiles': '''
            SELECT lang AS stratum, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.25), 6) AS p25,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.75), 6) AS p75,
                   round(quantile_cont(n_chars, 0.95), 6) AS p95
            FROM documents
            GROUP BY lang
        ''',
        'dedup_apply': f'''
            WITH d AS (
                SELECT doc_id, lang,
                       md5(CASE WHEN doc_id % 10 = 7
                                THEN 'shared boilerplate footer text'
                                ELSE {_NORM} END) AS content_hash
                FROM documents
            )
            SELECT doc_id, lang, content_hash
            FROM d
            QUALIFY row_number() OVER (
                PARTITION BY content_hash ORDER BY doc_id) = 1
        ''',
        'c4_quality': f'''
            WITH d AS (
                SELECT doc_id,
                       {_NORM} || chr(10)
                       || 'the first injected line has enough words.'
                       || chr(10) || 'tiny.' || chr(10)
                       || 'the second injected line also has enough words.'
                       || chr(10)
                       || CASE WHEN doc_id % 4 = 0 THEN 'stray {{ brace'
                               WHEN doc_id % 4 = 1
                                   THEN 'lorem ipsum dolor sit amet.'
                               ELSE 'the third injected line rounds out '
                                    || 'the document.' END AS t
                FROM documents
            ),
            k AS (
                SELECT doc_id, t,
                       string_split(t, chr(10)) AS lines,
                       list_filter(string_split(t, chr(10)), ln ->
                           regexp_replace(ln, '^\\s+|\\s+$', '', 'g') <> ''
                           AND len(string_split_regex(regexp_replace(ln,
                               '^\\s+|\\s+$', '', 'g'), '\\s+')) >= 5
                           AND regexp_matches(regexp_replace(ln,
                               '^\\s+|\\s+$', '', 'g'), '[.!?"]$')) AS kept
                FROM d
            )
            SELECT doc_id,
                   CAST(len(lines) AS INTEGER) AS n_lines,
                   CAST(len(kept) AS INTEGER) AS n_kept_lines,
                   array_to_string(kept, chr(10)) AS kept_text,
                   CAST(len(kept) >= 3
                        AND NOT contains(t, '{{')
                        AND NOT contains(lower(t), 'lorem ipsum')
                        AS INTEGER) AS keep
            FROM k
        ''',
        'pii_scrub': f'''
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                            THEN {_NORM} || ' contact agent-'
                                 || CAST(doc_id AS VARCHAR)
                                 || '@example.com or 555-010-0142'
                            ELSE {_NORM} END AS t
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                        '{textops.PII_EMAIL_RE}')) AS INTEGER)
                       AS n_emails,
                   CAST(len(regexp_extract_all(t,
                        '{textops.PII_PHONE_RE}')) AS INTEGER)
                       AS n_phones,
                   regexp_replace(regexp_replace(t,
                        '{textops.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{textops.PII_PHONE_RE}', '<PHONE>', 'g')
                       AS scrubbed_text
            FROM d
        ''',
        'conversation_packing': f'''
            WITH t AS (
                SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                       CAST(len({_TOKS}) AS INTEGER) AS n_tokens
                FROM documents
            )
            SELECT conv_id, turn_idx, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (
                            PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / 512.0) AS INTEGER) AS chunk_id
            FROM t
        ''',
        'dedup_exact': f'''
            SELECT md5({_NORM}) AS text_hash,
                   min(doc_id) AS rep_doc_id,
                   count(*) AS n_dupes
            FROM documents
            GROUP BY 1
        ''',
        'token_stats': f'''
            SELECT doc_id,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
                   CAST(length(trim(text)) AS BIGINT) AS n_text_chars,
                   round(CAST(length(replace({_NORM}, ' ', ''))
                              AS DOUBLE) / len({_TOKS}), 4)
                       AS avg_token_len,
                   CAST(len(regexp_extract_all({_NORM},
                        '{BPE_PIECE_RE}')) AS INTEGER) AS n_bpe_pieces
            FROM documents
        ''',
        'dedup_ngram_jaccard': f'''
            WITH {_SQL_DOCS_DUPS}
            SELECT doc_a, doc_b, jaccard FROM jac
            WHERE jaccard >= 0.5
        ''',
        'dedup_clusters': f'''
            WITH RECURSIVE {_SQL_DOCS_DUPS},
            pairs AS (
                SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5
            ),
            adj AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL
                SELECT doc_b AS u, doc_a AS v FROM pairs
            ),
            verts AS (SELECT DISTINCT u AS v FROM adj),
            walk(v, root) AS (
                SELECT v, v FROM verts
                UNION
                SELECT a.v, w.root
                FROM walk w JOIN adj a ON a.u = w.v
            )
            SELECT v AS doc_id, min(root) AS cluster_id
            FROM walk GROUP BY v
        ''',
        'dedup_cluster_apply': f'''
            WITH RECURSIVE {_SQL_DOCS_DUPS},
            pairs AS (
                SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5
            ),
            adj AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL
                SELECT doc_b AS u, doc_a AS v FROM pairs
            ),
            verts AS (SELECT DISTINCT u AS v FROM adj),
            walk(v, root) AS (
                SELECT v, v FROM verts
                UNION
                SELECT a.v, w.root
                FROM walk w JOIN adj a ON a.u = w.v
            ),
            labels AS (
                SELECT v AS doc_id, min(root) AS cluster_id
                FROM walk GROUP BY v
            ),
            losers AS (
                SELECT doc_id FROM labels WHERE doc_id <> cluster_id
            )
            SELECT d.doc_id, d.text
            FROM docs d LEFT JOIN losers l USING (doc_id)
            WHERE l.doc_id IS NULL
        ''',
        'dedup_minhash_lsh': f'''
            WITH {_SQL_DOCS_DUPS},
            shing AS (
                SELECT doc_id, {_SQL_SHINGLE_HASHES} AS shingles
                FROM th
            ),
            sig AS (SELECT doc_id, {_SQL_MINHASH_SIG} FROM shing),
            bands AS (
                SELECT doc_id, unnest([{_SQL_BANDS}]) AS band FROM sig
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.doc_id < b.doc_id
            )
            SELECT j.doc_a, j.doc_b, j.jaccard
            FROM cand JOIN jac j
              ON j.doc_a = cand.doc_a AND j.doc_b = cand.doc_b
            WHERE j.jaccard >= 0.5
        ''',
        'simhash': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            th AS ({_sql_token_hashes('tok')})
            SELECT doc_id, {_SQL_SIMHASH} AS simhash
            FROM th
        ''',
        'dedup_simhash_pairs': f'''
            WITH {_SQL_DOCS_DUPS_BASE},
            tok AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
            th AS ({_sql_token_hashes('tok')}),
            sh AS (SELECT doc_id, {_SQL_SIMHASH} AS sim FROM th)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER)
                       AS hamming_dist
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3
        ''',
        'tfidf_top_terms': f'''
            WITH terms AS (
                SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM terms GROUP BY 1, 2
            ),
            idf AS (
                SELECT term, count(DISTINCT doc_id) AS df FROM terms
                GROUP BY 1
            ),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term,
                       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df),
                             6) AS tfidf
                FROM tf JOIN idf USING (term) CROSS JOIN n
            )
            SELECT doc_id, rank, term, tfidf FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS INTEGER) AS rank
                FROM scored
            ) WHERE rank <= 3
        ''',
        'language_id': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            hits AS (
                SELECT doc_id,
                       CAST(len(toks) AS INTEGER) AS n_tokens,
                       {', '.join(
                           f'CAST({_sql_stop_hits(lang)} AS INTEGER) '
                           f'AS hits_{lang}'
                           for lang in LANG_ORDER)}
                FROM tok
            )
            SELECT doc_id, n_tokens, hits_en, hits_de, hits_fr, hits_es,
                   CASE
                     WHEN greatest(hits_en, hits_de, hits_fr, hits_es) <= 0
                       THEN 'und'
                     {' '.join(
                         f"WHEN hits_{lang} = greatest(hits_en, hits_de, "
                         f"hits_fr, hits_es) THEN '{lang}'"
                         for lang in LANG_ORDER)}
                   END AS lang_pred,
                   round(greatest(hits_en, hits_de, hits_fr, hits_es) * 1.0
                         / greatest(n_tokens, 1), 6) AS stopword_ratio
            FROM hits
        ''',
        'language_id_ngram': f'''
            WITH base AS (
                SELECT doc_id, {_NORM} AS norm FROM documents
            ),
            hits AS (
                SELECT doc_id,
                       CAST(length(norm) - 2 AS INTEGER) AS n_trigrams,
                       {', '.join(
                           'CAST(len(list_filter(range(1, length(norm) - 1),'
                           ' i -> list_contains(['
                           + ', '.join(
                               "'" + t + "'"
                               for t in textops.TRIGRAM_PROFILES[lang])
                           + '], substr(norm, CAST(i AS INTEGER), 3))))'
                           f' AS INTEGER) AS hits_{lang}'
                           for lang in LANG_ORDER)}
                FROM base
            )
            SELECT doc_id, n_trigrams, hits_en, hits_de, hits_fr, hits_es,
                   CASE
                     WHEN greatest(hits_en, hits_de, hits_fr, hits_es) <= 0
                       THEN 'und'
                     {' '.join(
                         f"WHEN hits_{lang} = greatest(hits_en, hits_de, "
                         f"hits_fr, hits_es) THEN '{lang}'"
                         for lang in LANG_ORDER)}
                   END AS lang_pred,
                   round(greatest(hits_en, hits_de, hits_fr, hits_es) * 1.0
                         / greatest(n_trigrams, 1), 6) AS trigram_ratio
            FROM hits
        ''',
        'quality_score': f'''
            WITH base AS (
                SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks
                FROM documents
            ),
            feat AS (
                SELECT doc_id,
                       CAST(len(toks) AS INTEGER) AS n_tokens,
                       length(norm) AS n_chars,
                       length(regexp_replace(norm, '[^a-zA-Z]', '', 'g'))
                           AS alpha_chars,
                       length(regexp_replace(norm, '[^.,;:!?]', '', 'g'))
                           AS punct_chars,
                       {_sql_stop_hits('en')} AS stop_hits
                FROM base
            )
            SELECT doc_id, n_tokens,
                   round((n_chars - (n_tokens - 1)) * 1.0
                         / greatest(n_tokens, 1), 6) AS mean_token_len,
                   round(alpha_chars * 1.0 / greatest(n_chars, 1), 6)
                       AS alpha_ratio,
                   round(punct_chars * 1.0 / greatest(n_chars, 1), 6)
                       AS punct_ratio,
                   round(stop_hits * 1.0 / greatest(n_tokens, 1), 6)
                       AS stopword_ratio,
                   round(
                     least(n_tokens / 100.0, 1.0) * 0.25
                     + (alpha_chars * 1.0 / greatest(n_chars, 1)) * 0.25
                     + (1.0 - punct_chars * 1.0 / greatest(n_chars, 1))
                       * 0.25
                     + least(stop_hits * 5.0 / greatest(n_tokens, 1), 1.0)
                       * 0.25, 6) AS quality_score
            FROM feat
        ''',
        'doc_fingerprint': f'''
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            th AS ({_sql_token_hashes('tok')}),
            h AS (
                SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hashes
                FROM th
            )
            SELECT doc_id,
                   array_to_string(list_transform(
                       list_sort(hashes)[1:4], x -> CAST(x AS VARCHAR)),
                       '-') AS fingerprint,
                   list_aggregate(hashes, 'min') AS fp_min,
                   CAST(len(hashes) AS INTEGER) AS n_shingles
            FROM h
        ''',
        'embedding_kmeans': _sql_kmeans(),
        # the persisted-index gate returns the identical assignment
        # (the save/load roundtrip is bit-exact by contract)
        'ann_index_persisted': _sql_kmeans(),
        'ann_cosine_topk': _SQL_ANN_EXACT,
        'ann_recall': f'''
            WITH exact AS ({_SQL_ANN_EXACT}),
            approx AS ({_sql_ann_ivf(1)}),
            base AS (
                SELECT query_id, CAST(count(*) AS INTEGER) AS n_exact
                FROM exact GROUP BY 1
            ),
            hits AS (
                SELECT e.query_id, CAST(count(*) AS INTEGER) AS n_hit
                FROM exact e JOIN approx a
                  ON a.query_id = e.query_id
                 AND a.neighbor_id = e.neighbor_id
                GROUP BY 1
            )
            SELECT b.query_id, coalesce(h.n_hit, 0) AS n_hit, b.n_exact,
                   round(coalesce(h.n_hit, 0) * 1.0 / b.n_exact, 6)
                       AS recall
            FROM base b LEFT JOIN hits h USING (query_id)
        ''',
        'ann_recall_kmeans': _sql_ann_recall_kmeans(),
        'script_profile': f'''
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 3
                                 THEN '{SCRIPT_THAI_TEXT}'
                            WHEN doc_id % 10 = 6
                                 THEN '{SCRIPT_CJK_TEXT}'
                            WHEN doc_id % 10 = 9
                                 THEN text || '{SCRIPT_CYR_SUFFIX}'
                            ELSE text END AS text
                FROM documents
            ),
            nrm AS (SELECT doc_id, {_NORM} AS t FROM d),
            fr AS (
                SELECT doc_id, CAST(length(t) AS INTEGER) AS n_chars,
                       {_sql_script_fracs()}
                FROM nrm
            )
            SELECT doc_id, n_chars, latin_frac, cyrillic_frac,
                   cjk_frac, thai_frac,
                   CASE WHEN greatest(latin_frac, cyrillic_frac,
                                      cjk_frac, thai_frac) <= 0
                             THEN 'other'
                        WHEN latin_frac = greatest(latin_frac,
                             cyrillic_frac, cjk_frac, thai_frac)
                             THEN 'latin'
                        WHEN cyrillic_frac = greatest(latin_frac,
                             cyrillic_frac, cjk_frac, thai_frac)
                             THEN 'cyrillic'
                        WHEN cjk_frac = greatest(latin_frac,
                             cyrillic_frac, cjk_frac, thai_frac)
                             THEN 'cjk'
                        WHEN thai_frac = greatest(latin_frac,
                             cyrillic_frac, cjk_frac, thai_frac)
                             THEN 'thai'
                   END AS dominant
            FROM fr
        ''',
        'extract_details': f'''
            SELECT 'lines' AS detail,
                   {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   '(page 0 0 ' || CAST(len({_TOKS}) * 100 + 100 AS VARCHAR)
                   || ' 1000 (line 10 940 '
                   || CAST(len({_TOKS}) * 100 AS VARCHAR) || ' 990 "'
                   || {_NORM} || '"))' AS extracted_sexpr
            FROM documents
            UNION ALL
            SELECT 'chars', {_CONV}, {_TIDX},
                   '(page 0 0 ' || CAST(len({_TOKS}) * 100 + 100 AS VARCHAR)
                   || ' 1000 (line 10 940 '
                   || CAST(len({_TOKS}) * 100 AS VARCHAR) || ' 990 '
                   || (
                        SELECT string_agg(
                            '(word ' || CAST(10 + 100 * (t.i - 1) AS VARCHAR)
                            || ' 940 '
                            || CAST(100 + 100 * (t.i - 1) AS VARCHAR)
                            || ' 990 '
                            || (
                                SELECT string_agg(
                                    '(char '
                                    || CAST(10 + 100 * (t.i - 1)
                                         + (90 * (ci.i - 1))
                                           // length(t.tok) AS VARCHAR)
                                    || ' 940 '
                                    || CAST(10 + 100 * (t.i - 1)
                                         + (90 * ci.i)
                                           // length(t.tok) AS VARCHAR)
                                    || ' 990 "'
                                    || substr(t.tok, ci.i, 1) || '")', ' '
                                    ORDER BY ci.i)
                                FROM (
                                    SELECT UNNEST(range(1,
                                        length(t.tok) + 1)) AS i
                                ) AS ci
                            )
                            || ')', ' '
                            ORDER BY t.i)
                        FROM (
                            SELECT UNNEST({_TOKS}) AS tok,
                                   generate_subscripts({_TOKS}, 1) AS i
                        ) AS t
                   )
                   || '))'
            FROM documents
        ''',
        'extract_uax29': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
        ''',
        # all three rotation branches in one gate. 180: even-k flip.
        # odd-k: hOCR word box (10+100i, 10, 100+100i, 60) on a
        # (W=100n+100, H=1000) page maps through _InverseRotation —
        # k=1: (x,y)->(H-y, W-x); k=3: (x,y)->(y, x) — then corner-sorts
        'extract_rotated': _WORDS_CTE + '''
            SELECT 90 AS rotation, conv_id, turn_idx, word_idx, word,
                   CAST(940 AS INTEGER) AS x0,
                   CAST(100 * (n_words - word_idx) AS INTEGER) AS y0,
                   CAST(990 AS INTEGER) AS x1,
                   CAST(100 * (n_words - word_idx) + 90 AS INTEGER) AS y1
            FROM words
            UNION ALL
            SELECT 180, conv_id, turn_idx, word_idx, word,
                   CAST(n_words * 100 + 100 - (100 + 100 * word_idx)
                        AS INTEGER),
                   CAST(10 AS INTEGER),
                   CAST(n_words * 100 + 100 - (10 + 100 * word_idx)
                        AS INTEGER),
                   CAST(60 AS INTEGER)
            FROM words
            UNION ALL
            SELECT 270, conv_id, turn_idx, word_idx, word,
                   CAST(10 AS INTEGER),
                   CAST(10 + 100 * word_idx AS INTEGER),
                   CAST(60 AS INTEGER),
                   CAST(100 + 100 * word_idx AS INTEGER)
            FROM words
        ''',
        # corpus has no natural exact-dup texts (dedup_exact: 500
        # distinct hashes), so the expected output is every turn exactly
        # once — a missed suppression (two rows for a duplicated text)
        # or an over-drop would mismatch the row count/hash
        'streaming_dedup': f'''
            SELECT md5({_NORM}) AS text_hash,
                   {_CONV} AS conv_id,
                   {_TIDX} AS turn_idx,
                   CASE {_TIDX} % 3 WHEN 0 THEN 'user'
                        WHEN 1 THEN 'assistant'
                        ELSE 'tool' END AS role
            FROM documents
        ''',
        'tool_call_stats': f'''
            WITH t AS (
                SELECT {_CONV} AS conv_id, doc_id,
                       CASE {_TIDX} % 3 WHEN 0 THEN 'user'
                            WHEN 1 THEN 'assistant'
                            ELSE 'tool' END AS role
                FROM documents
            )
            SELECT conv_id,
                   CAST(count(*) AS INTEGER) AS n_turns,
                   CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
                        AS INTEGER) AS n_tool_turns,
                   CAST(count(DISTINCT CASE WHEN role = 'tool'
                                            THEN 'search' END)
                        AS INTEGER) AS n_tools,
                   CAST(max(doc_id) - min(doc_id) AS BIGINT)
                       AS span_seconds
            FROM t GROUP BY 1
        ''',
        'role_sequence': f'''
            WITH t AS (
                SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                       CASE {_TIDX} % 3 WHEN 0 THEN 'user'
                            WHEN 1 THEN 'assistant'
                            ELSE 'tool' END AS role
                FROM documents
            )
            SELECT conv_id,
                   string_agg(role, '>' ORDER BY turn_idx) AS role_seq
            FROM t GROUP BY 1
        ''',
        'streaming_extraction': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
        ''',
        # full recompute as the resume oracle: the two-phase
        # crash-resumed table must contain exactly one row per turn
        'checkpoint_resume': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
        ''',
        # snapshot-store resume: like checkpoint_resume, the committed
        # table must equal a clean full recompute, one row per turn
        'checkpoint_snapshot': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   {_NORM} AS extracted_text
            FROM documents
        ''',
        'bloom_filter': _sql_bloom(),
        # counter arithmetic mirrored from functions/cms.py: finalized
        # fold hash, row-salted double hashing, min over d counters
        'cms_counts': f'''
            WITH occ AS MATERIALIZED (
                SELECT word AS key
                FROM (SELECT unnest({_TOKS}) AS word FROM documents)
                WHERE word <> ''
            ),
            hashed AS MATERIALIZED (
                SELECT key,
                       (h * 48271 + 11) % 2147483647 AS h2, h
                FROM (
                    SELECT key,
                           ((h0 * 48271 + 11) % 2147483647 * 69621 + 7)
                               % 2147483647 AS h
                    FROM (SELECT key, {_SQL_HASH('key')} AS h0
                          FROM occ)
                )
            ),
            cells AS MATERIALIZED (
                SELECT u.j AS row_, (h + u.j * h2 + u.j * u.j)
                           % {_CMS_W} AS pos, key
                FROM hashed,
                     (SELECT unnest(range(0, {_CMS_D})) AS j) u
            ),
            counters AS MATERIALIZED (
                SELECT row_, pos, count(*) AS n
                FROM cells GROUP BY 1, 2
            )
            SELECT c.key,
                   CAST(min(ct.n) AS BIGINT) AS est,
                   CAST(min(tr.true_n) AS BIGINT) AS true_n
            FROM (SELECT DISTINCT row_, pos, key FROM cells) c
            JOIN counters ct USING (row_, pos)
            JOIN (SELECT key, count(*) AS true_n FROM occ GROUP BY 1) tr
              ON tr.key = c.key
            GROUP BY c.key
        ''',
        # register/rank arithmetic mirrored from functions/hll.py:
        # two finalization rounds, register = h mod m, payload = h div
        # m, rank = W+1-bit_length
        'hll_registers': f'''
            SELECT CAST(h % {1 << _HLL_P} AS INTEGER) AS register,
                   CAST(max(CASE WHEN h // {1 << _HLL_P} = 0
                                 THEN {31 - _HLL_P + 1}
                                 ELSE {31 - _HLL_P + 1}
                                      - length(bin(h // {1 << _HLL_P}))
                            END) AS INTEGER) AS max_rank
            FROM (
                SELECT ((h0 * 48271 + 11) % 2147483647 * 69621 + 7)
                           % 2147483647 AS h
                FROM (
                    SELECT {_SQL_HASH('word')} AS h0
                    FROM (SELECT unnest({_TOKS}) AS word FROM documents)
                    WHERE word <> ''
                )
            )
            GROUP BY 1
        ''',
        # composition oracle: the BPE CTE chain + the dedup survivor
        # set + the token-budget filter, stitched on doc_id (the
        # engine side additionally runs the bloom prefilter, which
        # must be invisible here)
        'ingest_pipeline': _sql_bpe_ctes(_BPE_MERGES) + f''',
            reprd AS (
                SELECT doc_id,
                       len(string_split(norm, ' ')) AS n_words,
                       replace(regexp_replace(norm, '(.)', '<\\1>', 'g'),
                               '< >', '/') AS r0
                FROM (SELECT doc_id, {_SQL_BPE_NORM} AS norm
                      FROM documents)
            ),
            toks AS (
                SELECT doc_id,
                       CAST(len({_SQL_BPE_TOKS.format(src='toks_str')})
                            AS INTEGER) AS n_tokens,
                       CAST(n_words AS INTEGER) AS n_words
                FROM (SELECT doc_id, n_words,
                             {_sql_bpe_apply_chain('r0', _BPE_MERGES)}
                                 AS toks_str
                      FROM reprd)
            ),
            keyed AS (
                SELECT doc_id, md5({_NORM}) AS content_hash
                FROM documents
            ),
            seenh AS (
                SELECT DISTINCT content_hash FROM keyed
                WHERE doc_id % 3 = 0
            ),
            surv AS (
                SELECT min(k.doc_id) AS doc_id
                FROM keyed k LEFT JOIN seenh s USING (content_hash)
                WHERE s.content_hash IS NULL
                GROUP BY k.content_hash
            )
            SELECT t.doc_id, t.n_tokens, t.n_words
            FROM toks t JOIN surv USING (doc_id)
            WHERE t.n_tokens BETWEEN 20 AND 400
        ''',
        # the streamed, registry-backed variant of dedup_incremental:
        # seed = every 5th doc's hash; survivors = min-doc_id row per
        # unseen hash (batch-2 re-deliveries are full copies, so the
        # result is delivery-order-independent)
        'streaming_ingest': f'''
            WITH keyed AS (
                SELECT doc_id, {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                       text, md5({_NORM}) AS h
                FROM documents
            ),
            seen AS (
                SELECT DISTINCT h FROM keyed WHERE doc_id % 5 = 0
            )
            SELECT k.conv_id, k.turn_idx, k.text
            FROM keyed k
            JOIN (
                SELECT h, min(doc_id) AS doc_id
                FROM keyed
                WHERE h NOT IN (SELECT h FROM seen)
                GROUP BY h
            ) w ON w.doc_id = k.doc_id
        ''',
        # surviving corpus after the content-level takedown (rows whose
        # hash matches ANY opted-out doc's content are gone)
        'corpus_takedown': f'''
            WITH keyed AS (
                SELECT doc_id, md5({_NORM}) AS content_hash
                FROM documents
            )
            SELECT doc_id, content_hash
            FROM keyed
            WHERE content_hash NOT IN (
                SELECT DISTINCT content_hash FROM keyed
                WHERE doc_id % 9 = 0
            )
        ''',
        # bloom-agnostic on purpose: the prefiltered survivor set must
        # equal the plain anti-join + batch-internal keep-first
        'dedup_incremental': f'''
            WITH keyed AS (
                SELECT doc_id, md5({_NORM}) AS content_hash
                FROM documents
            ),
            seen AS (
                SELECT DISTINCT content_hash FROM keyed
                WHERE doc_id % 3 = 0
            )
            SELECT min(k.doc_id) AS doc_id, k.content_hash
            FROM keyed k LEFT JOIN seen s USING (content_hash)
            WHERE s.content_hash IS NULL
            GROUP BY k.content_hash
        ''',
        'bpe_pair_counts': _sql_bpe_ctes(0) + f'''
            SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
            FROM ({_SQL_BPE_PAIRS.format(prev=0)})
            GROUP BY pair
            ORDER BY n DESC, pair
            LIMIT 20
        ''',
        'bpe_train': _sql_bpe_ctes(_BPE_MERGES) + ' ' + ' UNION ALL '.join(
            f'SELECT CAST({i} AS INTEGER) AS rank,'
            f' (SELECT pair FROM p{i}) AS pair'
            for i in range(1, _BPE_MERGES + 1)),
        'bpe_tokenize': _sql_bpe_ctes(_BPE_MERGES) + f''',
            reprd AS (
                SELECT doc_id,
                       len(string_split(norm, ' ')) AS n_words,
                       replace(regexp_replace(norm, '(.)', '<\\1>', 'g'),
                               '< >', '/') AS r0
                FROM (SELECT doc_id, {_SQL_BPE_NORM} AS norm
                      FROM documents)
            )
            SELECT doc_id,
                   CAST(len({_SQL_BPE_TOKS.format(src='toks_str')})
                        AS INTEGER) AS n_tokens,
                   CAST(n_words AS INTEGER) AS n_words,
                   toks_str
            FROM (SELECT doc_id, n_words,
                         {_sql_bpe_apply_chain('r0', _BPE_MERGES)}
                             AS toks_str
                  FROM reprd)
        ''',
        'snapshot_upsert': '''
            WITH src AS (
                SELECT doc_id, 'v2 ' || text AS text,
                       n_chars + 3 AS n_chars
                FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text, n_chars
                FROM documents WHERE doc_id % 11 = 0
            )
            SELECT doc_id, text, n_chars FROM src
            UNION ALL
            SELECT doc_id, text, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM src)
        ''',
        'snapshot_skipping': '''
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id BETWEEN 400 AND 449
        ''',
        'snapshot_changes': '''
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id >= 250
        ''',
        'snapshot_evolution': '''
            SELECT doc_id, n_chars,
                   CASE WHEN doc_id >= 250 THEN lang END AS lang
            FROM documents
        ''',
        'snapshot_zorder': '''
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id < 250 AND n_chars >= 300
        ''',
        'snapshot_mview': '''
            SELECT doc_id, n_chars FROM documents
            WHERE lang = 'en'
        ''',
        'jsonl_roundtrip': '''
            SELECT doc_id, lang, text, n_chars FROM documents
        ''',
        'snapshot_skipping_time': '''
            SELECT event_id, ts, user_id, event_type FROM events
            WHERE ts >= TIMESTAMP '2024-01-20'
              AND ts < TIMESTAMP '2024-01-25'
        ''',
        'snapshot_ndv': f'''
            SELECT CAST(h % {1 << _HLL_P} AS INTEGER) AS register,
                   CAST(max(CASE WHEN h // {1 << _HLL_P} = 0
                                 THEN {31 - _HLL_P + 1}
                                 ELSE {31 - _HLL_P + 1}
                                      - length(bin(h // {1 << _HLL_P}))
                            END) AS INTEGER) AS max_rank
            FROM (
                SELECT ((h0 * 48271 + 11) % 2147483647 * 69621 + 7)
                           % 2147483647 AS h
                FROM (
                    SELECT {_SQL_HASH("CAST(doc_id AS VARCHAR)")} AS h0
                    FROM documents
                )
            )
            GROUP BY 1
        ''',
        'snapshot_skipping_bloom': f'''
            WITH d AS (
                SELECT doc_id, lang, md5({_NORM}) AS content_hash
                FROM documents
            )
            SELECT doc_id, lang, content_hash FROM d
            WHERE content_hash IN (
                SELECT content_hash FROM d WHERE doc_id IN (3, 7))
        ''',
        'snapshot_hidden_partitioning': '''
            SELECT event_id, ts, user_id,
                   round(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-15'
                              THEN value + 100.0 ELSE value END,
                         6) AS value
            FROM events
        ''',
        'sampled_quantiles': f'''
            WITH sample AS (
                SELECT lang, n_chars FROM documents
                WHERE {_SQL_HASH("CAST(doc_id AS VARCHAR)")} % 4 = 0
            )
            SELECT lang AS stratum, count(*) AS n_sampled,
                   round(quantile_cont(n_chars, 0.25), 6) AS p25,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.75), 6) AS p75,
                   round(quantile_cont(n_chars, 0.95), 6) AS p95
            FROM sample
            GROUP BY lang
        ''',
        'checkpoint_metrics': f'''
            SELECT CAST(8 AS INTEGER) AS n_buckets,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(0 AS BIGINT) AS n_errors,
                   CAST(sum(length({_NORM})) AS BIGINT) AS n_chars
            FROM documents
        ''',
        'stateful_conversation_state': f'''
            SELECT {_CONV} AS conv_id,
                   count(*) AS n_pages,
                   CAST(sum(length({_NORM})) AS BIGINT) AS n_chars,
                   CAST(max({_TIDX}) AS BIGINT) AS max_turn_idx
            FROM documents
            GROUP BY 1
        ''',
        # the image features are re-derived from the generative pattern
        # (sample i = (i + doc_id) % 256; PBM = (x+y+doc_id) % 2
        # checkerboard), NOT by decoding — so Spark's stdlib decoder and
        # the SQL closed form agree only if the codec layout
        # (headers, strides, padding, bit packing) is byte-correct.
        'multimodal_features': f'''
            WITH {_SQL_MEDIA_BASE},
            imgf AS ({_SQL_MEDIA_IMGF})
            SELECT doc_id AS media_id, 'image' AS kind, n_bytes,
                   w AS width, h AS height, ch AS channels,
                   CAST(w * h * ch AS BIGINT) AS n_samples,
                   pixel_sum,
                   CAST(NULL AS INTEGER) AS sample_rate,
                   CAST(NULL AS BIGINT) AS duration_ms,
                   dec AS decoder
            FROM imgf
            UNION ALL {_SQL_MEDIA_WAV}
            UNION ALL {_SQL_MEDIA_AVI}
        ''',
        'multimodal_frames': f'''
            WITH {_SQL_MEDIA_BASE},
            vid AS (
                SELECT doc_id,
                       (4 + doc_id % 3) * (2 + doc_id % 3) AS fs,
                       3 + doc_id % 4 AS nf
                FROM base WHERE k3 = 2
            )
            SELECT doc_id AS media_id,
                   CAST(t.f AS INTEGER) AS frame_idx,
                   CAST(fs AS INTEGER) AS frame_len,
                   CAST(list_sum(list_transform(range(0, fs),
                        i -> (i + t.f + doc_id) % 256)) AS BIGINT)
                       AS frame_sum
            FROM vid, LATERAL (SELECT unnest(range(0, nf)) AS f) t
            WHERE t.f % 2 = 0
        ''',
        'multimodal_resize': f'''
            WITH {_SQL_MEDIA_BASE},
            -- raw-PNM formats (ppm/pgm) whose long side exceeds 4 are
            -- floor-resampled to long side 4; bmp/pbm pass through
            geo AS (
                SELECT img.*,
                       CASE WHEN fmt IN (0, 1) AND greatest(w, h) > 4
                            THEN greatest(w * 4 // greatest(w, h), 1)
                            ELSE w END AS nw,
                       CASE WHEN fmt IN (0, 1) AND greatest(w, h) > 4
                            THEN greatest(h * 4 // greatest(w, h), 1)
                            ELSE h END AS nh
                FROM ({_SQL_MEDIA_IMG}) img
            ),
            feats AS (
                SELECT doc_id, fmt, w, h, ch, dec,
                       CAST(nw AS INTEGER) AS nw, CAST(nh AS INTEGER) AS nh,
                       CASE fmt
                         WHEN 0 THEN length('P6 ' || nw || ' ' || nh
                                     || ' 255' || chr(10)) + nw * nh * 3
                         WHEN 1 THEN length('P5 ' || nw || ' ' || nh
                                     || ' 255' || chr(10)) + nw * nh
                         WHEN 2 THEN 54 + h * (((3 * w + 3) // 4) * 4)
                         WHEN 4 THEN 136 + w * h * 3
                         ELSE length('P4 ' || w || ' ' || h || chr(10))
                              + h * ((w + 7) // 8)
                       END AS n_bytes,
                       CASE WHEN fmt IN (0, 1) THEN
                           CAST(list_sum(list_transform(
                                range(0, nw * nh * ch),
                                i -> ((((i // (ch * nw)) * h // nh) * w
                                       + ((i // ch) % nw) * w // nw)
                                      * ch + (i % ch) + doc_id) % 256))
                                AS BIGINT)
                       WHEN fmt IN (2, 4) THEN
                           CAST(list_sum(list_transform(
                                range(0, w * h * ch),
                                i -> (i + doc_id) % 256)) AS BIGINT)
                       ELSE
                           CAST(list_sum(list_transform(
                                range(0, w * h),
                                i -> ((i % w) + (i // w) + doc_id) % 2))
                                AS BIGINT)
                       END AS pixel_sum
                FROM geo
            )
            SELECT doc_id AS media_id, 'image' AS kind,
                   CAST(n_bytes AS INTEGER) AS n_bytes,
                   nw AS width, nh AS height, ch AS channels,
                   CAST(nw * nh * ch AS BIGINT) AS n_samples,
                   pixel_sum, dec AS decoder
            FROM feats
        ''',
        'events_window_agg': '''
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   round(avg(value), 6) AS avg_value
            FROM events
            GROUP BY 1, 2
        ''',
        'embedding_neardup_pairs': f'''
            WITH {_SQL_EMB},
            pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(list_sum(list_transform(range(1, len(a.v) + 1),
                                 i -> a.v[i] * b.v[i]))
                             / (a.nrm * b.nrm), 6) AS cos_sim
                FROM n a JOIN n b ON a.vec_id < b.vec_id
            )
            SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
        ''',
        'embedding_neardup_auto': f'''
            WITH {_SQL_EMB},
            pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(list_sum(list_transform(range(1, len(a.v) + 1),
                                 i -> a.v[i] * b.v[i]))
                             / (a.nrm * b.nrm), 6) AS cos_sim
                FROM n a JOIN n b ON a.vec_id < b.vec_id
            )
            SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.45
        ''',
        'embedding_quantize': '''
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ),
            m AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS mx
                FROM e
            ),
            q AS (
                SELECT vec_id, v, mx,
                       list_transform(v,
                           x -> CAST(round(x * 127 / mx) AS INTEGER)) AS qv
                FROM m
            )
            SELECT vec_id,
                   CASE WHEN mx = 0 THEN NULL
                        ELSE round(mx / 127, 6) END AS scale,
                   CASE WHEN mx = 0 THEN NULL
                        ELSE md5(array_to_string(list_transform(qv,
                            i -> CAST(i AS VARCHAR)), ',')) END AS q_hash,
                   CASE WHEN mx = 0 THEN NULL
                        ELSE round(list_max(list_transform(
                            range(1, len(v) + 1),
                            i -> abs(v[i] - qv[i] * mx / 127))), 6)
                        END AS max_abs_err
            FROM q
        ''',
        'semantic_clusters': f'''
            WITH RECURSIVE
            labels AS (SELECT * FROM ({_sql_kmeans()}) t),
            {_SQL_EMB.strip()},
            pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
                FROM n a
                JOIN labels la ON a.vec_id = la.vec_id
                JOIN labels lb ON la.cluster = lb.cluster
                JOIN n b ON b.vec_id = lb.vec_id
                WHERE a.vec_id < b.vec_id
                  AND round(list_sum(list_transform(
                          range(1, len(a.v) + 1),
                          i -> a.v[i] * b.v[i]))
                        / (a.nrm * b.nrm), 6) >= 0.4
            ),
            adj AS (
                SELECT vec_a AS u, vec_b AS v FROM pairs
                UNION ALL
                SELECT vec_b AS u, vec_a AS v FROM pairs
            ),
            verts AS (SELECT DISTINCT u AS v FROM adj),
            walk(v, root) AS (
                SELECT v, v FROM verts
                UNION
                SELECT a.v, w.root
                FROM walk w JOIN adj a ON a.u = w.v
            )
            SELECT v AS vec_id, min(root) AS cluster_id
            FROM walk GROUP BY v
        ''',
        'dedup_semantic': f'''
            WITH labels AS (SELECT * FROM ({_sql_kmeans()}) t),
            {_SQL_EMB.strip()}
            SELECT la.cluster AS cluster,
                   a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_sum(list_transform(range(1, len(a.v) + 1),
                             i -> a.v[i] * b.v[i]))
                         / (a.nrm * b.nrm), 6) AS cos_sim
            FROM n a
            JOIN labels la ON a.vec_id = la.vec_id
            JOIN labels lb ON la.cluster = lb.cluster
            JOIN n b ON b.vec_id = lb.vec_id
            WHERE a.vec_id < b.vec_id
              AND round(list_sum(list_transform(range(1, len(a.v) + 1),
                            i -> a.v[i] * b.v[i]))
                        / (a.nrm * b.nrm), 6) >= 0.4
        ''',
        'djvused_script': f'''
            SELECT {_CONV} AS conv_id, {_TIDX} AS turn_idx,
                   'select ' || CAST({_TIDX} AS VARCHAR)
                   || chr(10) || 'remove-txt' || chr(10) || 'set-txt'
                   || chr(10)
                   || '(page 0 0 ' || CAST(len({_TOKS}) * 100 + 100 AS VARCHAR)
                   || ' 1000 (line 10 940 '
                   || CAST(len({_TOKS}) * 100 AS VARCHAR) || ' 990 '
                   || (
                        SELECT string_agg(
                            '(word ' || CAST(10 + 100 * (t.i - 1) AS VARCHAR)
                            || ' 940 '
                            || CAST(100 + 100 * (t.i - 1) AS VARCHAR)
                            || ' 990 "' || t.tok || '")', ' '
                            ORDER BY t.i)
                        FROM (
                            SELECT UNNEST({_TOKS}) AS tok,
                                   generate_subscripts({_TOKS}, 1) AS i
                        ) AS t
                   )
                   || '))' || chr(10) || '.' || chr(10) AS djvused_script
            FROM documents
        ''',
        'events_asof_join': _ASOF_SQL,
        'events_asof_join_bucketed': _ASOF_SQL,
        'events_range_join': '''
            SELECT l.user_id, l.ts, r.ts AS near_ts,
                   CAST(floor(epoch(r.ts)) - floor(epoch(l.ts)) AS BIGINT)
                       AS delta_sec
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            JOIN (SELECT * FROM events WHERE event_type = 'error') r
              ON l.user_id = r.user_id
             AND abs(floor(epoch(r.ts)) - floor(epoch(l.ts))) <= 600
        ''',
        'streaming_join': '''
            SELECT l.event_id AS left_id, l.user_id,
                   l.ts AS left_ts,
                   r.event_id AS right_id, r.ts AS right_ts
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            JOIN (SELECT * FROM events WHERE event_type = 'error') r
              ON l.user_id = r.user_id
             AND r.ts >= l.ts
             AND r.ts <= l.ts + INTERVAL 60 MINUTE
        ''',
        'events_rollup': '''
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   CAST(GROUPING_ID(event_type, strftime(ts, '%Y-%m-%d'))
                        AS BIGINT) AS gid,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d'))
        ''',
        'events_cube': '''
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   CAST(GROUPING_ID(event_type, strftime(ts, '%Y-%m-%d'))
                        AS BIGINT) AS gid,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY CUBE(event_type, strftime(ts, '%Y-%m-%d'))
        ''',
        # both engines week-truncate to Monday; offsets via day diff //
        # 7 (integer, non-negative)
        'events_retention': '''
            WITH wk AS (
                SELECT user_id,
                       strftime(date_trunc('week', ts), '%Y-%m-%d')
                           AS week
                FROM events
            ),
            firstw AS (
                SELECT user_id, min(week) AS cohort_week
                FROM wk GROUP BY 1
            ),
            active AS (SELECT DISTINCT user_id, week FROM wk)
            SELECT f.cohort_week,
                   CAST(date_diff('day',
                                  strptime(f.cohort_week, '%Y-%m-%d'),
                                  strptime(a.week, '%Y-%m-%d')) // 7
                        AS INTEGER) AS week_offset,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM active a JOIN firstw f USING (user_id)
            GROUP BY 1, 2
        ''',
        'events_pivot': '''
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'error') AS n_error
            FROM events
            GROUP BY user_id
        ''',
        'events_sessionization': '''
            WITH marks AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
                SELECT user_id, ts, value,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM marks
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM sess
            GROUP BY user_id, sid
        ''',
        'events_json_props': '''
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS max_k
            FROM events
            GROUP BY 1
        ''',
        'lineitem_pricing_summary': '''
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        ''',
        'orders_per_nation': '''
            SELECT n.n_name AS nation,
                   count(*) AS n_orders,
                   round(sum(o.o_totalprice), 4) AS total_price
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        ''',
        'extract_orf_gocr': f'''
            SELECT 'ocrad' AS engine, * FROM ({ES.SQL_ENGINE_WORDS})
            UNION ALL
            SELECT 'gocr', * FROM ({ES.SQL_ENGINE_WORDS})
        ''',
        # both cuneiform dialects; the dialect column discriminates
        'extract_cuneiform': f'''
            WITH {ES.SQL_GRID_SPANS}, {ES.SQL_GRID_WORD_LIST}
            SELECT doc_id, 'cuneiform0.8' AS dialect,
                   '(page 0 0 {ES.GRID_PAGE_W} {ES.GRID_PAGE_H} (para '
                   || CAST(ux0 AS VARCHAR) || ' {ES.GRID_DJVU_Y0} '
                   || CAST(ux1 AS VARCHAR) || ' {ES.GRID_DJVU_Y1} '
                   || words || '))' AS extracted_sexpr
            FROM line_agg
            UNION ALL
            SELECT doc_id, 'cuneiform0.9',
                   '(page 0 0 {ES.GRID_PAGE_W} {ES.GRID_PAGE_H} (para '
                   || CAST(ux0 AS VARCHAR) || ' {ES.GRID_DJVU_Y0} '
                   || CAST(ux1 AS VARCHAR) || ' {ES.GRID_DJVU_Y1} (line '
                   || CAST(ux0 AS VARCHAR) || ' {ES.GRID_DJVU_Y0} '
                   || CAST(ux1 AS VARCHAR) || ' {ES.GRID_DJVU_Y1} '
                   || words || ')))'
            FROM line_agg
        ''',
        'extract_tesseract_makebox': f'''
            WITH {ES.SQL_GRID_SPANS},
            wc AS (
                SELECT doc_id, word_no, wx0, wx1,
                       '(word ' || CAST(wx0 AS VARCHAR)
                       || ' {ES.GRID_DJVU_Y0} ' || CAST(wx1 AS VARCHAR)
                       || ' {ES.GRID_DJVU_Y1} '
                       || (
                            SELECT string_agg(
                                '(char '
                                || CAST({ES.GRID_X0} + {ES.GRID_PITCH}
                                        * (s_k + ci.i - 1) AS VARCHAR)
                                || ' {ES.GRID_DJVU_Y0} '
                                || CAST({ES.GRID_X0 + ES.GRID_CHAR_W}
                                        + {ES.GRID_PITCH} * (s_k + ci.i - 1)
                                        AS VARCHAR)
                                || ' {ES.GRID_DJVU_Y1} "'
                                || substr(word, ci.i, 1) || '")', ' '
                                ORDER BY ci.i)
                            FROM (
                                SELECT UNNEST(range(1, length(word) + 1))
                                       AS i
                            ) AS ci
                       ) || ')' AS wtxt
                FROM spans
            ),
            la AS (
                SELECT doc_id,
                       string_agg(wtxt, ' ' ORDER BY word_no) AS words,
                       min(wx0) AS ux0, max(wx1) AS ux1
                FROM wc GROUP BY doc_id
            )
            SELECT doc_id, 'tesseract' AS dialect,
                   '(page 0 0 {ES.GRID_PAGE_W} {ES.GRID_PAGE_H} (line '
                   || CAST(ux0 AS VARCHAR) || ' {ES.GRID_DJVU_Y0} '
                   || CAST(ux1 AS VARCHAR) || ' {ES.GRID_DJVU_Y1} '
                   || words || '))' AS extracted_sexpr
            FROM la
        ''',
        'extract_ocropus_surplus': f'''
            WITH {ES.SQL_GRID_SPANS}, {ES.SQL_GRID_WORD_LIST}
            SELECT doc_id, 'hocr' AS dialect,
                   '(page 0 0 {ES.GRID_PAGE_W} {ES.GRID_PAGE_H} (line '
                   || CAST(ux0 AS VARCHAR) || ' {ES.GRID_DJVU_Y0} '
                   || CAST(ux1 AS VARCHAR) || ' {ES.GRID_DJVU_Y1} '
                   || words || '))' AS extracted_sexpr
            FROM line_agg
        ''',
        'extract_uax29_tailoring': f'''
            SELECT 'base' AS tailoring, doc_id,
                   {_NORM} || '{UAX29_SUFFIX_SEGMENTED}' AS extracted_text
            FROM documents
            UNION ALL
            SELECT 'colon', doc_id,
                   {_NORM} || '{UAX29_COLON_SEGMENTED}'
            FROM documents
        ''',
        'extract_uax29_thai': f'''
            SELECT doc_id,
                   {_NORM} || '{UAX29_THAI_SEGMENTED}' AS extracted_text
            FROM documents
        ''',
        'extract_uax29_cjk': f'''
            SELECT doc_id,
                   {_NORM} || '{UAX29_CJK_SEGMENTED}' AS extracted_text
            FROM documents
        ''',
        'extract_uax29_cjk_dict': f'''
            SELECT doc_id,
                   {_NORM} || '{UAX29_CJK_DICT_SEGMENTED}'
                       AS extracted_text
            FROM documents
        ''',
        'ann_ivf_topk': _sql_ann_ivf(1),
        'ann_ivf_nprobe2': _sql_ann_ivf(2),
        'ann_lsh_topk': f'''
            WITH {_SQL_EMB},
            b AS (
                SELECT vec_id, v, nrm,
                       array_to_string(list_transform(range(0, 8), j ->
                           CASE WHEN list_sum(list_transform(
                               range(1, len(v) + 1),
                               i -> v[i] * CAST(((i - 1) * 37 + j * 101)
                                               % 19 - 9 AS DOUBLE)
                           )) >= 0 THEN '1' ELSE '0' END), '') AS bucket
                FROM n
            ),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_sum(list_transform(range(1, len(q.v) + 1),
                                 i -> q.v[i] * c.v[i]))
                             / (q.nrm * c.nrm), 6) AS cos_sim
                FROM b q JOIN b c
                  ON q.vec_id < 10 AND c.vec_id <> q.vec_id
                 AND q.bucket = c.bucket
            )
            {_SQL_TOPK_TAIL}
        ''',
    }

    # -- registry consolidation (round 6): merged gates compose the
    #    originals' oracles verbatim, so every column the narrow gates
    #    checked is still value-checked under a part discriminator ----
    def take(key):
        return d.pop(key)

    d['ann_ivf_topk'] = (
        "SELECT 1 AS nprobe, * FROM (" + take('ann_ivf_topk') + ")\n"
        "UNION ALL\n"
        "SELECT 2, * FROM (" + take('ann_ivf_nprobe2') + ")")
    asof = take('events_asof_join')
    d.pop('events_asof_join_bucketed')  # identical SQL by contract
    d['events_asof_join'] = (
        "SELECT 'plain' AS variant, * FROM (" + asof + ")\n"
        "UNION ALL\n"
        "SELECT 'bucketed', * FROM (" + asof + ")")
    d['events_rollup_cube'] = (
        "SELECT 'rollup' AS op, * FROM (" + take('events_rollup')
        + ")\nUNION ALL\nSELECT 'cube', * FROM ("
        + take('events_cube') + ")")
    d['bpe_train'] = (
        "SELECT 'pair' AS part, CAST(NULL AS INTEGER) AS rank, pair, n"
        " FROM (" + take('bpe_pair_counts') + ")\n"
        "UNION ALL\n"
        "SELECT 'merge', rank, pair, CAST(NULL AS BIGINT)"
        " FROM (" + take('bpe_train') + ")")
    d['dedup_substring_capped'] = (
        "SELECT 'span' AS part, doc_id, span_start, span_end,"
        " n_tokens, CAST(NULL AS BIGINT) AS sh,"
        " CAST(NULL AS BIGINT) AS df"
        " FROM (" + take('dedup_substring_capped') + ")\n"
        "UNION ALL\n"
        "SELECT 'dropped', NULL, NULL, NULL, NULL, sh,"
        " CAST(df AS BIGINT) FROM (" + take('oversized_ngrams') + ")")
    d['checkpoint_resume'] = (
        "SELECT 'rows' AS part, conv_id, turn_idx, extracted_text,"
        " CAST(NULL AS INTEGER) AS n_buckets,"
        " CAST(NULL AS BIGINT) AS n_turns,"
        " CAST(NULL AS BIGINT) AS n_errors,"
        " CAST(NULL AS BIGINT) AS n_chars"
        " FROM (" + take('checkpoint_resume') + ")\n"
        "UNION ALL\n"
        "SELECT 'metrics', NULL, NULL, NULL,"
        " n_buckets, n_turns, n_errors, n_chars"
        " FROM (" + take('checkpoint_metrics') + ")")
    d['sketch_tables'] = (
        "SELECT 'bloom' AS part, key,"
        " CAST(maybe_present AS INTEGER) AS maybe_present,"
        " CAST(actually_present AS INTEGER) AS actually_present,"
        " CAST(NULL AS INTEGER) AS register,"
        " CAST(NULL AS INTEGER) AS max_rank"
        " FROM (" + take('bloom_filter') + ")\n"
        "UNION ALL\n"
        "SELECT 'hll', NULL, NULL, NULL, register, max_rank"
        " FROM (" + take('hll_registers') + ")")
    d['corpus_split'] = (
        "SELECT 'split' AS part, doc_id, split_bucket, split,"
        " CAST(NULL AS VARCHAR) AS stratum,"
        " CAST(NULL AS INTEGER) AS sample_bucket"
        " FROM (" + take('corpus_split') + ")\n"
        "UNION ALL\n"
        "SELECT 'sample', doc_id, NULL, NULL, stratum, sample_bucket"
        " FROM (" + take('stratified_sample') + ")")
    d.pop('snapshot_evolution')
    d.pop('snapshot_changes')
    d['snapshot_lifecycle'] = '''
        SELECT 'head' AS part, doc_id, n_chars,
               CASE WHEN doc_id >= 250 THEN lang END AS lang
        FROM documents
        UNION ALL
        SELECT 'changes', doc_id, n_chars, lang FROM documents
        WHERE doc_id >= 250
    '''
    d.pop('snapshot_skipping')
    d.pop('snapshot_zorder')
    d['snapshot_skipping'] = '''
        SELECT 'range' AS part, doc_id, lang, n_chars FROM documents
        WHERE doc_id BETWEEN 400 AND 449
        UNION ALL
        SELECT 'zorder', doc_id, lang, n_chars FROM documents
        WHERE doc_id < 250 AND n_chars >= 300
    '''
    d.pop('snapshot_skipping_time')
    d.pop('snapshot_hidden_partitioning')
    d['snapshot_events_time'] = '''
        SELECT event_id, ts, user_id, event_type,
               round(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-22'
                          THEN value + 100.0 ELSE value END,
                     6) AS value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-20'
          AND ts < TIMESTAMP '2024-01-25'
    '''
    survivors = take('corpus_takedown')
    d['corpus_takedown'] = (
        "SELECT 'cow' AS part, * FROM (" + survivors + ")\n"
        "UNION ALL\n"
        "SELECT 'mor', * FROM (" + survivors + ")\n"
        "UNION ALL\n"
        "SELECT 'pos', * FROM (" + survivors + ")")
    d['snapshot_sketch_metadata'] = (
        "SELECT 'bloom' AS part, doc_id, lang, content_hash,"
        " CAST(NULL AS INTEGER) AS register,"
        " CAST(NULL AS INTEGER) AS max_rank"
        " FROM (" + take('snapshot_skipping_bloom') + ")\n"
        "UNION ALL\n"
        "SELECT 'ndv', NULL, NULL, NULL, register, max_rank"
        " FROM (" + take('snapshot_ndv') + ")")
    return d
