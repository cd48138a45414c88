"""Multimodal columns: opaque binary payloads with typed metadata.

Images/audio/video are carried as ``binary`` columns next to a typed
metadata struct; decode / feature-extraction / resize / frame-sampling
run as Arrow-batched ``mapInArrow`` stages so payload bytes never leave
the executor (only one Python hop per batch).

Image payloads are decoded for real: the stdlib codecs in
``ocrodjvu_spark.kernel.image_codecs`` read the same container formats
the reference writes for its OCR engines — raw PBM/PPM and uncompressed
BMP (``/root/reference/lib/image_io.py:53-133``) plus the other netpbm
variants — and the feature stage reports decoded geometry and exact
integer pixel sums. Audio and video are decoded for real too, via the
stdlib RIFF readers in ``ocrodjvu_spark.kernel.audio_codecs`` (WAV PCM:
sample rate, channels, exact sample counts/sums, duration) and
``ocrodjvu_spark.kernel.video_codecs`` (AVI with uncompressed 8-bit
gray frames: geometry, frame count, duration, exact sample sums, and
REAL frame extraction in ``sample_frames``). Compressed codecs are out
of scope in this container (no codec library); undecodable payloads
fall back to a clearly-marked byte-level stub row — swap the decoder at
the same seam (pyav / torchaudio) in production and nothing else
changes.

Scale notes: payloads dominate row size, so batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` and stages repartition
by ``media_id`` (pure hash, no skew: one payload per row).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from ocrodjvu_spark.kernel import audio_codecs as AC
from ocrodjvu_spark.kernel import image_codecs as IC
from ocrodjvu_spark.kernel import video_codecs as VC

MEDIA_SCHEMA = StructType([
    StructField('media_id', LongType()),
    StructField('kind', StringType()),          # image | audio | video
    StructField('payload', BinaryType()),
    StructField('width', IntegerType()),        # typed metadata
    StructField('height', IntegerType()),
    StructField('codec', StringType()),
])

FEATURE_SCHEMA = StructType([
    StructField('media_id', LongType()),
    StructField('kind', StringType()),
    StructField('n_bytes', IntegerType()),
    StructField('width', IntegerType()),        # decoded geometry
    StructField('height', IntegerType()),
    StructField('channels', IntegerType()),
    StructField('n_samples', LongType()),
    StructField('pixel_sum', LongType()),
    StructField('sample_rate', IntegerType()),  # audio-only
    StructField('duration_ms', LongType()),     # audio-only
    StructField('checksum', StringType()),
    StructField('decoder', StringType()),
])

FRAME_SCHEMA = StructType([
    StructField('media_id', LongType()),
    StructField('frame_idx', IntegerType()),
    StructField('frame', BinaryType()),
])

# deterministic synthetic-image geometry, shared with the SQL oracle
_IMG_FORMATS = ('ppm', 'pgm', 'bmp', 'pbm', 'tiff')


def _audio_params(doc_id: int) -> tuple[int, int, int]:
    """(sample_rate, channels, n_frames) for audio media_id ``doc_id``
    — closed forms the SQL oracle re-derives."""
    return 8000 * (1 + doc_id % 4), 1 + doc_id % 2, 100 + doc_id % 50


def _make_audio(doc_id: int) -> bytes:
    """Deterministic real WAV payload: 8-bit PCM, sample ``i`` of the
    interleaved data is ``(i + doc_id) % 256``."""
    rate, ch, frames = _audio_params(doc_id)
    samples = bytes((i + doc_id) % 256 for i in range(frames * ch))
    return AC.encode_wav_pcm8(rate, ch, samples)


def _video_params(doc_id: int) -> tuple[int, int, int, int]:
    """(width, height, n_frames, micro_sec_per_frame) for video
    media_id ``doc_id`` — closed forms the SQL oracle re-derives."""
    return (4 + doc_id % 3, 2 + doc_id % 3, 3 + doc_id % 4,
            1000000 // (10 + doc_id % 5))


def _make_video(doc_id: int) -> bytes:
    """Deterministic real AVI payload: uncompressed 8-bit gray frames,
    byte ``i`` of frame ``f`` is ``(i + f + doc_id) % 256``."""
    w, h, n_frames, micro = _video_params(doc_id)
    frames = [bytes((i + f + doc_id) % 256 for i in range(w * h))
              for f in range(n_frames)]
    return VC.encode_avi_gray8(w, h, micro, frames)


def _image_dims(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 5, 3 + doc_id % 4


def _make_image(doc_id: int) -> bytes:
    """Deterministic real image payload for media_id ``doc_id``.

    Formats rotate through PPM/PGM/BMP/PBM/TIFF (the containers the
    reference writes for its OCR engines); sample ``i`` of the
    truecolor/gray variants is ``(i + doc_id) % 256`` and PBM pixels
    form a ``(x + y + doc_id) % 2`` checkerboard — closed forms the SQL
    oracle reproduces with a ``generate_series`` lateral.
    """
    w, h = _image_dims(doc_id)
    fmt = _IMG_FORMATS[(doc_id // 3) % 5]
    if fmt == 'pbm':
        bits = [(x + y + doc_id) % 2
                for y in range(h) for x in range(w)]
        return IC.encode_pbm(w, h, bits)
    ch = 1 if fmt == 'pgm' else 3
    samples = bytes((i + doc_id) % 256 for i in range(w * h * ch))
    if fmt == 'pgm':
        return IC.encode_pgm(w, h, samples)
    if fmt == 'ppm':
        return IC.encode_ppm(w, h, samples)
    if fmt == 'tiff':
        return IC.encode_tiff_rgb(w, h, samples)
    return IC.encode_bmp24(w, h, samples)


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media payloads derived from documents.

    ``doc_id % 3 == 0`` rows carry real image bytes (netpbm / BMP),
    ``doc_id % 3 == 1`` rows real 8-bit-PCM WAV bytes, and the rest
    real AVI bytes with uncompressed gray frames.
    """
    # every payload derives from doc_id alone — a 1-column pruned scan
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
        .select('doc_id')

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        schema = to_arrow_schema(MEDIA_SCHEMA)
        for batch in it:
            rows = []
            for doc_id in batch.column('doc_id').to_pylist():
                if doc_id % 3 == 0:
                    payload = _make_image(doc_id)
                    w, h = _image_dims(doc_id)
                    rows.append({'media_id': doc_id, 'kind': 'image',
                                 'payload': payload, 'width': w,
                                 'height': h,
                                 'codec': _IMG_FORMATS[(doc_id // 3) % 5]})
                elif doc_id % 3 == 1:
                    rows.append({'media_id': doc_id, 'kind': 'audio',
                                 'payload': _make_audio(doc_id),
                                 'width': None, 'height': None,
                                 'codec': 'wav'})
                else:
                    w, h, _, _ = _video_params(doc_id)
                    rows.append({'media_id': doc_id, 'kind': 'video',
                                 'payload': _make_video(doc_id),
                                 'width': w, 'height': h,
                                 'codec': 'avi'})
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return docs.mapInArrow(batches, schema=MEDIA_SCHEMA)


_NULL_FEATURES = {'width': None, 'height': None, 'channels': None,
                  'n_samples': None, 'pixel_sum': None,
                  'sample_rate': None, 'duration_ms': None,
                  'decoder': 'stub'}


def _stub_features(payload: bytes) -> dict:
    """Byte-level STUB for kinds with no decoder in this container."""
    return dict(_NULL_FEATURES)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInArrow feature extraction over binary payloads.

    Image rows are decoded with the stdlib netpbm/BMP/TIFF readers
    (exact geometry + integer pixel sums); audio rows with the stdlib
    WAV reader (rate / channels / sample count+sum / duration); video
    rows with the stdlib AVI reader (geometry / frame count / duration
    / sample sum). The exact integer sample sum always lands in
    ``pixel_sum`` as the generic content digest; undecodable payloads
    get NULL decode columns with ``decoder = 'stub'``.
    """

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        schema = to_arrow_schema(FEATURE_SCHEMA)
        for batch in it:
            rows = []
            for row in batch.to_pylist():
                kind = row['kind']
                data = row['payload'] or b''
                if kind == 'image':
                    try:
                        feats = {**_NULL_FEATURES, **IC.decode_image(data)}
                    except IC.ImageDecodeError:
                        feats = _stub_features(data)
                elif kind == 'audio':
                    try:
                        wav = AC.decode_wav(data)
                        feats = {**_NULL_FEATURES,
                                 'channels': wav['channels'],
                                 'n_samples': wav['n_samples'],
                                 'pixel_sum': wav['sample_sum'],
                                 'sample_rate': wav['sample_rate'],
                                 'duration_ms': wav['duration_ms'],
                                 'decoder': 'wav'}
                    except AC.AudioDecodeError:
                        feats = _stub_features(data)
                elif kind == 'video':
                    try:
                        avi = VC.decode_avi(data)
                        feats = {**_NULL_FEATURES,
                                 'width': avi['width'],
                                 'height': avi['height'],
                                 'channels': 1,
                                 'n_samples': avi['n_samples'],
                                 'pixel_sum': avi['sample_sum'],
                                 'duration_ms': avi['duration_ms'],
                                 'decoder': 'avi'}
                    except VC.VideoDecodeError:
                        feats = _stub_features(data)
                else:
                    feats = _stub_features(data)
                rows.append({
                    'media_id': row['media_id'],
                    'kind': kind,
                    'n_bytes': len(data),
                    'checksum': hashlib.md5(data).hexdigest(),
                    **feats,
                })
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return (media
            .repartition('media_id')
            .mapInArrow(batches, schema=FEATURE_SCHEMA))


def resize_images(media: DataFrame) -> DataFrame:
    """Real nearest-neighbor downscale for raw P5/P6 image payloads.

    Images whose longest side exceeds 4 pixels are resampled so it
    equals 4 (floor-scaled short side, min 1) — the standard
    pre-embedding normalization pass. Non-PNM images and other kinds
    pass through unchanged; the width/height metadata columns track the
    new geometry.
    """

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        schema = to_arrow_schema(MEDIA_SCHEMA)
        for batch in it:
            rows = batch.to_pylist()
            for row in rows:
                data = row['payload']
                if not (row['kind'] == 'image' and data is not None
                        and data[:2] in (b'P5', b'P6')):
                    continue
                try:
                    # header-only geometry read — the resample itself
                    # is the only pass over the body
                    ow, oh, _ = IC.pnm_geometry(data)
                    side = max(ow, oh)
                    if side > 4:
                        nw = max(ow * 4 // side, 1)
                        nh = max(oh * 4 // side, 1)
                        data, ow, oh = (IC.resize_pnm_nearest(data, nw, nh),
                                        nw, nh)
                except (IC.ImageDecodeError, ValueError, IndexError):
                    continue  # malformed: pass through unchanged
                row.update(payload=data, width=ow, height=oh)
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return media.mapInArrow(batches, schema=MEDIA_SCHEMA)


@F.arrow_udf(LongType())
def frame_byte_sum(frames: pa.Array) -> pa.Array:
    """Exact integer byte sum of a binary column (Arrow-batched) — the
    measurement companion for frame-content parity gates: DuckDB cannot
    rebuild the binary frame to hash it, but it can recompute the sum
    from the generative pattern."""
    return pa.array([None if b is None else sum(b) for b in frames.tolist()],
                    type=pa.int64())


FALLBACK_FRAME_BYTES = 256


def sample_frames(media: DataFrame) -> DataFrame:
    """REAL frame sampling for AVI payloads: every 2nd decoded frame's
    raw bytes, in stream order. Non-AVI / undecodable payloads fall
    back to ``FALLBACK_FRAME_BYTES``-byte windows (the former stub, kept so the
    plumbing — explode shape, Arrow batching, binary frames — still
    exercises arbitrary binaries)."""

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        schema = to_arrow_schema(FRAME_SCHEMA)
        for batch in it:
            rows = []
            for row in batch.to_pylist():
                data = row['payload'] or b''
                try:
                    frames = list(VC.iter_avi_frames(data))
                except VC.VideoDecodeError:
                    n = FALLBACK_FRAME_BYTES
                    frames = [data[i * n:(i + 1) * n]
                              for i in range(max(len(data) // n, 1))]
                for i in range(0, len(frames), 2):
                    rows.append({
                        'media_id': row['media_id'],
                        'frame_idx': i,
                        'frame': frames[i],
                    })
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return media.where(F.col('kind') == 'video') \
        .mapInArrow(batches, schema=FRAME_SCHEMA)
