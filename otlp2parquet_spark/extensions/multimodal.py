"""Multimodal column handling (SURVEY §2.3 X5): image/audio/video payloads as
opaque binary columns with typed metadata, plus the decode/feature-extract
plumbing: every decode, transform and fixture synthesizer is a per-row
function run by one Arrow-batched `mapInArrow` kernel (`_row_kernel`).

The container ships no image/video codecs, so those decode kernels are
clearly-marked deterministic stubs (STUB_DECODER) — the Spark-side contract
(schemas, partitioning, batch iteration, UDF signatures) is real and tested.
The AUDIO lane has a REAL decoder: x5_wav_meta parses genuine RIFF/WAVE
containers with the stdlib `wave` reader and is DuckDB-oracle-matched.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from otlp2parquet_spark.queries.registry import T, query
from otlp2parquet_spark.session import spread

# The malformed-input classes of each modality's parser: a payload raising
# one of them nulls its row instead of failing the task (D25 posture), and
# the parser fuzz suite asserts that nothing else escapes.
# wave also raises RuntimeError / struct.error on some corrupt shapes
# (found by the parser fuzz suite).
WAV_ERRORS = (wave.Error, EOFError, ValueError, RuntimeError, struct.error)
PNG_ERRORS = (ValueError, KeyError, zlib.error, struct.error)
AVI_META_ERRORS = (ValueError, struct.error)
# parse_avi_frames uses only slicing + int.from_bytes, so ValueError is
# provably its complete set
AVI_FRAMES_ERRORS = (ValueError,)
JPEG_ERRORS = (ValueError, KeyError, IndexError, struct.error)  # IndexError: truncated scan
# parse_h264_nals nulls a malformed NAL's own row and walks on
H264_ERRORS = (ValueError, IndexError)

# the (media_id, payload) shape of every synthesized fixture table
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def _row_kernel(
    media: DataFrame,
    fn: Callable[..., list[tuple]],
    schema: StructType,
    errors: tuple[type[Exception], ...] = (),
    keys: tuple[str, ...] = ("media_id",),
    payload: str = "payload",
) -> DataFrame:
    """The one Python boundary of the x5 lanes: a mapInArrow kernel that
    passes the `keys` columns through and calls `fn(payload, *keys[1:])`
    on each row, getting back the row's output tuples (the fields of
    `schema` after the keys): one for a decode, several for a 1->N
    explode (blocks, frames, NALs), none to drop the row. A NULL payload
    is read as b"", and a payload raising one of the lane's `errors`
    becomes one all-null row (the D25 quarantine posture, column edition).

    Arrow end to end, the idiom of ingest's `_decode_kernel`: the output
    tuples are transposed straight into typed Arrow columns, with no
    pandas frame in between."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    out_types = [f.type for f in target][len(keys) :]
    nulls = (None,) * len(out_types)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            extra = [batch.column(k).to_pylist() for k in keys[1:]]
            take: list[int] = []
            rows: list[tuple] = []
            for i, p in enumerate(batch.column(payload).to_pylist()):
                try:
                    out = fn(b"" if p is None else p, *(e[i] for e in extra))
                except errors:
                    out = [nulls]
                take += [i] * len(out)
                rows += out
            idx = pa.array(take, pa.int64())
            cols = [batch.column(k).take(idx).cast(target.field(k).type) for k in keys]
            outputs = list(zip(*rows)) or [()] * len(out_types)  # rows -> columns
            cols += [pa.array(c, t) for c, t in zip(outputs, out_types)]
            yield pa.RecordBatch.from_arrays(cols, schema=target)

    return media.select(*dict.fromkeys((*keys, payload))).mapInArrow(kernel, schema)


def _synth_table(
    spark: SparkSession, sf_dir: str, modality: int, synth: Callable[[int], bytes]
) -> DataFrame:
    """(media_id, payload) fixture: `synth(doc_id)` for every documents row
    of one media_table modality (doc_id % 3: 0 image, 1 audio, 2 video)."""
    d = spread(T(spark, sf_dir, "documents")).filter(F.col("doc_id") % 3 == modality)
    return _row_kernel(
        d.select(F.col("doc_id").alias("media_id")),
        lambda doc_id: [(synth(doc_id),)],
        MEDIA_SCHEMA,
        payload="media_id",
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("feature_hash", StringType(), True),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the opaque-binary media table from documents.text — at
    production scale this is `spark.read.format('binaryFile')` over an object
    store plus a sidecar metadata table; the column shapes are identical."""
    d = spread(T(spark, sf_dir, "documents"))
    payload = F.col("text").cast("binary")
    return d.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.length(payload).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("content_sha256"),
    )


def _stub_decode(payload) -> tuple[int, int, int, str, bytes]:
    """STUB_DECODER shared by decode_features and the fused resize and
    frame-sample kernels: a real decoder (PIL.Image.open / av.open /
    soundfile.read) is not a dependency of this package, so deterministic
    fake (width, height, n_frames, feature_hash) derive from the payload's
    sha256. The digest is returned too: the resize stub tiles it as its
    output bytes. The x5 SQL oracles replay this formula, so it must stay
    the one copy."""
    h = hashlib.sha256(bytes(payload or b"")).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 32, h.hex()[:16], h


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads.

    The row function is where PIL/ffmpeg/torchaudio would run; here it is
    the STUB_DECODER deriving fake dimensions from the payload hash. The
    `_row_kernel` plumbing (schema contract, batch shape, memory profile)
    is the production dataflow."""
    return _row_kernel(
        media,
        lambda payload, _media_type: [_stub_decode(payload)[:4]],
        FEATURE_SCHEMA,
        keys=("media_id", "media_type"),
    )


@query(
    "x5_binary_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS content_sha256
    FROM documents
    ORDER BY media_id
    """,
    tags=("X5", "F6"),
)
def x5_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads — length/hash/type columns;
    everything JVM-side."""
    return media_table(spark, sf_dir).select(
        "media_id", "media_type", "byte_len", "content_sha256"
    ).orderBy("media_id")


@query(
    "x5_decode_features",
    oracle="""
    WITH h AS (
      -- COALESCE mirrors the kernel's `payload or b""` NULL fallback: a
      -- NULL-text row must hash b'' on BOTH sides, not go NULL oracle-side
      SELECT doc_id, sha256(COALESCE(text, '')) AS hx FROM documents
    )
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(64 + CAST(('0x' || substr(hx, 1, 2)) AS INT) % 192 AS INT)
             AS width,
           CAST(64 + CAST(('0x' || substr(hx, 3, 2)) AS INT) % 192 AS INT)
             AS height,
           CAST(1 + CAST(('0x' || substr(hx, 5, 2)) AS INT) % 32 AS INT)
             AS n_frames,
           substr(hx, 1, 16) AS feature_hash
    FROM h
    ORDER BY media_id
    """,
    tags=("X5", "U4"),
)
def x5_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extraction pipeline over ARBITRARY binary media columns
    via the Arrow-batched row kernel — the generic-binary fallback lane. The
    REAL decode paths are x5_media_meta (WAV/PNG/AVI container parsers over
    spec-valid payloads, oracle-matched), x5_jpeg_blocks (r9: full
    baseline-JPEG pixel decode, per-block oracle-matched) and x5_h264_nals
    (r11: Annex-B NAL/slice-header bitstream parse, oracle-matched); this
    op keeps the clearly-marked deterministic-stub kernel as the
    generic-binary plumbing exercise. The oracle replays the STUB's own
    sha256-derived formula — what it hash-proves is the mapInArrow
    dataflow (Arrow binary transfer, schema contract, row alignment), NOT
    a decode; the real-decode proofs live in the three lanes above."""
    return decode_features(media_table(spark, sf_dir)).orderBy("media_id")


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("out_width", IntegerType(), True),
        StructField("out_height", IntegerType(), True),
        StructField("resized_len", LongType(), True),
        StructField("resized_payload", BinaryType(), True),
    ]
)


RESIZE_MAX_SIDE = 128  # x5_resize's clamp, kernel and oracle alike
PNG_RESIZE_MAX_SIDE = 16  # x5_png_resize's clamp, kernel and oracle alike


def _clamp(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Aspect-preserving clamp of the longer side to `max_side`, integer
    floor: float scale factors round 128.0 down to 127 for the clamped
    side (and disagree with the SQL oracle, `_sql_clamp`)."""
    m = max(w, h)
    return (w, h) if m <= max_side else (w * max_side // m, h * max_side // m)


def _sql_clamp(side: str, max_side: int) -> str:
    """DuckDB twin of `_clamp` for one side, over columns w and h."""
    return (
        f"CASE WHEN greatest(w, h) <= {max_side} THEN {side}"
        f" ELSE ({side} * {max_side}) // greatest(w, h) END"
    )


def _resize_stub(payload: bytes) -> list[tuple]:
    w, h, _, _, seed = _stub_decode(payload)
    ow, oh = _clamp(w, h, RESIZE_MAX_SIDE)
    n = ow * oh
    # a real kernel returns the re-encoded image; the stub tiles the sha256
    # of the source payload to size n
    return [(ow, oh, n, (seed * (n // len(seed) + 1))[:n])]


def resize_media(media: DataFrame) -> DataFrame:
    """Resize stage: clamp the longer side to RESIZE_MAX_SIDE preserving
    aspect ratio (integer floor), emit the transformed payload.

    The row function is where PIL.Image.resize / ffmpeg scale would run;
    the stub emits a deterministic `out_width*out_height`-byte payload
    derived from the content hash.

    Decode + resize run as ONE row function (r13, guide §4): the old form
    flowed the payload THROUGH decode_features into a second kernel, so
    every payload byte crossed the JVM<->Python boundary three times (in to
    decode, out with features, in again to resize). The decode body here is
    the shared STUB_DECODER (`_stub_decode`, sha256-derived width/height) —
    a real PIL decode would hand its Image object straight to .resize() the
    same single-pass way; still no second scan of the media source and no
    shuffle of payload bytes on media_id (the pre-r12 join-back shape did
    both)."""
    return _row_kernel(media, _resize_stub, RESIZE_SCHEMA)


@query(
    "x5_resize",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id AS media_id,
             64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 192 AS w,
             64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 192 AS h
      FROM documents
    )
    SELECT media_id,
           {_sql_clamp("w", RESIZE_MAX_SIDE)} AS out_width,
           {_sql_clamp("h", RESIZE_MAX_SIDE)} AS out_height
    FROM dims
    ORDER BY media_id
    """,
    tags=("X5", "U4"),
)
def x5_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize metadata, oracle-matched: DuckDB recomputes the stub decoder's
    hash-derived dimensions and the aspect-preserving clamp — validating the
    whole decode->resize dataflow, payload excluded (binary stub; the REAL
    pixel-resize lane is x5_png_resize)."""
    return (
        resize_media(media_table(spark, sf_dir))
        .select("media_id", "out_width", "out_height")
        .orderBy("media_id")
    )


PNG_RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("out_width", IntegerType(), True),
        StructField("out_height", IntegerType(), True),
        StructField("px_sum", LongType(), True),
        StructField("px_min", IntegerType(), True),
        StructField("px_max", IntegerType(), True),
    ]
)


def _png_resize_row(payload: bytes) -> list[tuple]:
    g = parse_png_pixels(payload)
    h, w = g.shape
    ow, oh = _clamp(w, h, PNG_RESIZE_MAX_SIDE)
    r = g[np.ix_((np.arange(oh) * h) // oh, (np.arange(ow) * w) // ow)]
    return [(ow, oh, int(r.sum()), int(r.min()), int(r.max()))]


def resize_png_pixels(media: DataFrame) -> DataFrame:
    """REAL pixel resize: full PNG decode (parse_png_pixels — CRC walk,
    inflate, unfilter) then nearest-neighbor resampling to clamp the longer
    side at PNG_RESIZE_MAX_SIDE (integer source indices sx = x*w//ow,
    sy = y*h//oh, the canonical floor NN map), emitting exact integer pixel
    stats of the RESIZED plane. Malformed payloads null out (D25 posture)."""
    return _row_kernel(media, _png_resize_row, PNG_RESIZE_SCHEMA, PNG_ERRORS)


@query(
    "x5_png_resize",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             16 + doc_id % 48 AS w,
             16 + doc_id % 37 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             sha256(CAST(doc_id AS VARCHAR)) AS dg
      FROM documents WHERE doc_id % 3 = 0
    ), sized AS (
      SELECT *,
             {_sql_clamp("w", PNG_RESIZE_MAX_SIDE)} AS ow,
             {_sql_clamp("h", PNG_RESIZE_MAX_SIDE)} AS oh
      FROM dims
    ), px AS (
      SELECT doc_id, ow, oh,
             CASE WHEN ch = 1 THEN
               CAST(('0x' || substr(dg, 2 * (((tx.x * w) // ow + (ty.y * h) // oh) % 32) + 1, 2)) AS INT)
             ELSE (
               CAST(('0x' || substr(dg, 2 * ((3 * ((tx.x * w) // ow) + (ty.y * h) // oh) % 32) + 1, 2)) AS INT)
             + CAST(('0x' || substr(dg, 2 * ((3 * ((tx.x * w) // ow) + 1 + (ty.y * h) // oh) % 32) + 1, 2)) AS INT)
             + CAST(('0x' || substr(dg, 2 * ((3 * ((tx.x * w) // ow) + 2 + (ty.y * h) // oh) % 32) + 1, 2)) AS INT)
             ) // 3 END AS g
      FROM sized,
           UNNEST(generate_series(0, ow - 1)) AS tx(x),
           UNNEST(generate_series(0, oh - 1)) AS ty(y)
    )
    SELECT doc_id AS media_id,
           CAST(MAX(ow) AS INT) AS out_width,
           CAST(MAX(oh) AS INT) AS out_height,
           CAST(SUM(g) AS BIGINT) AS px_sum,
           CAST(MIN(g) AS INT) AS px_min,
           CAST(MAX(g) AS INT) AS px_max
    FROM px
    GROUP BY doc_id
    ORDER BY media_id
    """,
    tags=("X5", "U4", "F3"),
)
def x5_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, oracle-matched at the PIXEL level (r9): spec-valid
    PNGs whose scanlines rotate with the row index (pixel byte (y, i) =
    digest[(i + y) % 32], so the image varies in BOTH axes), decoded by the
    full unfiltering pixel parser, nearest-neighbor-resampled to a
    PNG_RESIZE_MAX_SIDE (16-px) clamp, and the resized plane's exact
    integer stats (sum/min/max) must equal DuckDB's re-derivation of the
    sampled pixels from the synthesis formula — a wrong sx/sy floor map, a transposed axis, an off-by-one
    in the clamp, or any decode defect breaks the hash. This retires the
    resize stub for the format with a real decoder; x5_resize keeps the
    generic-binary fallback shape. Scale: embarrassingly parallel map-only
    Arrow-batched kernel, no shuffle before the presentation sort."""
    return (
        resize_png_pixels(png_media_table(spark, sf_dir, y_shift=True))
        .orderBy("media_id")
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_ts_ms", LongType(), False),
        StructField("frame_sha", StringType(), True),
    ]
)


FRAME_SAMPLE_EVERY = 8  # x5_frame_sample's stride, kernel and oracle alike


def _frame_sample_rows(payload: bytes) -> list[tuple]:
    _, _, n_frames, fhash, _ = _stub_decode(payload)
    return [
        (i, i * 40, hashlib.sha256(f"{fhash}:{i}".encode()).hexdigest()[:16])  # 25 fps
        for i in range(0, n_frames, FRAME_SAMPLE_EVERY)
    ]


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling stage: one input video row expands to ceil(n_frames /
    FRAME_SAMPLE_EVERY) frame rows (a 1->N row function — the same batch
    shape an av.open frame iterator produces). 25 fps assumed for frame
    timestamps.

    Decode + sample run as ONE row function (r13, guide §4): the old form
    chained decode_features' kernel into a second sampling kernel, so every
    batch crossed the JVM<->Python boundary twice (payload in, features
    out, features in again, frames out) and paid two Python eval stages.
    The decode body here is the shared STUB_DECODER (`_stub_decode`,
    sha256-derived n_frames/feature_hash) — a real av.open decoder would
    expose its frame iterator the same single-pass way, which is exactly
    why fusing is the production shape: the decoded stream feeds the
    sampler without ever re-serializing."""
    # filter BEFORE the decode stage: Catalyst cannot push a predicate
    # through a mapInArrow eval barrier, so the selection must be staged by
    # hand or every non-video payload pays the Arrow transfer + decode
    return _row_kernel(
        media.filter(F.col("media_type") == "video/mp4"), _frame_sample_rows, FRAME_SCHEMA
    )


@query(
    "x5_frame_sample",
    oracle=f"""
    WITH vids AS (
      SELECT doc_id AS media_id,
             1 + CAST(('0x' || substr(sha256(text), 5, 2)) AS INT) % 32 AS n_frames
      FROM documents
      WHERE doc_id % 3 = 2
    )
    SELECT media_id, CAST(f.i AS INT) AS frame_idx, CAST(f.i * 40 AS BIGINT) AS frame_ts_ms
    FROM vids, LATERAL (SELECT unnest(range(0, n_frames, {FRAME_SAMPLE_EVERY})) AS i) f
    ORDER BY media_id, frame_idx
    """,
    tags=("X5", "U4", "U5"),
)
def x5_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads, oracle-matched on the sampled
    frame grid (ids/indices/timestamps); per-frame hashes are stub output."""
    return (
        sample_frames(media_table(spark, sf_dir))
        .select("media_id", "frame_idx", "frame_ts_ms")
        .orderBy("media_id", "frame_idx")
    )


# --- real decode: WAV modality ---------------------------------------------
# The container ships no image/video codecs, but WAV is parseable with the
# stdlib `wave` module — so the audio lane gets a REAL decode kernel: the
# fixture synthesizes genuine RIFF/WAVE containers (not hash-derived fakes),
# the decode kernel reads the header/frame fields back out of the bytes, and
# the DuckDB oracle independently predicts them from the synthesis formula.
# A wrong parser (endianness, header offsets, frame math) fails the oracle.

WAV_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("sample_width", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

_WAV_RATES = (8000, 16000, 22050, 44100)


def _synth_wav(doc_id: int) -> bytes:
    """One real PCM WAV container; rate/channels/length are doc_id
    arithmetic so the oracle can predict them without parsing binaries."""
    rate = _WAV_RATES[doc_id % 4]
    channels = 1 + doc_id % 2
    n_samples = 100 + doc_id % 900
    pcm = hashlib.sha256(str(doc_id).encode()).digest()
    body = (pcm * (n_samples * channels * 2 // len(pcm) + 1))[
        : n_samples * channels * 2
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(body)
    return buf.getvalue()


def wav_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fixture: one real PCM WAV container (`_synth_wav`) per
    audio-typed media row (doc_id % 3 == 1, the media_table type
    assignment), synthesized deterministically from doc_id."""
    return _synth_table(spark, sf_dir, 1, _synth_wav)


def parse_wav_meta(payload: bytes) -> tuple:
    """Module-level WAV header parse (shared by decode_wav_meta, the
    unified x5_media_meta dispatch, and the parser fuzz suite — a single
    parse path so the fuzzed code IS the kernel code). Returns
    (rate, channels, sample_width, n_frames, duration_ms); raises one of
    WAV_ERRORS otherwise. Fields destined for
    IntegerType columns are bounded to int32 here — a corrupt u32 header
    value must null the ROW, not explode at the Arrow boundary."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, ch = w.getframerate(), w.getnchannels()
        width, n = w.getsampwidth(), w.getnframes()
    if rate <= 0:
        # stdlib wave accepts a 0-rate fmt chunk; D25 says null the row,
        # not ZeroDivisionError the task
        raise ValueError("non-positive sample rate")
    if rate > 2**31 - 1 or ch > 2**31 - 1 or width > 2**31 - 1:
        raise ValueError("header field out of int32 range")
    return rate, ch, width, n, n * 1000 // rate


def decode_wav_meta(media: DataFrame) -> DataFrame:
    """REAL decode kernel: parse each RIFF/WAVE payload with the stdlib
    `wave` reader (parse_wav_meta) and emit its header/frame metadata;
    malformed payloads yield null metadata instead of failing the batch
    (the D25 quarantine posture, column edition). Same `_row_kernel`
    contract as decode_features — this is the production dataflow with a
    real codec."""
    return _row_kernel(media, lambda p: [parse_wav_meta(p)], WAV_META_SCHEMA, WAV_ERRORS)


@query(
    "x5_wav_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END AS INT)
             AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS n_channels,
           CAST(2 AS INT) AS sample_width,
           CAST(100 + doc_id % 900 AS BIGINT) AS n_samples,
           CAST((100 + doc_id % 900) * 1000 //
                (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                 WHEN 2 THEN 22050 ELSE 44100 END) AS BIGINT)
             AS duration_ms
    FROM documents
    WHERE doc_id % 3 = 1
    ORDER BY media_id
    """,
    tags=("X5", "U4"),
)
def x5_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata extraction with a REAL WAV decode kernel: genuine
    RIFF/WAVE containers are parsed by the stdlib `wave` reader inside
    the row kernel; the oracle predicts rate/channels/frames/duration from the
    fixture's synthesis formula, so any header/frame-math parsing error
    breaks the hash match. (Replaces the rows-only stub posture for one
    modality; image/video decode remains stubbed — no codecs in-env.)"""
    return decode_wav_meta(wav_media_table(spark, sf_dir)).orderBy("media_id")


# --- real decode: PNG modality ---------------------------------------------
# Same posture as the WAV lane: no image libs ship in-container, but PNG is
# a fully-specified stdlib-parseable container (struct for the chunk layout,
# zlib for the pixel stream). The fixture synthesizes genuine spec-valid
# PNGs (signature, IHDR, zlib IDAT, CRCs); the kernel walks the chunk
# stream, validates CRCs, inflates the IDAT and checks the scanline math —
# a real image-container decode, not a stub. The lossy image codec got its
# own real lane in r9 (x5_jpeg_blocks below); only H.264 remains
# env-stubbed.

PNG_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("n_pixels", LongType(), True),
        StructField("raw_bytes", LongType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _synth_png(doc_id: int, y_shift: bool = False) -> bytes:
    """One spec-valid PNG (signature, IHDR, zlib IDAT, CRCs); dimensions and
    color type derived from doc_id so the oracle predicts them without
    parsing binaries. See png_media_table for `y_shift`."""
    width = 16 + doc_id % 48
    height = 16 + doc_id % 37
    color_type = 0 if doc_id % 2 == 0 else 2  # gray / RGB
    channels = 1 if color_type == 0 else 3
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stream = hashlib.sha256(str(doc_id).encode()).digest()
    row_len = width * channels
    tiled = stream * (row_len // len(stream) + 2)
    if y_shift:
        raw = b"".join(
            b"\x00" + tiled[y % 32 : y % 32 + row_len]
            for y in range(height)
        )
    else:
        raw = (b"\x00" + tiled[:row_len]) * height
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def png_media_table(
    spark: SparkSession, sf_dir: str, y_shift: bool = False
) -> DataFrame:
    """Image fixture: one spec-valid PNG (`_synth_png`) per image-typed
    media row (doc_id % 3 == 0).

    y_shift=True rotates each scanline's byte stream by its row index
    (pixel byte (y, i) = digest[(i + y) % 32]) so the image VARIES in both
    axes — the fixture x5_png_resize needs to pin 2-D resampling math
    (the default all-rows-identical form would let a wrong y-mapping pass
    unnoticed). The historical oracles (x5_png_meta etc.) keep the
    default."""
    return _synth_table(spark, sf_dir, 0, lambda doc_id: _synth_png(doc_id, y_shift))


def parse_png_meta(payload: bytes):
    """Module-level PNG chunk-walk parser (shared by decode_png_meta and
    the unified x5_media_meta dispatch kernel)."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("bad signature")
    pos = len(_PNG_SIG)
    width = height = bit_depth = color_type = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError("bad crc")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(
                ">IIBB", data[:10]
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("no IHDR")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    if len(raw) != height * (1 + width * channels * bit_depth // 8):
        raise ValueError("scanline length mismatch")
    return width, height, bit_depth, channels, width * height, len(raw)


def decode_png_meta(media: DataFrame) -> DataFrame:
    """REAL decode kernel: walk the chunk stream (lengths + CRC32 checks),
    read IHDR geometry, inflate the concatenated IDATs and verify the
    filter-prefixed scanline length. Malformed payloads yield null metadata
    instead of failing the batch (D25 posture, column edition)."""
    return _row_kernel(media, lambda p: [parse_png_meta(p)], PNG_META_SCHEMA, PNG_ERRORS)


@query(
    "x5_png_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + doc_id % 37 AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
           CAST((16 + doc_id % 48) * (16 + doc_id % 37) AS BIGINT) AS n_pixels,
           CAST((16 + doc_id % 37) *
                (1 + (16 + doc_id % 48) * CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)
                AS BIGINT) AS raw_bytes
    FROM documents
    WHERE doc_id % 3 = 0
    ORDER BY media_id
    """,
    tags=("X5", "U4"),
)
def x5_png_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata extraction with a REAL PNG decode kernel: spec-valid
    PNG containers (chunk CRCs, zlib IDAT) are parsed back by a stdlib
    chunk-walker that inflates the pixel stream and checks scanline math;
    the oracle predicts geometry from the fixture's synthesis formula, so
    any chunk/CRC/inflate/filter-math error breaks the hash match. With
    x5_wav_meta this makes two modalities real; only lossy codecs remain
    env-stubbed."""
    return decode_png_meta(png_media_table(spark, sf_dir)).orderBy("media_id")


# --- real decode: AVI modality ---------------------------------------------
# Third real container lane: AVI is RIFF (like WAV), so the video
# modality's container metadata — frame geometry, frame count, frame rate
# from the 'avih' main header — parses with stdlib struct. The fixture
# synthesizes spec-valid RIFF/AVI containers (hdrl LIST with avih + strl,
# movi LIST carrying the declared frame count as real '00dc' chunks —
# x5_video_frames demuxes them); only the lossy FRAME PIXEL decode
# remains environment-gated (no video codecs in-container).

AVI_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("fps", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

_AVI_RATES = (10, 15, 24, 30)


def _avi_chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _avi_list(listtype: bytes, payload: bytes) -> bytes:
    return _avi_chunk(b"LIST", listtype + payload)


def _synth_avi(doc_id: int) -> bytes:
    """One spec-valid RIFF/AVI container; geometry/rate/frames derived from
    doc_id so the oracle predicts them without parsing binaries."""
    width = 64 + doc_id % 128
    height = 48 + doc_id % 96
    fps = _AVI_RATES[doc_id % 4]
    n_frames = 10 + doc_id % 90
    # avih: microsec/frame, maxbytes, padding, flags, frames,
    # initial, streams, bufsize, width, height, reserved[4]
    avih = struct.pack(
        "<10I16x",
        1_000_000 // fps,
        0,
        0,
        0,
        n_frames,
        0,
        1,
        0,
        width,
        height,
    )
    strh = struct.pack("<4s4s3I5I2HI8x", b"vids", b"\x00" * 4,
                       0, 0, 0, 1, fps, 0, n_frames, 0, 0, 0, 0)
    hdrl = _avi_list(
        b"hdrl",
        _avi_chunk(b"avih", avih)
        + _avi_list(b"strl", _avi_chunk(b"strh", strh)),
    )
    # one REAL '00dc' chunk per declared frame (avih count and the movi
    # stream agree); each frame body is the 64-byte ascii sha256 hex of
    # "doc_id:idx" so the demux oracle can reproduce it in pure SQL
    # (x5_video_frames)
    movi = _avi_list(
        b"movi",
        b"".join(
            _avi_chunk(
                b"00dc",
                hashlib.sha256(
                    f"{doc_id}:{i}".encode()
                ).hexdigest().encode(),
            )
            for i in range(n_frames)
        ),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video fixture: one spec-valid RIFF/AVI container (`_synth_avi`) per
    video-typed media row (doc_id % 3 == 2)."""
    return _synth_table(spark, sf_dir, 2, _synth_avi)


def parse_avi_meta(payload: bytes):
    """Module-level RIFF/AVI hdrl/avih parser (shared by decode_avi_meta
    and the unified x5_media_meta dispatch kernel)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    (riff_len,) = struct.unpack("<I", payload[4:8])
    if riff_len + 8 > len(payload) + 1:  # +1: odd-length pad slack
        raise ValueError("truncated RIFF")
    pos, end = 12, min(len(payload), 8 + riff_len)
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        data = payload[pos + 8 : pos + 8 + length]
        if fourcc == b"LIST" and data[:4] == b"hdrl":
            p2, e2 = 4, len(data)
            while p2 + 8 <= e2:
                cc2 = data[p2 : p2 + 4]
                (l2,) = struct.unpack("<I", data[p2 + 4 : p2 + 8])
                if cc2 == b"avih":
                    a = data[p2 + 8 : p2 + 8 + l2]
                    usec_pf, _, _, _, n_frames, _, _, _, w, h = struct.unpack(
                        "<10I", a[:40]
                    )
                    if not usec_pf or not w or not h:
                        raise ValueError("degenerate avih")
                    fps = round(1_000_000 / usec_pf)
                    if w > 2**31 - 1 or h > 2**31 - 1 or fps > 2**31 - 1:
                        # u32 header vs IntegerType column: a corrupt high
                        # byte must null the ROW, not blow up at the Arrow
                        # boundary (AVI has no CRC, unlike PNG)
                        raise ValueError("avih field out of int32 range")
                    return (
                        w,
                        h,
                        n_frames,
                        fps,
                        n_frames * 1000 * usec_pf // 1_000_000,
                    )
                p2 += 8 + l2 + (l2 % 2)
            raise ValueError("hdrl without avih")
        pos += 8 + length + (length % 2)
    raise ValueError("no hdrl")


def decode_avi_meta(media: DataFrame) -> DataFrame:
    """REAL decode kernel: walk the RIFF chunk tree, find hdrl/avih and
    read geometry, frame count and frame timing. Malformed payloads yield
    null metadata (D25 posture, column edition)."""
    return _row_kernel(media, lambda p: [parse_avi_meta(p)], AVI_META_SCHEMA, AVI_META_ERRORS)


@query(
    "x5_avi_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(64 + doc_id % 128 AS INT) AS width,
           CAST(48 + doc_id % 96 AS INT) AS height,
           CAST(10 + doc_id % 90 AS BIGINT) AS n_frames,
           CAST(CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 15
                                WHEN 2 THEN 24 ELSE 30 END AS INT) AS fps,
           CAST((10 + doc_id % 90) * 1000 *
                (1000000 // CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 15
                                            WHEN 2 THEN 24 ELSE 30 END)
                // 1000000 AS BIGINT) AS duration_ms
    FROM documents
    WHERE doc_id % 3 = 2
    ORDER BY media_id
    """,
    tags=("X5", "U4"),
)
def x5_avi_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container metadata with a REAL RIFF/AVI decode kernel: the
    chunk-tree walk finds hdrl/avih and reads geometry, frame count and
    frame timing; the oracle predicts them from the synthesis formulas.
    With x5_wav_meta and x5_png_meta all three modality container formats
    decode for real — only lossy frame-pixel codecs remain env-stubbed."""
    return decode_avi_meta(avi_media_table(spark, sf_dir)).orderBy("media_id")


# --- unified real-decode dispatch ------------------------------------------

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_units", LongType(), True),
        StructField("rate", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


# --- real decode: baseline JPEG modality (r9) -------------------------------
# The last image codec leaves the stub: baseline JFIF needs no image lib —
# it is markers + canonical Huffman + dequantization + 8x8 IDCT + level
# shift, all expressible in stdlib struct + numpy. The fixture synthesizes
# genuine spec-valid baseline JPEGs (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, standard
# Annex-K DC tables, byte-stuffed entropy stream); the decode kernel is a
# GENERAL baseline decoder (segment walk, canonical Huffman built from the
# DHT payload, 0xFF00 unstuffing, per-component DC prediction, dequant,
# basis-matrix IDCT). Exactness: blocks are synthesized flat with a unit
# quant table, so the decoded pixel plane is bit-exactly the synthesis
# formula and the DuckDB oracle predicts EVERY block's decoded value — any
# Huffman/stuffing/dequant/IDCT/predictor error breaks the hash match.
# Out of scope (documented, not hidden): chroma subsampling != 4:4:4,
# progressive scans, restart markers — and H.264 remains the one
# env-stubbed codec (x5_decode_features).

JPEG_BLOCKS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("block_idx", IntegerType(), True),
        StructField("n_components", IntegerType(), True),
        StructField("y", IntegerType(), True),
        StructField("cb", IntegerType(), True),
        StructField("cr", IntegerType(), True),
    ]
)

# standard JPEG (ITU T.81 Annex K) DC Huffman tables; AC tables here are
# minimal spec-valid optimized tables (one 1-bit code for EOB — all the
# fixture's blocks are DC-only), which real encoders are allowed to emit;
# the DECODER builds its tables from the DHT segment, so it is general
_JPEG_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_EOB = ([1] + [0] * 15, [0x00])


def _huff_encode_table(bits, vals):
    """symbol -> (code, length) from a canonical (BITS, HUFFVAL) pair."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF -> 0xFF 0x00 byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.put(0xFF, 8 - self.n)  # 1-pad to byte per spec
        return bytes(self.out)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _encode_dc(w: _JpegBitWriter, table, diff: int) -> None:
    s = abs(diff).bit_length()
    code, ln = table[s]
    w.put(code, ln)
    if s:
        w.put(diff if diff > 0 else diff + (1 << s) - 1, s)


def _synth_jpeg(doc_id: int) -> bytes:
    """Spec-valid baseline JFIF: flat 8x8 blocks whose per-block values are
    the oracle formulas (y = (id*31+bi*17)%256, cb = (id*7+bi*3)%256,
    cr = (id*11+bi*5)%256); unit quant table so DC-only blocks round-trip
    bit-exactly. Grayscale for even ids, 3-component 4:4:4 for odd."""
    wb = 2 + doc_id % 6
    hb = 2 + doc_id % 5
    width, height = 8 * wb, 8 * hb
    ncomp = 1 if doc_id % 2 == 0 else 3
    nb = wb * hb

    segs = [b"\xff\xd8"]
    segs.append(
        _jpeg_seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    )
    segs.append(_jpeg_seg(0xFFDB, b"\x00" + b"\x01" * 64))  # Tq0, all-1s
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for c in range(ncomp):
        sof += struct.pack(">BBB", c + 1, 0x11, 0)  # 1x1 sampling, Tq0
    segs.append(_jpeg_seg(0xFFC0, sof))
    dht = bytes([0x00]) + bytes(_JPEG_DC_LUMA[0]) + bytes(_JPEG_DC_LUMA[1])
    dht += bytes([0x10]) + bytes(_JPEG_AC_EOB[0]) + bytes(_JPEG_AC_EOB[1])
    if ncomp == 3:
        dht += bytes([0x01]) + bytes(_JPEG_DC_CHROMA[0]) + bytes(_JPEG_DC_CHROMA[1])
        dht += bytes([0x11]) + bytes(_JPEG_AC_EOB[0]) + bytes(_JPEG_AC_EOB[1])
    segs.append(_jpeg_seg(0xFFC4, dht))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"  # Ss/Se/AhAl
    segs.append(_jpeg_seg(0xFFDA, sos))

    dc_l = _huff_encode_table(*_JPEG_DC_LUMA)
    dc_c = _huff_encode_table(*_JPEG_DC_CHROMA)
    eob_l = _huff_encode_table(*_JPEG_AC_EOB)[0x00]
    w = _JpegBitWriter()
    pred = [0] * ncomp
    for bi in range(nb):
        vals = [(doc_id * 31 + bi * 17) % 256]
        if ncomp == 3:
            vals += [(doc_id * 7 + bi * 3) % 256, (doc_id * 11 + bi * 5) % 256]
        for c, v in enumerate(vals):
            dc = 8 * (v - 128)  # FDCT of a flat block: DC only, exact
            _encode_dc(w, dc_l if c == 0 else dc_c, dc - pred[c])
            pred[c] = dc
            w.put(*eob_l)  # all 63 ACs zero
    segs.append(w.flush())
    segs.append(b"\xff\xd9")
    return b"".join(segs)


def jpeg_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image fixture, lossy-codec edition: one spec-valid baseline JPEG
    (`_synth_jpeg`) per image-typed media row (doc_id % 3 == 0, the
    media_table modality convention); geometry and per-block planes derived
    from doc_id so the oracle predicts the DECODED pixels without parsing
    binaries."""
    return _synth_table(spark, sf_dir, 0, _synth_jpeg)


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF 0x00
    unstuffing; raises on any bare marker inside the scan."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def get(self, length: int) -> int:
        while self.n < length:
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.buf[self.pos]
                if nxt != 0x00:
                    raise ValueError("marker inside entropy scan")
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8
        v = (self.acc >> (self.n - length)) & ((1 << length) - 1)
        self.n -= length
        return v


def _huff_decode_table(bits, vals):
    """(length, code) -> symbol canonical decoding map."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_read(r: _JpegBitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.get(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _receive_extend(r: _JpegBitReader, s: int) -> int:
    if s == 0:
        return 0
    v = r.get(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _idct_basis():
    c = np.ones(8) / 2.0
    c[0] = 1.0 / (2.0 * math.sqrt(2.0))
    n = np.arange(8)
    return np.array(
        [[c[k] * math.cos((2 * int(x) + 1) * k * math.pi / 16.0) for x in n] for k in n]
    )


def parse_jpeg_blocks(payload: bytes):
    """General baseline-JFIF decoder: returns (width, height, n_components,
    per-component list of per-block integer pixel means). Walks the marker
    segments, builds canonical Huffman tables from DHT, entropy-decodes
    every MCU (DC prediction + AC run/size with EOB and ZRL), dequantizes
    against the DQT table, applies the 8x8 basis-matrix IDCT, level-shifts
    and rounds — the full baseline pipeline minus subsampling/progressive/
    restart (rejected explicitly, never misdecoded). A block mean that
    lands non-integral reports None (visible as a hash break, never a
    silent round)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("bad SOI")
    pos = 2
    qt = {}
    huff = {}
    dims = None
    comps = []
    scan = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad marker")
        marker = payload[pos + 1]
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        data = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = list(data[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(data[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise ValueError("non-8-bit precision")
            comps = []
            for c in range(nc):
                cid, samp, tq = data[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("subsampled JPEG unsupported")
                comps.append((cid, tq))
            dims = (w, h, nc)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("non-baseline SOF")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            nc = data[0]
            scan = [(data[1 + 2 * c], data[2 + 2 * c]) for c in range(nc)]
            pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if dims is None or scan is None:
        raise ValueError("missing SOF/SOS")
    w, h, nc = dims
    if w % 8 or h % 8:
        raise ValueError("partial-MCU edges unsupported")
    basis = _idct_basis()
    r = _JpegBitReader(payload, pos)
    nb = (w // 8) * (h // 8)
    pred = [0] * nc
    means: list[list] = [[] for _ in range(nc)]
    for _bi in range(nb):
        for c in range(nc):
            td, ta = scan[c][1] >> 4, scan[c][1] & 0xF
            q = qt[comps[c][1]]
            coef = [0] * 64
            s = _huff_read(r, huff[(0, td)])
            pred[c] += _receive_extend(r, s)
            coef[0] = pred[c] * q[0]
            k = 1
            while k < 64:
                rs = _huff_read(r, huff[(1, ta)])
                rrrr, ssss = rs >> 4, rs & 0xF
                if ssss == 0:
                    if rrrr == 15:  # ZRL: 16 zeros
                        k += 16
                        continue
                    break  # EOB
                k += rrrr
                coef[_ZIGZAG[k]] = _receive_extend(r, ssss) * q[k]
                k += 1
            # coef holds natural-order coefficients (AC positions mapped
            # through the zigzag; DC at 0), dequantized
            fmat = np.array(coef, dtype=np.float64).reshape(8, 8)
            pix = basis.T @ fmat @ basis + 128.0
            pix = np.clip(np.round(pix), 0, 255)
            m = float(pix.mean())
            means[c].append(int(m) if m == int(m) else None)
    return w, h, nc, means


def _jpeg_block_rows(payload: bytes) -> list[tuple]:
    _w, _h, nc, means = parse_jpeg_blocks(payload)
    rows = []
    for bi, y in enumerate(means[0]):
        cb, cr = (means[1][bi], means[2][bi]) if nc == 3 else (None, None)
        rows.append((bi, nc, y, cb, cr))
    return rows


def decode_jpeg_blocks(media: DataFrame) -> DataFrame:
    """Arrow-batched baseline-JPEG decode: one row per 8x8 block per media
    with the decoded per-plane integer values. Malformed/unsupported
    payloads yield a single null row (D25 posture, column edition)."""
    return _row_kernel(media, _jpeg_block_rows, JPEG_BLOCKS_SCHEMA, JPEG_ERRORS)


@query(
    "x5_jpeg_blocks",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS n_comp,
             (2 + doc_id % 6) * (2 + doc_id % 5) AS nb
      FROM documents WHERE doc_id % 3 = 0
    ), g AS (
      SELECT doc_id, n_comp, CAST(t.bi AS INT) AS bi
      FROM m, UNNEST(generate_series(0, nb - 1)) AS t(bi)
    )
    SELECT doc_id AS media_id, bi AS block_idx,
           CAST(n_comp AS INT) AS n_components,
           CAST((doc_id*31 + bi*17) % 256 AS INT) AS y,
           CASE WHEN n_comp = 3 THEN CAST((doc_id*7 + bi*3) % 256 AS INT) END AS cb,
           CASE WHEN n_comp = 3 THEN CAST((doc_id*11 + bi*5) % 256 AS INT) END AS cr,
           CASE WHEN n_comp = 3 THEN ROUND(
             CAST((doc_id*31 + bi*17) % 256 AS DOUBLE)
             + CAST(1.402 AS DOUBLE) * (CAST((doc_id*11 + bi*5) % 256 AS DOUBLE) - 128), 4) END AS r,
           CASE WHEN n_comp = 3 THEN ROUND(
             CAST((doc_id*31 + bi*17) % 256 AS DOUBLE)
             - CAST(0.344136 AS DOUBLE) * (CAST((doc_id*7 + bi*3) % 256 AS DOUBLE) - 128)
             - CAST(0.714136 AS DOUBLE) * (CAST((doc_id*11 + bi*5) % 256 AS DOUBLE) - 128), 4) END AS g,
           CASE WHEN n_comp = 3 THEN ROUND(
             CAST((doc_id*31 + bi*17) % 256 AS DOUBLE)
             + CAST(1.772 AS DOUBLE) * (CAST((doc_id*7 + bi*3) % 256 AS DOUBLE) - 128), 4) END AS b
    FROM g
    ORDER BY media_id, block_idx
    """,
    tags=("X5", "U4", "F3"),
)
def x5_jpeg_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG pixel decode, oracle-matched per BLOCK: spec-valid
    JFIF payloads (standard Annex-K DC Huffman tables, byte-stuffed scan,
    unit quant) decode through a GENERAL baseline pipeline — canonical
    Huffman from DHT, DC prediction, dequant, basis-matrix IDCT, level
    shift — and every block's decoded Y/Cb/Cr value must equal the
    synthesis formula; the JFIF YCbCr->RGB conversion then runs JVM-side
    as a DataFrame expression over the DECODED integers (identical double
    arithmetic in the oracle). This closes the r8 gap: of the lossy
    codecs only H.264 frame pixels remain env-stubbed
    (x5_decode_features). Scale shape: embarrassingly parallel map-only
    Arrow-batched decode, one row per block, no shuffle before the
    presentation sort."""
    blocks = decode_jpeg_blocks(jpeg_media_table(spark, sf_dir))
    yd = F.col("y").cast("double")
    cbd = F.col("cb").cast("double") - 128
    crd = F.col("cr").cast("double") - 128
    return blocks.select(
        "media_id",
        "block_idx",
        "n_components",
        "y",
        "cb",
        "cr",
        F.round(yd + 1.402 * crd, 4).alias("r"),
        F.round(yd - 0.344136 * cbd - 0.714136 * crd, 4).alias("g"),
        F.round(yd + 1.772 * cbd, 4).alias("b"),
    ).orderBy("media_id", "block_idx")


def media_meta_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality media table with REAL container payloads: the union
    of the WAV, PNG and AVI synth fixtures, tagged with their type — the
    shape a production multimodal lake actually has (one binary column,
    heterogeneous formats, a type column from the sidecar metadata)."""
    wav = wav_media_table(spark, sf_dir).select(
        "media_id", "payload", F.lit("audio/wav").alias("media_type")
    )
    png = png_media_table(spark, sf_dir).select(
        "media_id", "payload", F.lit("image/png").alias("media_type")
    )
    avi = avi_media_table(spark, sf_dir).select(
        "media_id", "payload", F.lit("video/avi").alias("media_type")
    )
    jpg = jpeg_media_table(spark, sf_dir).select(
        "media_id", "payload", F.lit("image/jpeg").alias("media_type")
    )
    return wav.unionByName(png).unionByName(avi).unionByName(jpg)


def _media_meta_row(payload: bytes, media_type: str) -> list[tuple]:
    if media_type == "audio/wav":
        rate, _ch, _w, n, dur = parse_wav_meta(payload)
        return [(None, None, n, rate, dur)]
    if media_type == "image/png":
        w, h, _depth, _ch, n_pixels, _raw = parse_png_meta(payload)
        return [(w, h, n_pixels, None, None)]
    if media_type == "video/avi":
        return [parse_avi_meta(payload)]
    if media_type == "image/jpeg":
        w, h, _nc, means = parse_jpeg_blocks(payload)
        return [(w, h, len(means[0]), None, None)]
    return [(None,) * 5]


def decode_media_meta(media: DataFrame) -> DataFrame:
    """ONE Arrow-batched kernel dispatching per row on media_type to the
    real container parsers — the production decode_features shape with no
    stub left in the path. Unknown types / malformed payloads yield null
    metadata (D25 posture); the malformed classes are the union of the
    four modalities' own."""
    return _row_kernel(
        media,
        _media_meta_row,
        MEDIA_META_SCHEMA,
        WAV_ERRORS + PNG_ERRORS + AVI_META_ERRORS + JPEG_ERRORS,
        keys=("media_id", "media_type"),
    )


@query(
    "x5_media_meta",
    oracle="""
    SELECT doc_id AS media_id, 'audio/wav' AS media_type,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(100 + doc_id % 900 AS BIGINT) AS n_units,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS rate,
           CAST((100 + doc_id % 900) * 1000 //
                (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                 WHEN 2 THEN 22050 ELSE 44100 END) AS BIGINT)
             AS duration_ms
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id, 'image/png',
           CAST(16 + doc_id % 48 AS INT), CAST(16 + doc_id % 37 AS INT),
           CAST((16 + doc_id % 48) * (16 + doc_id % 37) AS BIGINT),
           CAST(NULL AS INT), CAST(NULL AS BIGINT)
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'video/avi',
           CAST(64 + doc_id % 128 AS INT), CAST(48 + doc_id % 96 AS INT),
           CAST(10 + doc_id % 90 AS BIGINT),
           CAST(CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 15
                                WHEN 2 THEN 24 ELSE 30 END AS INT),
           CAST((10 + doc_id % 90) * 1000 *
                (1000000 // CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 15
                                            WHEN 2 THEN 24 ELSE 30 END)
                // 1000000 AS BIGINT)
    FROM documents WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id, 'image/jpeg',
           CAST(8 * (2 + doc_id % 6) AS INT), CAST(8 * (2 + doc_id % 5) AS INT),
           CAST((2 + doc_id % 6) * (2 + doc_id % 5) AS BIGINT),
           CAST(NULL AS INT), CAST(NULL AS BIGINT)
    FROM documents WHERE doc_id % 3 = 0
    ORDER BY media_id
    """,
    tags=("X5", "U4"),
)
def x5_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified multimodal metadata extraction: ONE dispatch kernel over a
    mixed WAV/PNG/AVI/JPEG corpus, every modality decoded by a REAL parser
    (no stub anywhere in this path; JPEG joined in r9 — its n_units is the
    decoded 8x8 block count, so the dispatch exercises the full baseline
    pipeline, not just the headers). The oracle predicts all four formats'
    metadata from the synthesis formulas, so a wrong parser, a wrong
    dispatch, or a dropped modality breaks the hash match."""
    return decode_media_meta(media_meta_table(spark, sf_dir)).orderBy("media_id")


# --- real decode: WAV frame CONTENT (not just headers) ---------------------
# x5_wav_meta proves header parsing; this op proves the decoder reads the
# PCM frames themselves: per-file int16 sample statistics, all integer-exact
# (sum of squares, peak, sign-change count), so the DuckDB oracle can
# re-derive them by reconstructing the byte stream from the synthesis
# formula (sha256 hex -> repeated -> little-endian int16 pairs) WITHOUT any
# audio code — a wrong endianness, offset, or frame count in the Python
# decoder breaks the hash match.

WAV_FEAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_vals", LongType(), True),
        StructField("energy_sumsq", LongType(), True),
        StructField("peak_abs", IntegerType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)


def _wav_features_row(payload: bytes) -> list[tuple]:
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError("non-16-bit pcm")
        frames = w.readframes(w.getnframes())
    v = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    if v.size == 0:
        raise ValueError("empty frame stream")
    nonneg = v >= 0
    return [
        (
            int(v.size),
            int(np.sum(v * v)),
            int(np.max(np.abs(v))),
            int(np.count_nonzero(nonneg[1:] != nonneg[:-1])),
        )
    ]


def decode_wav_features(media: DataFrame) -> DataFrame:
    """REAL frame decode: parse RIFF/WAVE with stdlib `wave`, interpret the
    frame bytes as interleaved little-endian int16, and emit integer-exact
    sample statistics (energy = sum v^2 as int64, peak |v|, zero crossings
    with sign(v) := v >= 0). Malformed payloads null out (D25 posture)."""
    return _row_kernel(media, _wav_features_row, WAV_FEAT_SCHEMA, WAV_ERRORS)


@query(
    "x5_audio_features",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             (100 + doc_id % 900) * (1 + doc_id % 2) AS n_vals,
             sha256(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE doc_id % 3 = 1
    ), hexes AS (
      SELECT doc_id, n_vals,
             substr(repeat(h, CAST((n_vals * 4 + 63) // 64 AS INT)),
                    1, n_vals * 4) AS hx
      FROM params
    ), samples AS (
      SELECT doc_id, i.i AS idx,
             (strpos('0123456789abcdef', substr(hx, 4*(i.i-1)+3, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(hx, 4*(i.i-1)+4, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(hx, 4*(i.i-1)+1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 4*(i.i-1)+2, 1)) - 1) AS u
      FROM hexes, LATERAL (SELECT unnest(range(1, n_vals + 1)) AS i) i
    ), signed_s AS (
      SELECT doc_id, idx,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
      FROM samples
    ), lagged AS (
      SELECT doc_id, v,
             LAG(v) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
      FROM signed_s
    )
    SELECT doc_id AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy_sumsq,
           CAST(MAX(ABS(v)) AS INT) AS peak_abs,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND ((v >= 0) <> (prev >= 0)) THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_crossings
    FROM lagged
    GROUP BY doc_id
    ORDER BY media_id
    """,
    tags=("X5", "U4", "A6"),
)
def x5_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FRAME-content features with a real decode path: the fixture's
    genuine WAV containers are decoded (stdlib wave + numpy int16 view)
    and reduced to integer-exact per-file statistics; the oracle
    reconstructs the same int16 stream in pure SQL from the synthesis
    formula (sha256 hex repeated, little-endian pairs, two's complement),
    so the decoder's frame math is pinned end-to-end, not just headers.

    Scale shape: identical to every x5 lane — the Arrow-batched row kernel
    over the payload column, one narrow pass, per-file reduction inside
    the kernel (nothing per-sample ever leaves the worker)."""
    return decode_wav_features(wav_media_table(spark, sf_dir)).orderBy("media_id")


# --- real decode: AVI frame DEMUX (per-frame 1->N extraction) --------------
# x5_avi_meta proves the header walk; this op proves the movi STREAM walk:
# every '..dc' video chunk is extracted as its own row — the real form of
# frame sampling over a video container (x5_frame_sample remains the
# generic-binary fallback; only pixel DECODE of the extracted frames stays
# env-gated, there is no codec in-container).

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_len", LongType(), False),
        StructField("frame_md5", StringType(), False),
    ]
)


def parse_avi_frames(payload: bytes) -> list[bytes]:
    """Walk the RIFF chunk tree to the movi LIST and return the video
    ('..dc') chunk bodies in stream order. Raises ValueError on a
    malformed container (RIFF spec: [fourcc][u32 size][data][pad-to-even])."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    frames: list[bytes] = []
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        data = payload[pos + 8 : pos + 8 + size]
        if len(data) < size:
            raise ValueError("truncated chunk")
        if fourcc == b"LIST" and data[:4] == b"movi":
            p = 4
            while p + 8 <= len(data):
                fc = data[p : p + 4]
                sz = int.from_bytes(data[p + 4 : p + 8], "little")
                body = data[p + 8 : p + 8 + sz]
                if len(body) < sz:
                    raise ValueError("truncated movi chunk")
                if fc[2:4] == b"dc":
                    frames.append(body)
                p += 8 + sz + (sz & 1)
        pos += 8 + size + (size & 1)
    return frames


def _avi_frame_rows(payload: bytes) -> list[tuple]:
    try:
        frames = parse_avi_frames(payload)
    except AVI_FRAMES_ERRORS:
        return []  # drop the file
    return [(i, len(body), hashlib.md5(body).hexdigest()) for i, body in enumerate(frames)]


def decode_avi_frames(media: DataFrame) -> DataFrame:
    """REAL 1->N demux kernel: each payload explodes into one row per video
    frame chunk (index, byte length, content md5). Malformed containers
    contribute ZERO rows — for an extraction operator the quarantine
    posture is drop-the-file, not a null row per absent frame (the file's
    absence is visible as a missing media_id, which the accounting ops
    surface)."""
    return _row_kernel(media, _avi_frame_rows, VIDEO_FRAME_SCHEMA)


@query(
    "x5_video_frames",
    oracle="""
    SELECT doc_id AS media_id,
           i.i AS frame_idx,
           CAST(64 AS BIGINT) AS frame_len,
           md5(sha256(CAST(doc_id AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)))
             AS frame_md5
    FROM documents,
         LATERAL (SELECT unnest(range(0, 10 + doc_id % 90)) AS i) i
    WHERE doc_id % 3 = 2
    ORDER BY media_id, frame_idx
    """,
    tags=("X5", "U4", "F6"),
)
def x5_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame demux with a REAL movi-stream walk: the fixture's AVI
    containers carry their declared frame count as genuine '00dc' chunks,
    and the kernel re-extracts every one (1->N explode inside the Arrow
    batch); the oracle reproduces each frame's md5 from the synthesis
    formula in pure SQL, so chunk offsets, pad bytes, stream order and
    frame boundaries are all pinned by the hash match.

    Scale shape: map-only mapInArrow, 1->N inside the kernel — the same
    posture as every x5 lane; at 100 TB frames land partitioned by
    media_id for downstream (env-gated) pixel decode."""
    return decode_avi_frames(avi_media_table(spark, sf_dir)).orderBy(
        "media_id", "frame_idx"
    )


# --- real decode: image PIXEL lane (average-hash fingerprint) ---------------
# x5_png_meta proves the container walk; this op proves the PIXEL path: the
# scanlines are unfiltered per the PNG spec (all five filter types), reduced
# to grayscale, block-averaged onto an 8x8 grid and thresholded into the
# classic 64-bit average hash — the fingerprint an image-dedup pipeline bands
# on. Integer-exact throughout (floor-division means) so the DuckDB oracle
# can replay the fixture's synthesis formula bit-for-bit.

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("phash_hex", StringType(), True),
        StructField("n_set_bits", IntegerType(), True),
    ]
)


def parse_png_pixels(payload: bytes):
    """Full PNG pixel decode (stdlib + numpy): chunk walk with CRC checks,
    zlib inflate, per-scanline UNFILTERING (types 0-4, PNG spec §9), returns
    an (h, w) uint8 GRAYSCALE array (gray = channel mean via floor division
    for color images). 8-bit depth, color types 0/2/4/6 (palette needs PLTE
    state the fixture never produces — raises like any malformed input)."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("bad signature")
    pos = len(_PNG_SIG)
    width = height = bit_depth = color_type = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError("bad crc")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("no IHDR")
    if bit_depth != 8:
        raise ValueError("unsupported bit depth")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError("unsupported color type")
    raw = zlib.decompress(idat)
    stride = width * channels
    if len(raw) != height * (1 + stride):
        raise ValueError("scanline length mismatch")
    # Unfilter (PNG spec: Sub/Up/Average/Paeth reference the RECONSTRUCTED
    # bytes of this and the prior scanline, one channel-width back).
    out = np.zeros((height, stride), dtype=np.int32)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1).astype(np.int32)
        ftype = raw[y * (1 + stride)]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            out[y] = line
        elif ftype == 2:  # Up (vectorizable: no intra-row dependence)
            out[y] = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = out[y]
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError("bad filter type")
    px = out.reshape(height, width, channels)
    if channels == 1:
        gray = px[:, :, 0]
    elif channels == 2:  # gray + alpha
        gray = px[:, :, 0]
    else:  # RGB / RGBA: integer luma, alpha ignored
        gray = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) // 3
    return gray.astype(np.int64)


def average_hash(gray) -> tuple[str, int]:
    """64-bit average hash over an (h, w) integer grayscale array: 8x8
    block-mean grid (floor-division means, so every step is integer-exact),
    threshold at the floor-mean of the 64 cell means, MSB-first bit order.
    Returns (16-char hex, set-bit count). Needs h >= 8 and w >= 8."""
    h, w = gray.shape
    if h < 8 or w < 8:
        raise ValueError("image smaller than hash grid")
    ys = [by * h // 8 for by in range(8)]
    xs = [bx * w // 8 for bx in range(8)]
    sums = np.add.reduceat(np.add.reduceat(gray, ys, axis=0), xs, axis=1)
    ny = np.diff(ys + [h]).reshape(8, 1)
    nx = np.diff(xs + [w]).reshape(1, 8)
    cm = sums // (ny * nx)
    thresh = int(cm.sum()) // 64
    bits = (cm >= thresh).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return format(val, "016x"), int(bits.sum())


def _phash_row(payload: bytes) -> list[tuple]:
    gray = parse_png_pixels(payload)
    hx, nset = average_hash(gray)
    return [(gray.shape[1], gray.shape[0], hx, nset)]


def decode_image_phash(media: DataFrame) -> DataFrame:
    """PNG payload -> (geometry, 64-bit aHash) through the row kernel.
    Malformed payloads null out (D25 posture, column edition)."""
    return _row_kernel(media, _phash_row, PHASH_SCHEMA, PNG_ERRORS)


def _sql_byte(j: str) -> str:
    """DuckDB expr: byte value of 1-based byte index `j` in hex string hx."""
    return (
        f"((strpos('0123456789abcdef', substr(hx, 2*({j})-1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(hx, 2*({j}), 1)) - 1))"
    )


@query(
    "x5_image_phash",
    oracle=f"""
    WITH params AS (
      SELECT doc_id, 16 + doc_id % 48 AS w, 16 + doc_id % 37 AS hgt,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             sha256(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE doc_id % 3 = 0
    ), hexes AS (
      SELECT doc_id, w, hgt, ch,
             substr(repeat(h, CAST((2*w*ch + 63) // 64 AS INT)), 1, 2*w*ch) AS hx
      FROM params
    ), px AS (
      -- every scanline of the fixture is identical, so the 8x8 grid's cell
      -- means reduce to per-COLUMN-band means of one scanline ((k*a)//(k*b)
      -- = a//b); gray = byte for ch=1, floor-mean of 3 bytes for RGB
      SELECT doc_id, w, p.p AS p,
             CASE WHEN ch = 1 THEN {_sql_byte('p.p + 1')}
                  ELSE ({_sql_byte('3*p.p + 1')} + {_sql_byte('3*p.p + 2')}
                        + {_sql_byte('3*p.p + 3')}) // 3 END AS g
      FROM hexes, LATERAL (SELECT unnest(range(0, w)) AS p) p
    ), cells AS (
      SELECT doc_id, bx.bx AS bx,
             CAST(SUM(g) AS BIGINT) // COUNT(*) AS cm
      FROM px, LATERAL (SELECT unnest(range(0, 8)) AS bx) bx
      WHERE p >= bx.bx * w // 8 AND p < (bx.bx + 1) * w // 8
      GROUP BY doc_id, bx.bx
    ), th AS (
      SELECT doc_id, (8 * SUM(cm)) // 64 AS thresh FROM cells GROUP BY doc_id
    ), bits AS (
      SELECT c.doc_id, c.bx,
             CASE WHEN c.cm >= t.thresh THEN 1 ELSE 0 END AS b
      FROM cells c JOIN th t USING (doc_id)
    ), bytev AS (
      SELECT doc_id,
             CAST(SUM(b * (1 << (7 - CAST(bx AS INT)))) AS INT) AS bv,
             CAST(SUM(b) AS INT) AS row_bits
      FROM bits GROUP BY doc_id
    )
    SELECT p.doc_id AS media_id,
           CAST(p.w AS INT) AS width,
           CAST(p.hgt AS INT) AS height,
           lower(repeat(lpad(to_hex(v.bv), 2, '0'), 8)) AS phash_hex,
           CAST(8 * v.row_bits AS INT) AS n_set_bits
    FROM params p JOIN bytev v USING (doc_id)
    ORDER BY media_id
    """,
    tags=("X5", "X2", "U4"),
)
def x5_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual fingerprint with a REAL pixel decode path: genuine
    PNG containers are chunk-walked, inflated, UNFILTERED (all five PNG
    filter types implemented), grayscaled and reduced to the classic 64-bit
    average hash — the banding key of an image near-dup pipeline. Every
    step is integer-exact (floor-division means), so the oracle replays the
    fixture's synthesis formula in pure SQL and the hash match pins filter
    reconstruction, luma math, block boundaries, threshold and bit order.

    Scale shape: map-only mapInArrow over the payload column (same posture
    as every x5 lane); downstream dedup bands on substrings of phash_hex —
    exact-dup images collide on the full hash, near-dups within Hamming
    distance share a band with LSH probability, so the join is a uniform
    16-char-key shuffle, never pairwise."""
    return decode_image_phash(png_media_table(spark, sf_dir)).orderBy("media_id")


# --- real decode: H.264 Annex-B NAL / slice-header metadata (r11) -----------
# The last env-stubbed codec gets its real-but-bounded lane (r10 verdict ask
# #5): an Annex-B byte-stream walk — start-code scan, emulation-prevention-
# byte removal, NAL header split, exp-Golomb SPS/PPS/slice-header parse — is
# pure bit arithmetic, no codec library needed, and it is exactly the
# metadata pass a training-data pipeline runs over raw video before deciding
# what to sample (frame boundaries, IDR cadence, geometry, profile). The
# fixture synthesizes genuine spec-valid Annex-B streams (SPS profile 66 +
# PPS + one slice NAL per frame, IDR every 8th) whose every parsed field is
# a formula of doc_id, so the DuckDB oracle predicts all of them — the same
# synthesis-formula discipline as x5_avi_meta / x5_jpeg_blocks. Every slice
# RBSP ends in a forced 00 00 01 / 00 00 02 / 00 00 03 tail, so the on-wire
# NAL carries emulation-prevention bytes that the parser MUST strip for the
# body hash (and rbsp_len) to match — EPB removal is load-bearing in the
# hash, not decorative. Out of scope (documented, not hidden): slice DATA
# entropy decode (CAVLC/CABAC residuals -> pixels) — that is the one H.264
# stage that genuinely needs a codec; everything up to it is real here.
# Scale shape: map-only mapInArrow over the payload column, ~n_frames rows
# out per asset — no shuffle before the output sort.

# forced RBSP tail: every 2-zero run is followed by a byte <= 3, so EPB
# insertion fires three times per slice on the wire
_H264_TAIL = b"\x00\x00\x01\x00\x00\x02\x00\x00\x03"


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def ue(self, k: int) -> None:
        m = (k + 1).bit_length() - 1
        self.bits.extend([0] * m)
        self.u(k + 1, m + 1)

    def bytes_padded(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        return bytes(
            sum(b << (7 - i) for i, b in enumerate(bits[j : j + 8]))
            for j in range(0, len(bits), 8)
        )


def _epb_insert(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: 00 00 followed by 00/01/02/03
    becomes 00 00 03 0x (ITU-T H.264 7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _synth_h264(doc_id: int) -> bytes:
    """Spec-valid Annex-B stream: SPS(66/30) + PPS + (5 + doc_id % 20)
    slice NALs, IDR every 8th frame. Geometry 16*(4+doc_id%8) x
    16*(3+doc_id%6) macroblocks; frame_num is u(8) (log2_max_frame_num =
    8 >= ceil(log2(24 frames))). First start code is 4-byte, the rest
    3-byte (the common encoder convention — the parser must accept both).
    Slice headers byte-align before the body (synthesis simplification the
    parser mirrors; real slice data is bit-continuous)."""
    w_mbs = 4 + doc_id % 8
    h_mbs = 3 + doc_id % 6
    n_frames = 5 + doc_id % 20

    sps = _BitWriter()
    sps.u(66, 8)   # profile_idc: Baseline
    sps.u(0, 8)    # constraint flags + reserved
    sps.u(30, 8)   # level_idc
    sps.ue(0)      # seq_parameter_set_id
    sps.ue(4)      # log2_max_frame_num_minus4 -> frame_num is u(8)
    sps.ue(2)      # pic_order_cnt_type
    sps.ue(1)      # max_num_ref_frames
    sps.u(0, 1)    # gaps_in_frame_num_value_allowed_flag
    sps.ue(w_mbs - 1)  # pic_width_in_mbs_minus1
    sps.ue(h_mbs - 1)  # pic_height_in_map_units_minus1
    sps.u(1, 1)    # frame_mbs_only_flag
    sps.u(1, 1)    # direct_8x8_inference_flag
    sps.u(0, 1)    # frame_cropping_flag
    sps.u(0, 1)    # vui_parameters_present_flag
    sps.u(1, 1)    # rbsp_stop_one_bit

    pps = _BitWriter()
    pps.ue(0)      # pic_parameter_set_id
    pps.ue(0)      # seq_parameter_set_id
    pps.u(0, 1)    # entropy_coding_mode_flag (CAVLC)
    pps.u(0, 1)    # bottom_field_pic_order_in_frame_present_flag
    pps.ue(0)      # num_slice_groups_minus1
    pps.ue(0)      # num_ref_idx_l0_default_active_minus1
    pps.ue(0)      # num_ref_idx_l1_default_active_minus1
    pps.u(0, 1)    # weighted_pred_flag
    pps.u(0, 2)    # weighted_bipred_idc
    pps.ue(0)      # pic_init_qp_minus26 (se(0) == ue(0) on the wire)
    pps.ue(0)      # pic_init_qs_minus26
    pps.ue(0)      # chroma_qp_index_offset
    pps.u(0, 1)    # deblocking_filter_control_present_flag
    pps.u(0, 1)    # constrained_intra_pred_flag
    pps.u(0, 1)    # redundant_pic_cnt_present_flag
    pps.u(1, 1)    # rbsp_stop_one_bit

    nals = [(3, 7, sps.bytes_padded()), (3, 8, pps.bytes_padded())]
    for i in range(n_frames):
        idr = i % 8 == 0
        hdr = _BitWriter()
        hdr.ue(0)                  # first_mb_in_slice
        hdr.ue(7 if idr else 5)    # slice_type (I-all / P-all)
        hdr.ue(0)                  # pic_parameter_set_id
        hdr.u(i, 8)                # frame_num (u(8) per the SPS)
        if idr:
            hdr.ue(0)              # idr_pic_id
        body = hashlib.sha256(f"{doc_id}:{i}".encode()).hexdigest().encode()
        nals.append(
            (3 if idr else 2, 5 if idr else 1, hdr.bytes_padded() + body + _H264_TAIL)
        )

    out = bytearray()
    for j, (ref_idc, ntype, rbsp) in enumerate(nals):
        out += b"\x00\x00\x00\x01" if j == 0 else b"\x00\x00\x01"
        out.append((ref_idc << 5) | ntype)
        out += _epb_insert(rbsp)
    return bytes(out)


def h264_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video fixture on the video-typed slice (doc_id % 3 == 2), one
    Annex-B H.264 elementary stream (`_synth_h264`) per row."""
    return _synth_table(spark, sf_dir, 2, _synth_h264)


class _BitReader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        if self.pos + n > 8 * len(self.buf):
            raise ValueError("bitstream underrun")
        v = 0
        for _ in range(n):
            byte = self.buf[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-Golomb overrun")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _epb_strip(nal: bytes) -> bytes:
    """Remove emulation-prevention bytes: 00 00 03 followed by 00/01/02/03
    drops the 03 (the inverse of _epb_insert)."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(nal)
    while i < n:
        b = nal[i]
        if zeros >= 2 and b == 3 and i + 1 < n and nal[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def _split_annexb(buf: bytes) -> list[bytes]:
    """Split an Annex-B byte stream on 3- or 4-byte start codes; returns
    the NAL units (header byte + escaped payload)."""
    starts = []
    i = 0
    n = len(buf)
    while i + 3 <= n:
        if buf[i] == 0 and buf[i + 1] == 0:
            if buf[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and buf[i + 2] == 0 and buf[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    nals = []
    for j, (s, body_start) in enumerate(starts):
        end = starts[j + 1][0] if j + 1 < len(starts) else n
        if end > body_start:
            nals.append(buf[body_start:end])
    return nals


_H264_HIGH_PROFILES = frozenset({100, 110, 122, 244, 44, 83, 86, 118, 128,
                                 138, 139, 134, 135})


def _parse_sps(r: "_BitReader") -> tuple:
    """(profile_idc, level_idc, log2_max_frame_num, width, height)."""
    profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    if profile_idc in _H264_HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            raise ValueError("scaling matrices unsupported")
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    width = 16 * (r.ue() + 1)
    height_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    height = 16 * height_units * (1 if frame_mbs_only else 2)
    return profile_idc, level_idc, log2_max_frame_num, width, height


def parse_h264_nals(payload: bytes) -> list[tuple]:
    """Walk an Annex-B stream; one tuple per NAL:
    (nal_idx, nal_type, nal_ref_idc, rbsp_len, slice_type, frame_num,
    width, height, body_sha). Slice fields need the stream's SPS for the
    frame_num bit width — real sequential decoder state, carried across
    NALs. A malformed NAL nulls its own row; the walk continues (D25
    posture, column edition)."""
    rows = []
    log2_mfn = None
    for idx, nal in enumerate(_split_annexb(payload)):
        try:
            header = nal[0]
            if header & 0x80:
                raise ValueError("forbidden_zero_bit set")
            ref_idc = (header >> 5) & 3
            ntype = header & 0x1F
            rbsp = _epb_strip(nal[1:])
            slice_type = frame_num = width = height = body_sha = None
            if ntype == 7:
                r = _BitReader(rbsp)
                _, _, log2_mfn, width, height = _parse_sps(r)
            elif ntype in (1, 5):
                if log2_mfn is None:
                    raise ValueError("slice before SPS")
                r = _BitReader(rbsp)
                r.ue()  # first_mb_in_slice
                slice_type = r.ue()
                r.ue()  # pic_parameter_set_id
                frame_num = r.u(log2_mfn)
                if ntype == 5:
                    r.ue()  # idr_pic_id
                body = rbsp[(r.pos + 7) // 8 :]
                body_sha = hashlib.sha256(body).hexdigest()
            rows.append(
                (idx, ntype, ref_idc, len(rbsp), slice_type, frame_num,
                 width, height, body_sha)
            )
        except H264_ERRORS:
            rows.append((idx, None, None, None, None, None, None, None, None))
    return rows


H264_NALS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("nal_idx", IntegerType(), False),
        StructField("nal_type", IntegerType(), True),
        StructField("nal_ref_idc", IntegerType(), True),
        StructField("rbsp_len", LongType(), True),
        StructField("slice_type", IntegerType(), True),
        StructField("frame_num", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("body_sha", StringType(), True),
    ]
)


def decode_h264_nals(media: DataFrame) -> DataFrame:
    """Row kernel over Annex-B payloads -> one row per NAL unit."""
    return _row_kernel(media, parse_h264_nals, H264_NALS_SCHEMA)


# SPS RBSP bit budget (see _synth_h264): 24 profile/flags/level + 1 sps_id
# + 5 log2mfn + 3 poc + 3 maxref + 1 gaps + ue(w_mbs-1) + ue(h_mbs-1)
# + 4 trailing flags + 1 stop bit = 42 + |ue(w)| + |ue(h)| bits.
# |ue(k)| = 2*floor(log2(k+1)) + 1: w_mbs-1 in 3..10 -> 5 or 7 bits;
# h_mbs-1 in 2..7 -> 3, 5 or 7 bits.
_SQL_H264 = """
    WITH vids AS (
      SELECT doc_id, 5 + doc_id % 20 AS n_frames,
             CASE WHEN doc_id % 8 <= 3 THEN 5 ELSE 7 END AS ue_w,
             CASE WHEN doc_id % 6 = 0 THEN 3
                  WHEN doc_id % 6 = 5 THEN 7 ELSE 5 END AS ue_h
      FROM documents WHERE doc_id % 3 = 2
    ), sps AS (
      SELECT doc_id AS media_id, CAST(0 AS INT) AS nal_idx,
             CAST(7 AS INT) AS nal_type, CAST(3 AS INT) AS nal_ref_idc,
             CAST((42 + ue_w + ue_h + 7) // 8 AS BIGINT) AS rbsp_len,
             CAST(NULL AS INT) AS slice_type, CAST(NULL AS INT) AS frame_num,
             CAST(16 * (4 + doc_id % 8) AS INT) AS width,
             CAST(16 * (3 + doc_id % 6) AS INT) AS height,
             CAST(NULL AS VARCHAR) AS body_sha
      FROM vids
    ), pps AS (
      -- PPS RBSP: 17 bits (9 ue(0)/flag singles + 2-bit weighted_bipred_idc
      -- + 5 more flags + stop bit) -> 3 bytes
      SELECT doc_id, 1, 8, 3, 3, NULL, NULL, NULL, NULL, NULL FROM vids
    ), slices AS (
      SELECT doc_id, CAST(2 + g.i AS INT),
             CASE WHEN g.i % 8 = 0 THEN 5 ELSE 1 END,
             CASE WHEN g.i % 8 = 0 THEN 3 ELSE 2 END,
             CASE WHEN g.i % 8 = 0 THEN 76 ELSE 75 END,
             CAST(CASE WHEN g.i % 8 = 0 THEN 7 ELSE 5 END AS INT),
             CAST(g.i AS INT), NULL, NULL,
             sha256(sha256(doc_id || ':' || g.i)
                    || decode('\\x00\\x00\\x01\\x00\\x00\\x02\\x00\\x00\\x03'::BLOB))
      FROM vids, LATERAL (SELECT unnest(range(0, n_frames)) AS i) g
    )
    SELECT * FROM sps
    UNION ALL SELECT * FROM pps
    UNION ALL SELECT * FROM slices
    ORDER BY media_id, nal_idx
"""


@query(
    "x5_h264_nals",
    oracle=_SQL_H264,
    tags=("X5", "U4"),
)
def x5_h264_nals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 Annex-B NAL/slice-header metadata with a REAL bitstream
    parser: start-code walk, emulation-prevention-byte removal, exp-Golomb
    SPS parse (profile-conditional chroma branch, POC-type branches,
    geometry), and slice-header parse whose frame_num bit width comes from
    the stream's own SPS — sequential decoder state carried across NALs.
    The oracle predicts every field from the synthesis formulas, and the
    forced 00-00-0x RBSP tails mean the body hash only matches if EPB
    stripping is exact. Retires the last env-stub: every modality container
    now has a real decode lane (slice-data entropy decode to pixels remains
    the one genuinely codec-bound stage, documented out of scope)."""
    return decode_h264_nals(h264_media_table(spark, sf_dir)).orderBy(
        "media_id", "nal_idx"
    )
