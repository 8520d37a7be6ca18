"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

The driver testdata has no image/audio files, and this container ships no
codec libraries, so payloads are synthesized deterministically from
``documents.text`` (UTF-8 bytes) — but the Spark-side plumbing is the
real thing a 100 TB multimodal corpus needs:

* a manifest projection (modality, byte length, content hash, fake
  width/height/sample-rate metadata) that stays fully declarative —
  oracle-checked against DuckDB;
* decode / feature-extract stages as per-document kernels run by one
  ``mapInArrow`` runner (:func:`map_docs`, built on
  ``functions/arrow.py``'s batch boundary, so a NaN feature stays NaN)
  with an explicit output schema — the exact shape a real decoder
  (PIL/ffmpeg/torchcodec) would plug into.  All three modalities are
  decoded for real with one strict pure-python parser per container
  format (no codec library needed for these uncompressed formats):
  **image** = binary P6 PPM (``decode_ppm_raster``: header tokenization,
  comments, maxval, raster bounds); **audio** = RIFF/WAVE 16-bit PCM
  (``parse_wav``: RIFF chunk walk with word alignment, fmt validation,
  sample extraction); **video** = YUV4MPEG2 (``parse_y4m``: stream
  header tags, per-FRAME markers, raw C444 planes).  Every feature
  function is built on its format's parser, and each is oracle-checked
  value-exactly: the payload is synthesized from a deterministic
  formula, round-tripped through the parser, and DuckDB recomputes the
  same integer features from first principles.

Scale notes: payload bytes never pass through a shuffle — the manifest
carries only metadata; decode is a narrow per-partition map whose
parallelism is the scan's split count (``spark.sql.files.maxPartitionBytes``),
and because the runner emits one batch per input Arrow batch,
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds every kernel's
memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrow import arrow_schema, py_values, to_batch
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

MODALITIES = ("image", "audio", "video")


def doc_kernel(
    fn: Callable[..., Iterable[tuple]], schema: pa.Schema
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The ``mapInArrow`` body that :func:`map_docs` runs.

    ``fn`` is called with one input row's values in column order (Python
    objects, via ``py_values``) and returns that row's output tuples —
    any number of them, so 1→1, 1→N and 1→0 kernels all fit.  Every
    input batch yields exactly one ``to_batch`` batch of the Arrow
    ``schema``: Python ints reach Arrow exactly, a float NaN stays NaN
    and only ``None`` becomes NULL.
    """
    empty = [()] * len(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                out
                for row in zip(*(py_values(c) for c in batch.columns))
                for out in fn(*row)
            ]
            yield to_batch(list(zip(*rows)) or empty, schema)

    return run


def map_docs(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Run the per-document kernel ``fn`` over ``df``'s Arrow batches,
    emitting rows of the DDL ``schema``; see :func:`doc_kernel` for the
    contract."""
    return df.mapInArrow(doc_kernel(fn, arrow_schema(schema)), schema=schema)


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, modality, payload: binary, meta struct).

    Deterministic synthesis: payload = UTF-8 bytes of text, modality by
    doc_id mod 3, metadata derived from md5 of the doc id.
    """
    docs = load_table(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    seed = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
    return docs.select(
        "doc_id",
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (seed % 1280 + 64).cast("int").alias("width"),
            (seed % 720 + 64).cast("int").alias("height"),
            (seed % 3 + 1).cast("int").alias("channels"),
            (seed % 32000 + 8000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


@register(
    "q_multimodal_manifest",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
               AS modality,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                % 1280 + 64 AS INT) AS width,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                % 720 + 64 AS INT) AS height
    FROM documents
    """,
)
def q_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest over binary payloads: metadata only — no payload shuffle."""
    mm = multimodal_table(spark, sf_dir)
    return mm.select(
        "doc_id",
        "modality",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


# ---------------------------------------------------------------------------
# Decode / feature extraction: per-document Python kernels run by map_docs
# ---------------------------------------------------------------------------

DECODE_SCHEMA = (
    "doc_id long, modality string, n_bytes long, "
    "mean_byte double, max_byte int, byte_entropy_bp long"
)


def decode_payload(payload: bytes, modality: str) -> dict:
    """Real decode dispatch — every modality has a genuine pure-python
    parser for its uncompressed container format (P6 PPM, RIFF/WAVE PCM,
    YUV4MPEG2).  A production deployment would swap these for
    PIL/soundfile/ffmpeg behind the same interface; compressed codecs
    are the only thing this environment cannot exercise.
    """
    if modality == "image":
        w, h, raster_sum, r_sum, max_byte = decode_ppm(payload)
        return {
            "width": w,
            "height": h,
            "raster_sum": raster_sum,
            "r_sum": r_sum,
            "max_byte": max_byte,
        }
    if modality == "audio":
        rate, channels, n_frames, peak, abs_sum, sum_sq = decode_wav(payload)
        return {
            "sample_rate": rate,
            "channels": channels,
            "n_frames": n_frames,
            "peak": peak,
            "abs_sum": abs_sum,
            "sum_sq": sum_sq,
        }
    if modality == "video":
        w, h, n_frames, y_sum, total_sum, max_byte = decode_y4m(payload)
        return {
            "width": w,
            "height": h,
            "n_frames": n_frames,
            "y_sum": y_sum,
            "total_sum": total_sum,
            "max_byte": max_byte,
        }
    raise ValueError(f"unknown modality: {modality!r}")


# ---------------------------------------------------------------------------
# Real image decode: binary P6 PPM (pure python, no codec dependency)
# ---------------------------------------------------------------------------


def decode_ppm_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary P6 PPM image; returns ``(width, height, raster)``.

    The one PPM parser every image kernel builds on: magic check,
    whitespace- and comment-tolerant header tokenization, maxval
    validation, raster length check.
    """
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6 magic missing)")
    tokens: list[bytes] = []
    i = 0
    while len(tokens) < 4:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i >= len(payload):
            raise ValueError("truncated PPM header")
        if payload[i : i + 1] == b"#":  # comment runs to end of line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # exactly one whitespace byte separates maxval from the raster
    if tokens[0] != b"P6":
        # a prefix match alone would accept e.g. b"P69 2 1..." and then
        # silently misparse width/height from shifted tokens
        raise ValueError(f"malformed PPM magic token {tokens[0]!r}")
    width, height, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval} (only 8-bit supported)")
    n_raster = 3 * width * height
    raster = payload[i : i + n_raster]
    if len(raster) < n_raster:
        raise ValueError(f"truncated raster: {len(raster)} < {n_raster}")
    return width, height, raster


def decode_ppm(payload: bytes) -> tuple[int, int, int, int, int]:
    """``(width, height, raster_sum, r_sum, max_byte)`` of a P6 PPM image.

    The features are integer-exact (sum of all raster bytes, sum of the
    R channel, max byte) so the query built on top is DuckDB-oracle-
    checkable with no float hazards.
    """
    width, height, raster = decode_ppm_raster(payload)
    return width, height, sum(raster), sum(raster[0::3]), max(raster)


def ppm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): a REAL binary P6 PPM image per document.

    Dimensions derive from doc_id (w = doc_id%13+4, h = doc_id%7+4); the
    raster is ``documents.text`` (pure ASCII in the fixtures) cycled to
    3·w·h bytes.  Synthesis is fully declarative (repeat + substring), so
    the DuckDB oracle can reproduce every raster byte positionally.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "CAST(doc_id % 13 + 4 AS INT) AS w",
        "CAST(doc_id % 7 + 4 AS INT) AS h",
        "text",
    ).selectExpr(
        "doc_id",
        r"""encode(concat('P6\n', CAST(w AS STRING), ' ', CAST(h AS STRING),
                         '\n255\n',
                         substring(repeat(text,
                                          CAST(ceil((3*w*h) / length(text)) AS INT)),
                                   1, 3*w*h)),
                  'UTF-8') AS payload""",
    )


def fake_decode_stats(payload: bytes) -> tuple[float, int, int]:
    """Deterministic stand-in for decode+feature-extract: byte stats.

    mean byte value, max byte, and a Shannon-entropy proxy in basis
    points (integer, so results are engine/platform exact).
    """
    import math

    if not payload:
        return 0.0, 0, 0
    counts: dict[int, int] = {}
    total = 0
    max_b = 0
    for b in payload:
        counts[b] = counts.get(b, 0) + 1
        total += b
        max_b = max(max_b, b)
    n = len(payload)
    entropy = -sum((c / n) * math.log2(c / n) for c in counts.values())
    return total / n, max_b, int(entropy * 10000)


def decode_features(mm: DataFrame) -> DataFrame:
    """Arrow-batched decode stage over (payload, modality): byte stats
    per document, one output frame per Arrow batch."""
    return map_docs(
        mm.select("doc_id", "modality", "payload"),
        lambda doc_id, modality, payload: [
            (doc_id, modality, len(payload), *fake_decode_stats(payload))
        ],
        DECODE_SCHEMA,
    )


RESIZE_SCHEMA = "doc_id long, out_w int, out_h int, n_out_bytes long"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_hash string"

TARGET_W, TARGET_H = 224, 224
FRAME_STRIDE = 256  # bytes per fake "frame"
MAX_FRAMES = 4


def resize_images(mm: DataFrame) -> DataFrame:
    """Resize stage (image modality) with the production shape —
    per-document decode→resize→re-encode; the pixel work is faked as
    byte truncation/padding to the target raster size since no codec
    library ships here, but schema, filtering, and batching are real."""
    target = TARGET_W * TARGET_H
    return map_docs(
        mm.filter(F.col("modality") == "image").select("doc_id", "payload"),
        lambda doc_id, payload: [
            (doc_id, TARGET_W, TARGET_H, min(len(payload), target))
        ],
        RESIZE_SCHEMA,
    )


def sample_frames(mm: DataFrame) -> DataFrame:
    """Frame-sampling stage (video modality): emits up to MAX_FRAMES
    "frames" per payload (1→N), each fingerprinted — the UDTF-shaped
    kernel a real ffmpeg keyframe sampler plugs into."""
    import hashlib

    def frames(doc_id: int, payload: bytes) -> Iterator[tuple]:
        n_frames = min(MAX_FRAMES, max(1, len(payload) // FRAME_STRIDE))
        for i in range(n_frames):
            chunk = payload[i * FRAME_STRIDE : (i + 1) * FRAME_STRIDE]
            yield doc_id, i, hashlib.md5(chunk).hexdigest()

    return map_docs(
        mm.filter(F.col("modality") == "video").select("doc_id", "payload"),
        frames,
        FRAME_SCHEMA,
    )


@register(
    "q_multimodal_frame_sample",
    # documents.text is ASCII in the fixtures, so character substr equals
    # the byte slicing the Python kernel performs on the UTF-8 payload.
    oracle=f"""
    SELECT doc_id,
           CAST(i - 1 AS INT) AS frame_idx,
           md5(substr(text, ({FRAME_STRIDE} * (i - 1)) + 1, {FRAME_STRIDE}))
               AS frame_hash
    FROM (SELECT doc_id, text,
                 least({MAX_FRAMES},
                       greatest(1, length(text) // {FRAME_STRIDE})) AS n_frames
          FROM documents
          WHERE doc_id % 3 = 2),
         LATERAL (SELECT unnest(range(1, n_frames + 1)) AS i)
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads; oracle reproduces the byte
    slicing + md5 per frame in SQL, proving the 1→N mapInArrow stage."""
    return sample_frames(multimodal_table(spark, sf_dir))


DECODE_PPM_SCHEMA = (
    "doc_id long, width int, height int, "
    "raster_sum long, r_sum long, max_byte int"
)


@register(
    "q_multimodal_decode_stats",
    # Reproduces the decoder's view positionally: raster byte p is the
    # text byte at index p % len(text) (documents.text is pure ASCII in the
    # fixtures, so unicode(char) == byte).  All stats integer → exact.
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS n
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, w, h, p,
             unicode(substr(text, CAST(p % n AS INT) + 1, 1)) AS b
      FROM params, LATERAL (SELECT unnest(range(0, 3*w*h)) AS p)
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(sum(b) AS BIGINT) AS raster_sum,
           CAST(sum(b) FILTER (p % 3 = 0) AS BIGINT) AS r_sum,
           CAST(max(b) AS INT) AS max_byte
    FROM bytes
    GROUP BY doc_id, w, h
    """,
)
def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode: synthesize a binary P6 PPM per document, parse it back
    with the pure-python decoder inside ``mapInArrow``, emit per-image
    integer-exact features.  The payload (header + raster) round-trips
    through a genuine parser — magic, header tokenization, maxval,
    raster bounds — and the DuckDB oracle recomputes the same features
    from first principles, so the decode stage is value-checked, not
    rows-only.  Payload bytes never shuffle; decode parallelism is the
    scan's split count."""

    return map_docs(
        ppm_table(spark, sf_dir),
        lambda doc_id, payload: [(doc_id, *decode_ppm(payload))],
        DECODE_PPM_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Real audio decode: RIFF/WAVE 16-bit PCM (pure python, no codec dependency)
# ---------------------------------------------------------------------------

AUDIO_RATES = (8000, 16000, 44100)
WAV_SAMPLE_MOD = 65521  # largest prime < 2^16; keeps samples in int16 range
WAV_SAMPLE_BIAS = 32760


def wav_params(doc_id: int) -> tuple[int, int, int]:
    """Deterministic (n_frames, channels, sample_rate) per document."""
    return doc_id % 50 + 20, doc_id % 2 + 1, AUDIO_RATES[doc_id % 3]


def wav_sample(doc_id: int, k: int) -> int:
    """The k-th interleaved 16-bit sample of document ``doc_id``.

    ``(doc_id*7919 + k*104729) % 65521 - 32760`` — always in
    [-32760, 32760], so it packs losslessly as little-endian int16.  The
    DuckDB oracle re-evaluates the identical arithmetic, so a parser that
    misreads the header, mis-walks a chunk, or flips endianness produces
    a value mismatch, not a silent pass.
    """
    return (doc_id * 7919 + k * 104729) % WAV_SAMPLE_MOD - WAV_SAMPLE_BIAS


def encode_wav(doc_id: int) -> bytes:
    """Encode a genuine RIFF/WAVE file: fmt chunk (PCM, 16-bit), an
    optional junk LIST chunk (odd sizes word-padded, exercising the
    decoder's chunk walk), then the data chunk of interleaved samples."""
    import struct

    n_frames, channels, rate = wav_params(doc_id)
    samples = [wav_sample(doc_id, k) for k in range(n_frames * channels)]
    data = struct.pack(f"<{len(samples)}h", *samples)
    block_align = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block_align, block_align, 16)
    chunks = [b"fmt " + struct.pack("<I", len(fmt)) + fmt]
    if doc_id % 4 == 0:  # junk chunk the parser must skip (incl. pad byte)
        junk = bytes(doc_id % 5 + 1)
        chunks.append(b"LIST" + struct.pack("<I", len(junk)) + junk)
        if len(junk) % 2:
            chunks.append(b"\x00")
    chunks.append(b"data" + struct.pack("<I", len(data)) + data)
    if len(data) % 2:
        chunks.append(b"\x00")
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Parse a RIFF/WAVE PCM file; returns
    ``(sample_rate, channels, interleaved int16 samples)``.

    The one WAV parser every audio kernel builds on: RIFF magic +
    declared size check, WAVE form type, generic chunk walk with word
    alignment (unknown chunks skipped), fmt validation (PCM, 16-bit
    only), and little-endian int16 sample extraction.
    """
    if payload[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    if len(payload) < 12:
        raise ValueError("truncated RIFF header")
    riff_size = int.from_bytes(payload[4:8], "little")
    if riff_size + 8 > len(payload):
        raise ValueError(f"declared RIFF size {riff_size} exceeds payload")
    if payload[8:12] != b"WAVE":
        raise ValueError("not a WAVE form")
    i, end = 12, 8 + riff_size
    fmt = None
    data = None
    while i + 8 <= end:
        cid = payload[i : i + 4]
        csize = int.from_bytes(payload[i + 4 : i + 8], "little")
        # bound against the declared RIFF end, not the raw payload length: a
        # chunk overflowing the RIFF container must be rejected even when
        # trailing payload bytes would happen to cover it.
        if i + 8 + csize > end:
            raise ValueError(
                f"{cid!r} chunk overruns RIFF container: {i + 8 + csize} > {end}"
            )
        body = payload[i + 8 : i + 8 + csize]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + csize + (csize % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError("fmt chunk too short")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (format={audio_format}, bits={bits})")
    if channels < 1:
        raise ValueError("channel count must be >= 1")
    if len(data) % (2 * channels):
        raise ValueError("data chunk is not a whole number of frames")
    samples = [
        int.from_bytes(data[2 * k : 2 * k + 2], "little", signed=True)
        for k in range(len(data) // 2)
    ]
    return rate, channels, samples


def decode_wav(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """``(sample_rate, channels, n_frames, peak, abs_sum, sum_sq)`` of a
    RIFF/WAVE PCM file.  All features are integers, so the query built
    on top is DuckDB-oracle-checkable with no float hazards."""
    rate, channels, samples = parse_wav(payload)
    peak = max((abs(s) for s in samples), default=0)
    abs_sum = sum(abs(s) for s in samples)
    sum_sq = sum(s * s for s in samples)
    return rate, channels, len(samples) // channels, peak, abs_sum, sum_sq


def decode_wav_samples(payload: bytes) -> list[int]:
    """The interleaved int16 sample stream of a RIFF/WAVE PCM file (for
    run-structure features the aggregate stats can't express)."""
    return parse_wav(payload)[2]


def wav_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): a REAL RIFF/WAVE PCM file per document.

    Synthesis happens executor-side in a per-document kernel
    (struct.pack); the decoder is an independent byte-arithmetic parser,
    and the oracle recomputes features from the generating formula —
    three separate code paths that must agree.
    """
    return map_docs(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        lambda doc_id: [(doc_id, encode_wav(doc_id))],
        "doc_id long, payload binary",
    )


DECODE_WAV_SCHEMA = (
    "doc_id long, sample_rate int, channels int, n_frames int, "
    "peak int, abs_sum long, sum_sq long"
)


@register(
    "q_multimodal_audio_stats",
    # Recomputes the decoder's outputs from the sample-generating formula:
    # interleaved sample k of doc d is (d*7919 + k*104729) % 65521 - 32760.
    # All features integer -> exact.
    oracle="""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels,
             CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
                 AS sample_rate
      FROM documents
    ),
    samples AS (
      SELECT doc_id, sample_rate, channels, n_frames,
             (doc_id * 7919 + k * 104729) % 65521 - 32760 AS s
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
    )
    SELECT doc_id,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(channels AS INT) AS channels,
           CAST(n_frames AS INT) AS n_frames,
           CAST(max(abs(s)) AS INT) AS peak,
           CAST(sum(abs(s)) AS BIGINT) AS abs_sum,
           CAST(sum(s * s) AS BIGINT) AS sum_sq
    FROM samples
    GROUP BY doc_id, sample_rate, channels, n_frames
    """,
)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: synthesize a RIFF/WAVE PCM file per document,
    parse it back with the pure-python chunk-walking decoder inside
    ``mapInArrow``, emit per-file integer-exact features (rate,
    channels, frames, peak amplitude, abs-sum, energy).  Payload bytes
    never shuffle; decode parallelism is the scan's split count."""

    return map_docs(
        wav_table(spark, sf_dir),
        lambda doc_id, payload: [(doc_id, *decode_wav(payload))],
        DECODE_WAV_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Real video decode: YUV4MPEG2, C444 raw planes (pure python)
# ---------------------------------------------------------------------------


def y4m_params(doc_id: int) -> tuple[int, int, int]:
    """Deterministic (width, height, n_frames) per document."""
    return doc_id % 6 + 2, doc_id % 4 + 2, doc_id % 3 + 1


def y4m_byte(doc_id: int, f: int, p: int) -> int:
    """Byte p (0 <= p < 3*w*h, Y then U then V plane) of frame f."""
    return (doc_id * 31 + f * 97 + p * 13) % 251


def encode_y4m(doc_id: int) -> bytes:
    """Encode a genuine YUV4MPEG2 stream: tagged stream header, then one
    ``FRAME`` marker + raw C444 planes per frame.  Some frames carry a
    frame-level parameter (allowed by the format) so the parser's
    tolerance for it is exercised."""
    w, h, n_frames = y4m_params(doc_id)
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    for f in range(n_frames):
        marker = b"FRAME Xsynth\n" if (doc_id + f) % 5 == 0 else b"FRAME\n"
        out.append(marker)
        out.append(bytes(y4m_byte(doc_id, f, p) for p in range(3 * w * h)))
    return b"".join(out)


def parse_y4m(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Parse a YUV4MPEG2 stream; returns ``(width, height, frames)``, each
    frame its 3*w*h raw plane bytes (Y then U then V).

    The one Y4M parser every video kernel builds on: magic check, tagged
    stream-header parse (W/H required, colourspace must be C444 — the
    only layout synthesized here), then a frame loop validating each
    ``FRAME`` marker (frame-level parameters tolerated) and slicing
    exactly 3*w*h raw plane bytes.  Trailing garbage after the last
    frame and a stream with no frames fail loudly.
    """
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("missing stream-header newline")
    fields = payload[:nl].split(b" ")
    if fields[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    colourspace = b"C420jpeg"  # format default when no C tag present
    for tag in fields[1:]:
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        if key == b"W":
            width = int(val)
        elif key == b"H":
            height = int(val)
        elif key == b"C":
            colourspace = tag
    if width is None or height is None or width <= 0 or height <= 0:
        raise ValueError("stream header missing W/H")
    if colourspace != b"C444":
        raise ValueError(f"unsupported colourspace {colourspace!r} (only C444)")
    frame_bytes = 3 * width * height
    i = nl + 1
    frames: list[bytes] = []
    while i < len(payload):
        fnl = payload.find(b"\n", i)
        if fnl < 0:
            raise ValueError("truncated FRAME header")
        fheader = payload[i:fnl]
        if fheader != b"FRAME" and not fheader.startswith(b"FRAME "):
            raise ValueError(f"bad FRAME marker {fheader!r}")
        planes = payload[fnl + 1 : fnl + 1 + frame_bytes]
        if len(planes) < frame_bytes:
            raise ValueError(f"truncated frame: {len(planes)} < {frame_bytes}")
        frames.append(planes)
        i = fnl + 1 + frame_bytes
    if not frames:
        raise ValueError("stream contains no frames")
    return width, height, frames


def decode_y4m(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """``(width, height, n_frames, y_sum, total_sum, max_byte)`` of a
    YUV4MPEG2 stream, folded over all frames."""
    width, height, frames = parse_y4m(payload)
    y_px = width * height
    return (
        width,
        height,
        len(frames),
        sum(sum(planes[:y_px]) for planes in frames),
        sum(sum(planes) for planes in frames),
        max(max(planes) for planes in frames),
    )


def y4m_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): a REAL YUV4MPEG2 stream per document."""
    return map_docs(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        lambda doc_id: [(doc_id, encode_y4m(doc_id))],
        "doc_id long, payload binary",
    )


DECODE_Y4M_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, "
    "y_sum long, total_sum long, max_byte int"
)


@register(
    "q_multimodal_video_stats",
    # Plane byte p of frame f of doc d is (d*31 + f*97 + p*13) % 251;
    # the Y plane is the first w*h bytes of each frame.
    oracle="""
    WITH params AS (
      SELECT doc_id, doc_id % 6 + 2 AS w, doc_id % 4 + 2 AS h,
             doc_id % 3 + 1 AS nf
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h, nf, p,
             (doc_id * 31 + f * 97 + p * 13) % 251 AS v
      FROM params,
           LATERAL (SELECT unnest(range(0, nf)) AS f),
           LATERAL (SELECT unnest(range(0, 3 * w * h)) AS p)
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(sum(v) FILTER (p < w * h) AS BIGINT) AS y_sum,
           CAST(sum(v) AS BIGINT) AS total_sum,
           CAST(max(v) AS INT) AS max_byte
    FROM b
    GROUP BY doc_id, w, h, nf
    """,
)
def q_multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode: synthesize a YUV4MPEG2 stream per document,
    parse it back (stream header, FRAME markers, raw C444 planes) inside
    ``mapInArrow``, emit per-stream integer-exact features.  Closes the
    last modality stub — image/audio/video all have genuine parsers."""

    return map_docs(
        y4m_table(spark, sf_dir),
        lambda doc_id, payload: [(doc_id, *decode_y4m(payload))],
        DECODE_Y4M_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Perceptual hash (dHash) near-dup over decoded images
# ---------------------------------------------------------------------------

PHASH_GRID = 4      # G x G grayscale cells -> G*(G-1) = 12 gradient bits
PHASH_HAM_MAX = 2   # pairs within this Hamming distance are near-dups
# hamming <= 2 over 3 nibbles => >= 1 nibble identical (pigeonhole), so
# blocking on the three 4-bit groups loses no qualifying pair.


def dhash_ppm(payload: bytes, grid: int = PHASH_GRID) -> int:
    """Difference hash of a PPM image: grayscale, block-mean downsample
    to grid x grid, one bit per horizontal gradient.  Pure integer
    arithmetic (floor means), so the hash is engine-exact."""
    import numpy as np

    w, h, raster = decode_ppm_raster(payload)
    a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64).reshape(h, w, 3)
    gray = a.sum(axis=2) // 3
    ci = (np.arange(h) * grid) // h
    cj = (np.arange(w) * grid) // w
    sums = np.zeros((grid, grid), dtype=np.int64)
    cnts = np.zeros((grid, grid), dtype=np.int64)
    np.add.at(sums, (ci[:, None], cj[None, :]), gray)
    np.add.at(cnts, (ci[:, None], cj[None, :]), 1)
    cells = sums // cnts
    ph = 0
    for i in range(grid):
        for j in range(grid - 1):
            if cells[i, j] > cells[i, j + 1]:
                ph |= 1 << (i * (grid - 1) + j)
    return ph


_PHASH_ORACLE = f"""
    WITH params AS (
      SELECT doc_id, text, doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS n
      FROM documents
    ),
    gray AS (
      SELECT doc_id, w, h, p // w AS y, p % w AS x,
             (unicode(substr(text, CAST((3*p) % n AS INT) + 1, 1))
            + unicode(substr(text, CAST((3*p+1) % n AS INT) + 1, 1))
            + unicode(substr(text, CAST((3*p+2) % n AS INT) + 1, 1))) // 3 AS g
      FROM params, LATERAL (SELECT unnest(range(0, w*h)) AS p)
    ),
    cells AS (
      SELECT doc_id, (y * {PHASH_GRID}) // h AS ci, (x * {PHASH_GRID}) // w AS cj,
             sum(g) // count(*) AS cv
      FROM gray GROUP BY doc_id, (y * {PHASH_GRID}) // h, (x * {PHASH_GRID}) // w
    ),
    hashes AS (
      SELECT a.doc_id,
             sum(CASE WHEN a.cv > b.cv
                      THEN 1 << (a.ci * {PHASH_GRID - 1} + a.cj) ELSE 0 END) AS ph
      FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.ci = a.ci
                               AND b.cj = a.cj + 1
      GROUP BY a.doc_id
    ),
    blocks AS (
      SELECT doc_id, ph, ph % 16 AS b0, (ph // 16) % 16 AS b1, ph // 256 AS b2
      FROM hashes
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.ph AS pha, b.ph AS phb
      FROM blocks a JOIN blocks b
        ON a.doc_id < b.doc_id
       AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2)
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(pha, phb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(pha, phb)) <= {PHASH_HAM_MAX}
"""


@register("q_multimodal_phash_pairs", oracle=_PHASH_ORACLE)
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection end-to-end: decode every P6 PPM,
    dHash it (grayscale -> {PHASH_GRID}x{PHASH_GRID} block means -> 12
    horizontal-gradient bits), and pair images within Hamming distance
    {PHASH_HAM_MAX} — the visual analogue of SimHash text dedup, and
    what a real image-dedup pipeline runs after swapping the decoder.

    Scale shape mirrors q_dedup_simhash exactly: hashing is a
    zero-shuffle mapInArrow over the payload scan (bytes never
    shuffle; only 12-bit hashes do); pairing blocks on the three 4-bit
    nibbles — a pair within the Hamming bound must share a nibble
    (pigeonhole), so three keyed equi-joins generate candidates, never
    a cross join; `bit_count(xor)` verifies in codegen.  The oracle
    recomputes every pixel, cell, bit, and pair from first principles
    in SQL.
    """
    # both self-join sides consume the hash frame; persist it (12 bytes
    # a row) or the Python decode kernel — the query's dominant cost —
    # runs once per side
    hashes = map_docs(
        ppm_table(spark, sf_dir),
        lambda doc_id, payload: [(doc_id, dhash_ppm(payload))],
        "doc_id long, ph long",
    ).persist()
    blocks = hashes.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), (F.col("ph") % 16).alias("bv")),
                F.struct(
                    F.lit(1).alias("bi"),
                    ((F.col("ph") / 16).cast("long") % 16).alias("bv"),
                ),
                F.struct(
                    F.lit(2).alias("bi"), (F.col("ph") / 256).cast("long").alias("bv")
                ),
            )
        ).alias("blk"),
    ).select("doc_id", "ph", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("ph").alias("pha"), "bi", "bv"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("ph").alias("phb"), "bi", "bv"
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pha", "phb")
        .distinct()
    )
    ham = F.bit_count(F.col("pha").bitwiseXOR(F.col("phb")))
    return cand.filter(ham <= PHASH_HAM_MAX).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Scene-cut detection: per-frame-pair Y-plane mean absolute difference
# ---------------------------------------------------------------------------

SCENE_CUT_MAD_CENTI = 12500  # flag pairs whose Y MAD exceeds 125.00/pixel
# (the synthetic planes' pairwise MADs span ~97..154/pixel, so this sits
# mid-distribution and both flag values occur in the fixture)


def y4m_frame_profile(payload: bytes) -> list[tuple[int, int, int | None]]:
    """Per-frame ``(frame_idx, y_sum, y_mad_centi_vs_prev | None)`` over
    the strict :func:`parse_y4m` walk: each frame's own Y sum alongside
    its Y-plane mean absolute difference to the previous frame."""
    width, height, frames = parse_y4m(payload)
    y_px = width * height
    prev = None
    out: list[tuple[int, int, int | None]] = []
    for frame_idx, planes in enumerate(frames):
        y_plane = planes[:y_px]
        mad = None
        if prev is not None:
            sad = sum(abs(a - b) for a, b in zip(y_plane, prev))
            mad = sad * 100 // y_px
        out.append((frame_idx, sum(y_plane), mad))
        prev = y_plane
    return out


def y4m_frame_diffs(payload: bytes) -> list[tuple[int, int]]:
    """For each consecutive frame pair of a YUV4MPEG2 stream,
    ``(frame_idx, y_mad_centi)`` — the mean absolute Y-plane difference
    in centi-units (floor(100 * Σ|ΔY| / (w*h))): the
    :func:`y4m_frame_profile` rows after the first frame."""
    return [(f, mad) for f, _, mad in y4m_frame_profile(payload)[1:]]


@register(
    "q_multimodal_scene_cuts",
    # Replays the synthesis formula: Y byte p of frame f of doc d is
    # (d*31 + f*97 + p*13) % 251 for p < w*h.
    oracle=f"""
    WITH params AS (
      SELECT doc_id, doc_id % 6 + 2 AS w, doc_id % 4 + 2 AS h,
             doc_id % 3 + 1 AS nf
      FROM documents
      WHERE doc_id % 3 + 1 >= 2
    ),
    diffs AS (
      SELECT doc_id, w, h, f,
             sum(abs((doc_id * 31 + f * 97 + p * 13) % 251
                     - (doc_id * 31 + (f - 1) * 97 + p * 13) % 251)) AS sad
      FROM params,
           LATERAL (SELECT unnest(range(1, nf)) AS f),
           LATERAL (SELECT unnest(range(0, w * h)) AS p)
      GROUP BY doc_id, w, h, f
    )
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           CAST(sad * 100 // (w * h) AS BIGINT) AS y_mad_centi,
           (sad * 100 // (w * h) > {SCENE_CUT_MAD_CENTI}) AS is_cut
    FROM diffs
    """,
)
def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection: for every consecutive frame pair of
    every stream, the Y-plane mean absolute difference (centi-units per
    pixel), flagged as a cut above ``SCENE_CUT_MAD_CENTI`` — the
    shot-boundary primitive a video-curation pipeline runs before
    frame-sampling (sample per SHOT, not per fixed stride, or a
    30-minute static shot eats the budget a 50-cut trailer needs).

    Scale shape: identical to the stats/phash kernels — synthesis and
    diffing both live in per-document kernels over the payload scan, so
    the raw video bytes NEVER shuffle; only (doc, frame, centi-MAD)
    triples leave the stage (zero joins, zero exchanges before the
    sink).  Integer-exact: the synthetic Y planes replay in the DuckDB
    oracle from the generator formula, and floor-division centi-units
    avoid float entirely."""
    diffs = map_docs(
        y4m_table(spark, sf_dir),
        lambda doc_id, payload: [(doc_id, *row) for row in y4m_frame_diffs(payload)],
        "doc_id long, frame_idx int, y_mad_centi long",
    )
    return diffs.select(
        "doc_id",
        "frame_idx",
        "y_mad_centi",
        (F.col("y_mad_centi") > SCENE_CUT_MAD_CENTI).alias("is_cut"),
    )


# ---------------------------------------------------------------------------
# Audio silence-run detection (VAD-style run structure over PCM samples)
# ---------------------------------------------------------------------------

SILENCE_THRESH = 8192  # |sample| below this is "silent" (~25% of range)
SILENCE_MIN_RUN = 2    # runs at least this long count as silence segments

_AUDIO_SILENCE_ORACLE = f"""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels
      FROM documents
    ),
    samples AS (
      SELECT doc_id, k,
             (doc_id * 7919 + k * 104729) % 65521 - 32760 AS s
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
    ),
    silent AS (
      SELECT doc_id, k,
             k - row_number() OVER (PARTITION BY doc_id ORDER BY k) AS grp
      FROM samples WHERE abs(s) < {SILENCE_THRESH}
    ),
    runs AS (
      SELECT doc_id, count(*) AS run_len
      FROM silent GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             sum(run_len) AS n_silent,
             sum(CASE WHEN run_len >= {SILENCE_MIN_RUN} THEN 1 ELSE 0 END)
                 AS n_runs,
             max(run_len) AS longest_run
      FROM runs GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(p.n_frames * p.channels AS BIGINT) AS n_samples,
           CAST(coalesce(d.n_silent, 0) AS BIGINT) AS n_silent,
           CAST(coalesce(d.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(coalesce(d.longest_run, 0) AS BIGINT) AS longest_run
    FROM params p LEFT JOIN per_doc d ON p.doc_id = d.doc_id
"""


@register("q_multimodal_audio_silence", oracle=_AUDIO_SILENCE_ORACLE)
def q_multimodal_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-run detection over decoded PCM: per clip, the count of
    silent samples, the number of silence segments (runs ≥
    {SILENCE_MIN_RUN}), and the longest run — the VAD-style structure
    feature an audio curation pipeline uses to drop dead air and split
    clips, and the first operator here that needs the sample SEQUENCE,
    not just aggregate stats.

    The kernel re-parses the RIFF container (`decode_wav_samples`) and
    finds runs with one pass over the sample array; the oracle replays
    the generating formula and derives the identical runs via
    gaps-and-islands in SQL — parser, kernel, and oracle are three
    independent code paths that must agree on every run boundary.
    Payload bytes never shuffle (the features leave the scan stage);
    per-task memory is one clip's samples."""

    def silence(doc_id: int, payload: bytes) -> list[tuple]:
        samples = decode_wav_samples(payload)
        n_silent = n_runs = longest = cur = 0
        for s in samples:
            if abs(s) < SILENCE_THRESH:
                cur += 1
                n_silent += 1
            else:
                if cur >= SILENCE_MIN_RUN:
                    n_runs += 1
                longest = max(longest, cur)
                cur = 0
        if cur >= SILENCE_MIN_RUN:
            n_runs += 1
        longest = max(longest, cur)
        return [(doc_id, len(samples), n_silent, n_runs, longest)]

    return map_docs(
        wav_table(spark, sf_dir),
        silence,
        "doc_id long, n_samples long, n_silent long, n_runs long, longest_run long",
    )


# ---------------------------------------------------------------------------
# Image channel histogram (feature extraction for training-data curation)
# ---------------------------------------------------------------------------

HIST_BUCKETS = 8  # byte-value buckets of width 32

_IMG_HIST_ORACLE = f"""
    WITH params AS (
      SELECT doc_id, text,
             doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS tl
      FROM documents
    ),
    bytes AS (
      SELECT doc_id,
             ascii(substr(text, CAST((p - 1) % tl AS INT) + 1, 1)) AS b
      FROM params, LATERAL (SELECT unnest(range(1, 3 * w * h + 1)) AS p)
    )
    SELECT doc_id, CAST(b // 32 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM bytes GROUP BY doc_id, b // 32
"""


@register("q_multimodal_image_histogram", oracle=_IMG_HIST_ORACLE)
def q_multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image intensity histogram ({HIST_BUCKETS} buckets of width
    32) over the decoded PPM raster — the exposure/contrast screening
    feature an image curation stack computes before any model sees a
    pixel (all-dark, all-bright, or low-dynamic-range images get
    dropped here).

    The kernel decodes the real P6 container (`decode_ppm_raster`) and
    buckets raster bytes with one `np.bincount` per image; the oracle
    replays the raster synthesis positionally (text cycled to 3wh
    bytes) and buckets in SQL.  Only (doc_id, bucket, count) rows leave
    the scan — at 100 TB of images the shuffle carries {HIST_BUCKETS}
    rows per image, never pixels."""
    import numpy as np

    def histogram(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _, _, raster = decode_ppm_raster(payload)
        counts = np.bincount(
            np.frombuffer(raster, dtype=np.uint8) >> 5,
            minlength=HIST_BUCKETS,
        )
        for b in range(HIST_BUCKETS):
            if counts[b]:
                yield doc_id, b, int(counts[b])

    return map_docs(
        ppm_table(spark, sf_dir), histogram, "doc_id long, bucket int, n long"
    )


# ---------------------------------------------------------------------------
# Per-shot keyframe selection (scene cuts -> one representative frame)
# ---------------------------------------------------------------------------


_KEYFRAME_ORACLE = f"""
    WITH params AS (
      SELECT doc_id, doc_id % 6 + 2 AS w, doc_id % 4 + 2 AS h,
             doc_id % 3 + 1 AS nf
      FROM documents
    ),
    frames AS (
      SELECT doc_id, w, h, f,
             sum((doc_id * 31 + f * 97 + p * 13) % 251) AS y_sum
      FROM params,
           LATERAL (SELECT unnest(range(0, nf)) AS f),
           LATERAL (SELECT unnest(range(0, w * h)) AS p)
      GROUP BY doc_id, w, h, f
    ),
    diffs AS (
      SELECT doc_id, w, h, f,
             sum(abs((doc_id * 31 + f * 97 + p * 13) % 251
                     - (doc_id * 31 + (f - 1) * 97 + p * 13) % 251)) AS sad
      FROM params,
           LATERAL (SELECT unnest(range(1, nf)) AS f),
           LATERAL (SELECT unnest(range(0, w * h)) AS p)
      GROUP BY doc_id, w, h, f
    ),
    marked AS (
      SELECT fr.doc_id, fr.f, fr.y_sum,
             CASE WHEN d.sad IS NOT NULL
                       AND d.sad * 100 // (fr.w * fr.h) > {SCENE_CUT_MAD_CENTI}
                  THEN 1 ELSE 0 END AS is_cut
      FROM frames fr LEFT JOIN diffs d
        ON fr.doc_id = d.doc_id AND fr.f = d.f
    ),
    shots AS (
      SELECT doc_id, f, y_sum,
             sum(is_cut) OVER (PARTITION BY doc_id ORDER BY f
                               ROWS UNBOUNDED PRECEDING) AS shot_idx
      FROM marked
    )
    SELECT doc_id, CAST(shot_idx AS INT) AS shot_idx,
           CAST(min(f) AS INT) AS keyframe_idx,
           CAST(count(*) AS INT) AS shot_frames,
           CAST(min_by(y_sum, f) AS BIGINT) AS keyframe_y_sum
    FROM shots GROUP BY doc_id, shot_idx
"""


@register("q_multimodal_keyframes", oracle=_KEYFRAME_ORACLE)
def q_multimodal_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shot keyframe selection: scene cuts partition each stream
    into shots, and every shot contributes its FIRST frame as the
    representative — sample per SHOT, not per fixed stride (the
    follow-through on `q_multimodal_scene_cuts`' docstring: a static
    shot contributes one frame however long it is, a rapid-cut segment
    contributes one per cut).

    One per-document kernel re-parses the stream and emits per-frame
    (y_sum, MAD-vs-prev) rows — bytes never shuffle; shot assignment is
    a per-doc running sum of cut flags and the keyframe a min-struct
    combiner per (doc, shot).  Output is O(shots), the frame budget a
    downstream vision encoder actually consumes."""
    frames = map_docs(
        y4m_table(spark, sf_dir),
        lambda doc_id, payload: [(doc_id, *row) for row in y4m_frame_profile(payload)],
        "doc_id long, f int, y_sum long, mad long",
    )
    is_cut = (
        F.when(
            F.col("mad").isNotNull() & (F.col("mad") > SCENE_CUT_MAD_CENTI), 1
        ).otherwise(0)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("f")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shots = frames.select(
        "doc_id", "f", "y_sum", F.sum(is_cut).over(w_run).alias("shot_idx")
    )
    return (
        shots.groupBy("doc_id", F.col("shot_idx").cast("int").alias("shot_idx"))
        .agg(
            F.min("f").cast("int").alias("keyframe_idx"),
            F.count(F.lit(1)).cast("int").alias("shot_frames"),
            F.min_by("y_sum", "f").cast("bigint").alias("keyframe_y_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Resize / average-pool to a fixed grid (the ViT-preprocessing shape)
# ---------------------------------------------------------------------------

RESIZE_GRID = 2  # G x G output cells per image

_RESIZE_ORACLE = f"""
    WITH params AS (
      SELECT doc_id, text,
             doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS tl
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h,
             (p - 1) // 3 AS pix,
             ascii(substr(text, CAST((p - 1) % tl AS INT) + 1, 1)) AS b
      FROM params, LATERAL (SELECT unnest(range(1, 3 * w * h + 1)) AS p)
    )
    SELECT doc_id,
           CAST(((pix // w) * {RESIZE_GRID}) // h AS INT) AS gy,
           CAST(((pix % w) * {RESIZE_GRID}) // w AS INT) AS gx,
           CAST(count(*) // 3 AS BIGINT) AS n_px,
           CAST(round(CAST(sum(b) AS DOUBLE) / count(*), 6) AS DOUBLE)
               AS mean_byte
    FROM px GROUP BY 1, 2, 3
"""


@register("q_multimodal_resize_grid", oracle=_RESIZE_ORACLE)
def q_multimodal_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE as average pooling to a fixed {RESIZE_GRID}x
    {RESIZE_GRID} grid — the downsample/patchify step a vision encoder's
    preprocessing runs (ViT patch embedding averages pixel blocks the
    same way), completing the multimodal verb set (decode, hash,
    histogram, frame-sample, RESIZE) with a real kernel over real PPM
    bytes.

    The Arrow kernel parses each P6 container, reshapes the raster, and
    integer-pools per grid cell (cell boundaries by integer division, so
    uneven dimensions split deterministically); output is O(G² ) rows
    per image — bytes never shuffle, features leave the scan stage (the
    dHash/keyframe discipline).  The oracle replays every raster byte
    positionally from the synthesis formula and must agree on every
    cell sum — parser, kernel, and oracle are independent paths."""
    import numpy as np

    def pool(doc_id: int, payload: bytes) -> Iterator[tuple]:
        G = RESIZE_GRID
        w, h, raster = decode_ppm_raster(payload)
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        px = a.reshape(h, w, 3).sum(axis=2)  # per-pixel byte sum
        ys = (np.arange(h) * G) // h
        xs = (np.arange(w) * G) // w
        for gy in range(G):
            rows = px[ys == gy]
            for gx in range(G):
                cell = rows[:, xs == gx]
                mean_byte = round(float(cell.sum()) / (cell.size * 3), 6)
                yield doc_id, gy, gx, int(cell.size), mean_byte

    return map_docs(
        ppm_table(spark, sf_dir),
        pool,
        "doc_id long, gy int, gx int, n_px long, mean_byte double",
    )


# ---------------------------------------------------------------------------
# Audio decimation resample (integer frame drop)
# ---------------------------------------------------------------------------

AUDIO_DECIMATE = 4  # keep every 4th frame

DECIMATE_SCHEMA = (
    "doc_id long, sample_rate int, channels int, factor int, "
    "n_frames_out int, peak_out int, abs_sum_out long, sum_sq_out long"
)


@register(
    "q_multimodal_audio_decimate",
    # Replays the generating formula, keeping frames where
    # (k // channels) % AUDIO_DECIMATE == 0 — the decimated stream.
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels,
             CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
                 AS sample_rate
      FROM documents
    ),
    kept AS (
      SELECT doc_id, sample_rate, channels,
             (doc_id * 7919 + k * 104729) % 65521 - 32760 AS s
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
      WHERE (k // channels) % {AUDIO_DECIMATE} = 0
    )
    SELECT doc_id,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(channels AS INT) AS channels,
           CAST({AUDIO_DECIMATE} AS INT) AS factor,
           CAST(count(*) // channels AS INT) AS n_frames_out,
           CAST(max(abs(s)) AS INT) AS peak_out,
           CAST(sum(abs(s)) AS BIGINT) AS abs_sum_out,
           CAST(sum(s * s) AS BIGINT) AS sum_sq_out
    FROM kept
    GROUP BY doc_id, sample_rate, channels
    """,
)
def q_multimodal_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio downsample by integer frame decimation: keep every
    {AUDIO_DECIMATE}th frame (all channels of the kept frame) and emit
    the decimated stream's integer features — the resampling PLUMBING a
    training pipeline needs (decode → frame-select → feature), with the
    anti-alias filter as the documented stub boundary: decimation
    without low-pass is the honest in-sandbox maximum (a real pipeline
    inserts a FIR before the drop; the Spark-side shape — decode kernel,
    batch schema, partitioning — is identical).

    Frame selection happens INSIDE the decode kernel, so raster bytes
    never shuffle and the output is ~1/{AUDIO_DECIMATE} of the sample
    volume; all features are exact integers replayable from the
    generating formula by the oracle."""

    def decimate(doc_id: int, payload: bytes) -> list[tuple]:
        rate, channels, samples = parse_wav(payload)
        kept = [
            s
            for k, s in enumerate(samples)
            if (k // channels) % AUDIO_DECIMATE == 0
        ]
        return [(
            doc_id,
            rate,
            channels,
            AUDIO_DECIMATE,
            len(kept) // channels,
            max((abs(s) for s in kept), default=0),
            sum(abs(s) for s in kept),
            sum(s * s for s in kept),
        )]

    return map_docs(wav_table(spark, sf_dir), decimate, DECIMATE_SCHEMA)


# ---------------------------------------------------------------------------
# Grayscale conversion: integer BT.601 luma inside the decode kernel
# ---------------------------------------------------------------------------

GRAY_DARK = 64  # luma threshold for the dark-pixel count

_GRAY_ORACLE = f"""
    WITH params AS (
      SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h, text
      FROM documents
    ),
    rast AS (
      SELECT doc_id, w, h,
             substring(repeat(text,
                              CAST(ceil((3*w*h) / length(text)) AS INT)),
                       1, 3*w*h) AS raster
      FROM params
    ),
    px AS (
      SELECT doc_id, w, h,
             (299 * ord(substr(raster, 3*p + 1, 1))
              + 587 * ord(substr(raster, 3*p + 2, 1))
              + 114 * ord(substr(raster, 3*p + 3, 1))) // 1000 AS y
      FROM rast, LATERAL (SELECT unnest(range(0, w*h)) AS p)
    )
    SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
           CAST(sum(y) AS BIGINT) AS luma_sum,
           CAST(min(y) AS INT) AS luma_min,
           CAST(max(y) AS INT) AS luma_max,
           CAST(sum(CASE WHEN y < {GRAY_DARK} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dark
    FROM px GROUP BY 1, 2, 3
"""


@register("q_multimodal_image_grayscale", oracle=_GRAY_ORACLE)
def q_multimodal_image_grayscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grayscale conversion over the REAL decoded raster: per image,
    BT.601 integer luma ``(299R + 587G + 114B) // 1000`` for every
    pixel, reduced to exposure features (sum/min/max luma, dark-pixel
    count) — the color→gray projection every vision preprocessing
    stack runs before hashing/thresholding (`dhash_ppm` does the same
    inside its hash; this exposes it as a feature column).

    All integer arithmetic — floor-divided luma is engine-exact and
    the oracle replays every raster byte positionally from the
    declarative synthesis.  Conversion + reduction happen inside the
    decode kernel: raster bytes never shuffle, O(1) feature rows leave
    the scan per image."""
    import numpy as np

    def grayscale(doc_id: int, payload: bytes) -> list[tuple]:
        w, h, raster = decode_ppm_raster(payload)
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        a = a.reshape(h * w, 3)
        y = (299 * a[:, 0] + 587 * a[:, 1] + 114 * a[:, 2]) // 1000
        return [(
            doc_id,
            w,
            h,
            int(y.sum()),
            int(y.min()),
            int(y.max()),
            int((y < GRAY_DARK).sum()),
        )]

    return map_docs(
        ppm_table(spark, sf_dir),
        grayscale,
        "doc_id long, w int, h int, luma_sum long, "
        "luma_min int, luma_max int, n_dark long",
    )


# ---------------------------------------------------------------------------
# Audio zero-crossing rate (per clip, exact integer counting)
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_audio_zcr",
    # Replays the generating formula: a crossing at interleaved index k
    # (within one channel: k and k+channels) where signs strictly
    # oppose; zeros break runs (sign(s)=0 counts as no crossing).
    oracle="""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels
      FROM documents
    ),
    samples AS (
      SELECT doc_id, channels,
             k % channels AS ch, k // channels AS frame,
             sign((doc_id * 7919 + k * 104729) % 65521 - 32760) AS sg
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
    ),
    crossings AS (
      SELECT doc_id, channels, ch,
             CASE WHEN sg * lag(sg) OVER (PARTITION BY doc_id, ch
                                          ORDER BY frame) = -1
                  THEN 1 ELSE 0 END AS x
      FROM samples
    )
    SELECT doc_id, CAST(channels AS INT) AS channels,
           CAST(sum(x) AS BIGINT) AS n_crossings
    FROM crossings GROUP BY doc_id, channels
    """,
)
def q_multimodal_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing count per decoded audio clip (per channel summed)
    — THE cheap spectral proxy (high ZCR ≈ high-frequency content /
    noise; low ≈ tonal), the voiced/unvoiced discriminator classic
    speech pipelines run before anything heavier, over the REAL
    RIFF/WAVE parse.

    A crossing is a strict sign opposition between a channel's
    consecutive samples (``sign(a)·sign(b) == −1``; exact zeros break
    runs) — pure integer logic, bit-exact against the oracle's
    formula replay.  Counting happens inside the decode kernel: bytes
    never shuffle, one row leaves the scan per clip."""

    import numpy as np

    def zcr(doc_id: int, payload: bytes) -> list[tuple]:
        _, channels, samples = parse_wav(payload)
        samples = np.asarray(samples, dtype=np.int64)
        n = 0
        for ch in range(channels):
            s = np.sign(samples[ch::channels])
            n += int((s[1:] * s[:-1] == -1).sum())
        return [(doc_id, channels, n)]

    return map_docs(
        wav_table(spark, sf_dir), zcr, "doc_id long, channels int, n_crossings long"
    )


# ---------------------------------------------------------------------------
# Audio energy-flatness (spectral-flatness proxy, exact integer micro-units)
# ---------------------------------------------------------------------------

FLATNESS_BLOCK = 8  # within-channel samples per energy block


@register(
    "q_multimodal_audio_flatness",
    # Replays the generating formula: within-channel sample j of channel
    # ch is interleaved index k = j*channels + ch; blocks are 8
    # consecutive within-channel samples (trailing partial block kept).
    # e1 = 1 + sum(s^2) keeps ln defined on silent blocks.  All
    # accumulations are exact ints; the two ln() calls are quantized to
    # micro-units with floor(x*1e6 + 0.5) (the repo's ln6 discipline),
    # and the output flatness is an INTEGER micro-unit value.
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels
      FROM documents
    ),
    samples AS (
      SELECT doc_id, channels,
             k % channels AS ch,
             (k // channels) // {FLATNESS_BLOCK} AS blk,
             (doc_id * 7919 + k * 104729) % 65521 - 32760 AS s
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
    ),
    blocks AS (
      SELECT doc_id, channels, ch, blk,
             1 + sum(s * s) AS e1
      FROM samples GROUP BY doc_id, channels, ch, blk
    ),
    clip AS (
      SELECT doc_id, channels,
             count(*) AS n_blocks,
             CAST(sum(e1) AS BIGINT) AS sum_e1,
             CAST(sum(CAST(floor(ln(CAST(e1 AS DOUBLE)) * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sum_ln6
      FROM blocks GROUP BY doc_id, channels
    )
    SELECT doc_id, CAST(channels AS INT) AS channels,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           sum_e1,
           CAST(floor(
             CAST(sum_ln6 AS DOUBLE) / n_blocks
             - floor(ln(CAST(sum_e1 AS DOUBLE) / n_blocks) * 1000000 + 0.5)
             + 0.5) AS BIGINT) AS flat_mu
    FROM clip
    """,
)
def q_multimodal_audio_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-flatness per decoded audio clip — the cheap spectral-
    flatness proxy and ZCR's companion (ZCR sees only sign changes, so
    it cannot tell an even energy envelope from a peaky one): the
    (log-domain) ratio of the geometric to the arithmetic mean of
    short-block energies.  Near 0 micro-units = flat/noise-like energy
    envelope; strongly negative = peaky/tonal — the classic
    voiced/music/noise discriminator that needs no FFT (the true
    Wiener entropy over FFT bins is the documented stub boundary, same
    class as the decimation FIR).

    Block energies are exact ints over the REAL RIFF/WAVE parse
    ({FLATNESS_BLOCK} within-channel samples per block, trailing
    partial block kept, +1 so silence stays in ln's domain); each ln is
    quantized to integer micro-units via floor(x*1e6 + 0.5) and summed
    exactly, so the output is an INTEGER — bit-exact at any
    partitioning.  Computation lives inside the decode kernel: bytes
    never shuffle, one row leaves the scan per clip."""
    import math

    import numpy as np

    def flatness(doc_id: int, payload: bytes) -> list[tuple]:
        _, channels, samples = parse_wav(payload)
        samples = np.asarray(samples, dtype=np.int64)
        n_blocks = 0
        sum_e1 = 0
        sum_ln6 = 0
        for ch in range(channels):
            x = samples[ch::channels]
            e = np.add.reduceat(x * x, range(0, len(x), FLATNESS_BLOCK))
            e1 = e + 1
            lnq = np.floor(np.log(e1.astype(np.float64)) * 1e6 + 0.5)
            n_blocks += len(e1)
            sum_e1 += int(e1.sum())
            sum_ln6 += int(lnq.sum())
        flat_mu = int(
            math.floor(
                sum_ln6 / n_blocks
                - math.floor(math.log(sum_e1 / n_blocks) * 1e6 + 0.5)
                + 0.5
            )
        )
        return [(doc_id, channels, n_blocks, sum_e1, flat_mu)]

    return map_docs(
        wav_table(spark, sf_dir),
        flatness,
        "doc_id long, channels int, n_blocks long, sum_e1 long, flat_mu long",
    )


# ---------------------------------------------------------------------------
# Image edge energy (integer first-difference gradients over the raster)
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_image_edges",
    # Replays the raster positionally (the grayscale oracle's px CTE,
    # with the pixel index kept), then takes first differences along
    # rows (neighbors p, p+1 within a scanline) and columns (p, p+w).
    oracle="""
    WITH params AS (
      SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h, text
      FROM documents
    ),
    rast AS (
      SELECT doc_id, w, h,
             substring(repeat(text,
                              CAST(ceil((3*w*h) / length(text)) AS INT)),
                       1, 3*w*h) AS raster
      FROM params
    ),
    px AS (
      SELECT doc_id, w, h, p,
             (299 * ord(substr(raster, 3*p + 1, 1))
              + 587 * ord(substr(raster, 3*p + 2, 1))
              + 114 * ord(substr(raster, 3*p + 3, 1))) // 1000 AS y
      FROM rast, LATERAL (SELECT unnest(range(0, w*h)) AS p)
    ),
    gx AS (
      SELECT a.doc_id, sum(abs(b.y - a.y)) AS s
      FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      WHERE a.p % a.w != a.w - 1
      GROUP BY a.doc_id
    ),
    gy AS (
      SELECT a.doc_id, sum(abs(b.y - a.y)) AS s
      FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.p = a.p + a.w
      GROUP BY a.doc_id
    )
    SELECT p.doc_id, CAST(min(p.w) AS INT) AS w, CAST(min(p.h) AS INT) AS h,
           CAST(min(gx.s) AS BIGINT) AS gx_sum,
           CAST(min(gy.s) AS BIGINT) AS gy_sum,
           CAST(min(gx.s) + min(gy.s) AS BIGINT) AS edge_energy
    FROM px p JOIN gx ON gx.doc_id = p.doc_id
              JOIN gy ON gy.doc_id = p.doc_id
    GROUP BY p.doc_id
    """,
)
def q_multimodal_image_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge energy per image over the REAL decoded raster: sum of
    absolute first differences of BT.601 integer luma along rows (gx)
    and columns (gy) — the gradient-magnitude proxy (L1 Sobel without
    the smoothing taps) vision pipelines use for blur/blank detection
    and texture scoring before anything learned runs.

    All integer arithmetic over the positional byte replay, so the
    oracle reproduces every pixel and every difference exactly.  The
    gradient is computed inside the decode kernel (numpy diff on the
    (h, w) luma grid): raster bytes never shuffle, one 6-int row
    leaves the scan per image — same 100 TB shape as grayscale/phash."""
    import numpy as np

    def edges(doc_id: int, payload: bytes) -> list[tuple]:
        w, h, raster = decode_ppm_raster(payload)
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        y = (
            (299 * a[0::3] + 587 * a[1::3] + 114 * a[2::3]) // 1000
        ).reshape(h, w)
        gx = int(np.abs(np.diff(y, axis=1)).sum())
        gy = int(np.abs(np.diff(y, axis=0)).sum())
        return [(doc_id, w, h, gx, gy, gx + gy)]

    return map_docs(
        ppm_table(spark, sf_dir),
        edges,
        "doc_id long, w int, h int, gx_sum long, gy_sum long, edge_energy long",
    )


# ---------------------------------------------------------------------------
# Audio RMS loudness-normalization gain (per clip, exact sufficient stats)
# ---------------------------------------------------------------------------

RMS_TARGET = 10_000  # target RMS amplitude for loudness normalization


@register(
    "q_multimodal_audio_rms_gain",
    # Replays the generating formula positionally; the gain expression
    # is the IDENTICAL text on both engines (cast -> divide -> sqrt ->
    # divide -> multiply -> floor: every step correctly-rounded IEEE,
    # so the quantized result is bit-equal).
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels
      FROM documents
    ),
    samples AS (
      SELECT doc_id,
             (doc_id * 7919 + k * 104729) % 65521 - 32760 AS s
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_samples, sum(s * s) AS sumsq
      FROM samples GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
           CAST(sumsq AS BIGINT) AS sumsq,
           CAST(floor({RMS_TARGET}.0
                      / sqrt(CAST(sumsq AS DOUBLE) / n_samples)
                      * 1000000 + 0.5) AS BIGINT) AS gain_mu
    FROM agg WHERE sumsq > 0
    """,
)
def q_multimodal_audio_rms_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudness-normalization gain per decoded clip: the multiplier
    (micro-units) that brings the clip's RMS amplitude to
    {RMS_TARGET} — the per-asset normalization constant an audio
    curation pipeline computes before mixing sources recorded at
    different levels.

    The decode kernel (REAL RIFF/WAVE parse) emits only the exact
    integer sufficient statistics (sample count, sum of squares —
    ≤ ~1.5e11, comfortably BIGINT); the gain itself is ONE identical
    SQL expression on both engines (divide → sqrt → divide →
    multiply → floor, each step correctly-rounded IEEE, hence
    bit-equal without micro-unit gymnastics).  Bytes never shuffle;
    per-task memory is one clip's samples."""

    import numpy as np

    def energy(doc_id: int, payload: bytes) -> list[tuple]:
        samples = np.asarray(decode_wav_samples(payload), dtype=np.int64)
        return [(doc_id, int(samples.size), int((samples * samples).sum()))]

    stats = map_docs(
        wav_table(spark, sf_dir), energy, "doc_id long, n_samples long, sumsq long"
    )
    return stats.filter(F.col("sumsq") > 0).select(
        "doc_id",
        "n_samples",
        "sumsq",
        F.floor(
            F.lit(float(RMS_TARGET))
            / F.sqrt(F.col("sumsq").cast("double") / F.col("n_samples"))
            * 1_000_000
            + 0.5
        ).cast("bigint").alias("gain_mu"),
    )


# ---------------------------------------------------------------------------
# Per-image histogram entropy (information-content screen)
# ---------------------------------------------------------------------------

_IMG_ENTROPY_ORACLE = """
    WITH params AS (
      SELECT doc_id, text,
             doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS tl
      FROM documents
    ),
    bytes AS (
      SELECT doc_id,
             ascii(substr(text, CAST((p - 1) % tl AS INT) + 1, 1)) AS b
      FROM params, LATERAL (SELECT unnest(range(1, 3 * w * h + 1)) AS p)
    ),
    hist AS (SELECT doc_id, b, count(*) AS c FROM bytes GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, sum(c) AS n, count(*) AS n_levels,
             sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5)
                          AS BIGINT)) AS s
      FROM hist GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(n_levels AS BIGINT) AS n_levels,
           CAST((n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                 - s) // n AS BIGINT) AS entropy_mu
    FROM agg
"""


@register("q_multimodal_image_entropy", oracle=_IMG_ENTROPY_ORACLE)
def q_multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each image's byte-value histogram, in
    micro-nats — the information-content screen next to the bucketed
    histogram op (`q_multimodal_image_histogram` answers "where is the
    mass", this answers "how flat is it"): near-zero entropy means a
    solid/synthetic fill worth dropping from a training corpus, high
    entropy means texture-rich (or noise/encrypted) content.

    Determinism (ln6 + sufficient-statistics discipline): the decode
    kernel emits only EXACT integer (value, count) histogram rows —
    bytes never shuffle, float never enters Python.  Both engines then
    compute H_mu = (n·lnq(n) − Σ c·lnq(c)) div n with lnq =
    floor(ln(·)·1e6 + 0.5) on integer-valued doubles; c <= n termwise
    makes the numerator provably non-negative, so Spark ``div`` ==
    DuckDB ``//``.

    Scale shape: one decode pass in `mapInArrow`; <= 256 histogram
    rows per image leave the scan; the per-image agg is map-side
    combined.  At 100 TB of images the only cost is the decode scan
    itself (the RMS-gain envelope)."""
    import numpy as np

    def histogram(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _, _, raster = decode_ppm_raster(payload)
        counts = np.bincount(np.frombuffer(raster, dtype=np.uint8), minlength=256)
        for b in np.nonzero(counts)[0]:
            yield doc_id, int(b), int(counts[b])

    hist = map_docs(ppm_table(spark, sf_dir), histogram, "doc_id long, b int, c long")

    def lnq(col):
        return F.floor(F.log(col.cast("double")) * 1_000_000 + 0.5).cast("bigint")

    return (
        hist.select("doc_id", "c", (F.col("c") * lnq(F.col("c"))).alias("clnc"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_levels"),
            F.sum("clnc").alias("s"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_bytes"),
            F.col("n_levels").cast("bigint").alias("n_levels"),
            F.expr(
                "(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
                " - s) div n"
            )
            .cast("bigint")
            .alias("entropy_mu"),
        )
    )


# ---------------------------------------------------------------------------
# Image colorfulness (Hasler-Süsstrunk opponent-channel metric)
# ---------------------------------------------------------------------------

_COLORFUL_ORACLE = """
    WITH params AS (
      SELECT doc_id, text,
             doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS tl
      FROM documents
    ),
    bytes AS (
      SELECT doc_id,
             CAST((p - 1) // 3 AS BIGINT) AS px,
             CAST((p - 1) % 3 AS INT) AS ch,
             ascii(substr(text, CAST((p - 1) % tl AS INT) + 1, 1)) AS b
      FROM params, LATERAL (SELECT unnest(range(1, 3 * w * h + 1)) AS p)
    ),
    pix AS (
      SELECT doc_id, px,
             max(CASE WHEN ch = 0 THEN b END) AS r,
             max(CASE WHEN ch = 1 THEN b END) AS g,
             max(CASE WHEN ch = 2 THEN b END) AS bb
      FROM bytes GROUP BY doc_id, px
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_px,
             CAST(sum(r - g) AS BIGINT) AS s_rg,
             CAST(sum((r - g) * (r - g)) AS BIGINT) AS q_rg,
             CAST(sum(r + g - 2 * bb) AS BIGINT) AS s_yb2,
             CAST(sum((r + g - 2 * bb) * (r + g - 2 * bb)) AS BIGINT) AS q_yb2
      FROM pix GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
           CAST(round(
             sqrt((CAST(q_rg AS DOUBLE) / n_px
                   - (CAST(s_rg AS DOUBLE) / n_px) * (CAST(s_rg AS DOUBLE) / n_px))
                  + (CAST(q_yb2 AS DOUBLE) / n_px
                     - (CAST(s_yb2 AS DOUBLE) / n_px)
                       * (CAST(s_yb2 AS DOUBLE) / n_px)) / 4.0)
             + 0.3 * sqrt((CAST(s_rg AS DOUBLE) / n_px)
                          * (CAST(s_rg AS DOUBLE) / n_px)
                          + (CAST(s_yb2 AS DOUBLE) / n_px)
                            * (CAST(s_yb2 AS DOUBLE) / n_px) / 4.0),
             4) AS DOUBLE) AS colorfulness4
    FROM stats
"""


@register("q_multimodal_image_colorfulness", oracle=_COLORFUL_ORACLE)
def q_multimodal_image_colorfulness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image colorfulness (Hasler & Süsstrunk 2003, the standard
    no-reference metric): M = sqrt(σ²_rg + σ²_yb) + 0.3·sqrt(µ²_rg +
    µ²_yb) over the opponent channels rg = R−G, yb = (R+G)/2 − B of
    the decoded PPM raster — the grayscale/duotone screen an image
    curation pipeline runs next to the exposure histogram and entropy
    ops (near-zero M = monochrome content regardless of brightness).

    Determinism (sufficient-statistics discipline): the kernel emits
    only exact integer sums (n, Σrg, Σrg², Σyb2, Σyb2² with yb2 =
    R+G−2B = 2·yb so everything stays integral); the metric is ONE
    identical IEEE expression on both engines (the /4 factors undo the
    ×2 on yb2).  The oracle replays the raster synthesis positionally
    and rebuilds pixels from (position div 3, position mod 3).

    Scale shape: one decode pass in `mapInArrow`, five integers per
    image leave the scan — bytes never shuffle; the metric is a
    post-scan projection (the RMS-gain envelope)."""
    import numpy as np

    def opponent_stats(doc_id: int, payload: bytes) -> list[tuple]:
        _, _, raster = decode_ppm_raster(payload)
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        a = a.reshape(-1, 3)
        rg = a[:, 0] - a[:, 1]
        yb2 = a[:, 0] + a[:, 1] - 2 * a[:, 2]
        return [(
            doc_id,
            int(a.shape[0]),
            int(rg.sum()),
            int((rg * rg).sum()),
            int(yb2.sum()),
            int((yb2 * yb2).sum()),
        )]

    stats = map_docs(
        ppm_table(spark, sf_dir),
        opponent_stats,
        "doc_id long, n_px long, s_rg long, q_rg long, s_yb2 long, q_yb2 long",
    )
    n = F.col("n_px").cast("double")
    mrg = F.col("s_rg").cast("double") / n
    myb2 = F.col("s_yb2").cast("double") / n
    var_rg = F.col("q_rg").cast("double") / n - mrg * mrg
    var_yb2 = F.col("q_yb2").cast("double") / n - myb2 * myb2
    metric = F.sqrt(var_rg + var_yb2 / 4.0) + 0.3 * F.sqrt(
        mrg * mrg + myb2 * myb2 / 4.0
    )
    return stats.select(
        "doc_id",
        F.col("n_px").cast("bigint").alias("n_px"),
        F.round(metric, 4).cast("double").alias("colorfulness4"),
    )


# ---------------------------------------------------------------------------
# Audio clipping audit (distorted-asset screen, exact integer stats)
# ---------------------------------------------------------------------------

CLIP_ABS = 32000  # |sample| at or above this int16 amplitude counts as clipped


@register(
    "q_multimodal_audio_clipping",
    # Replays the generating formula positionally (the wav_table
    # payloads are synthesized declaratively, so the oracle reproduces
    # the exact int16 stream without parsing bytes).
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             doc_id % 50 + 20 AS n_frames,
             doc_id % 2 + 1  AS channels
      FROM documents
    ),
    samples AS (
      SELECT doc_id,
             (doc_id * 7919 + k * 104729) % 65521 - 32760 AS s
      FROM params, LATERAL (SELECT unnest(range(0, n_frames * channels)) AS k)
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_samples,
             sum(CASE WHEN abs(s) >= {CLIP_ABS} THEN 1 ELSE 0 END) AS n_clipped,
             max(abs(s)) AS peak_abs
      FROM samples GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
           CAST(n_clipped AS BIGINT) AS n_clipped,
           CAST(peak_abs AS BIGINT) AS peak_abs,
           CAST((10000 * n_clipped) // n_samples AS BIGINT) AS clip_bp
    FROM agg
    """,
)
def q_multimodal_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping audit per decoded clip: the share of samples at or above
    {CLIP_ABS} absolute amplitude (near int16 full scale) plus the peak
    — the distorted-asset screen an audio curation pipeline runs before
    feature extraction, and the quality gate next to
    ``q_multimodal_audio_rms_gain``'s loudness normalizer (a clip whose
    gain would push it past full scale needs limiting, not gain).

    The decode kernel (REAL RIFF/WAVE parse) emits only exact integer
    sufficient statistics (count / clipped count / peak); the ratio is
    integer basis points via floor division of non-negative ints (div
    == //).  Bytes never shuffle, per-task memory is one clip's
    samples — the audio-family envelope."""
    import numpy as np

    def clipping(doc_id: int, payload: bytes) -> list[tuple]:
        samples = np.abs(np.asarray(decode_wav_samples(payload), dtype=np.int64))
        return [(
            doc_id,
            int(samples.size),
            int((samples >= CLIP_ABS).sum()),
            int(samples.max()) if samples.size else 0,
        )]

    stats = map_docs(
        wav_table(spark, sf_dir),
        clipping,
        "doc_id long, n_samples long, n_clipped long, peak_abs long",
    )
    return stats.select(
        "doc_id",
        "n_samples",
        "n_clipped",
        "peak_abs",
        F.expr("(10000 * n_clipped) div n_samples").cast("bigint").alias("clip_bp"),
    )


# ---------------------------------------------------------------------------
# Image sharpness (Laplacian variance, the standard no-reference blur screen)
# ---------------------------------------------------------------------------

_BLUR_ORACLE = """
    WITH params AS (
      SELECT doc_id, text,
             doc_id % 13 + 4 AS w, doc_id % 7 + 4 AS h,
             length(text) AS tl
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, w, h,
             CAST((p - 1) // 3 AS BIGINT) AS px,
             CAST((p - 1) % 3 AS INT) AS ch,
             ascii(substr(text, CAST((p - 1) % tl AS INT) + 1, 1)) AS b
      FROM params, LATERAL (SELECT unnest(range(1, 3 * w * h + 1)) AS p)
    ),
    lum AS (
      SELECT doc_id, w, h,
             CAST(px % w AS BIGINT) AS x, CAST(px // w AS BIGINT) AS y,
             CAST(sum(CASE ch WHEN 0 THEN b WHEN 1 THEN 2 * b
                              ELSE b END) AS BIGINT) AS l
      FROM bytes GROUP BY doc_id, w, h, px
    ),
    lap AS (
      SELECT c.doc_id,
             4 * c.l - u.l - d.l - lf.l - rt.l AS lap
      FROM lum c
      JOIN lum u  ON u.doc_id = c.doc_id AND u.x = c.x AND u.y = c.y - 1
      JOIN lum d  ON d.doc_id = c.doc_id AND d.x = c.x AND d.y = c.y + 1
      JOIN lum lf ON lf.doc_id = c.doc_id AND lf.x = c.x - 1 AND lf.y = c.y
      JOIN lum rt ON rt.doc_id = c.doc_id AND rt.x = c.x + 1 AND rt.y = c.y
      WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2
    ),
    stats AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_interior,
             CAST(sum(lap) AS BIGINT) AS s_lap,
             CAST(sum(lap * lap) AS BIGINT) AS q_lap
      FROM lap GROUP BY doc_id
    )
    SELECT doc_id, n_interior, s_lap, q_lap,
           CAST(round(CAST(q_lap AS DOUBLE) / n_interior
                      - (CAST(s_lap AS DOUBLE) / n_interior)
                        * (CAST(s_lap AS DOUBLE) / n_interior),
                      4) AS DOUBLE) AS lap_var4
    FROM stats
"""


@register("q_multimodal_image_blur", oracle=_BLUR_ORACLE)
def q_multimodal_image_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image sharpness via Laplacian variance — THE standard
    no-reference blur screen an image curation pipeline runs before
    training (Pech-Pacheco et al. 2000): convolve the luma plane with
    the 4-neighbor Laplacian and report the response variance.  Low
    variance = few edges = blurred/flat content worth dropping; it
    complements `q_multimodal_image_edges` (edge COUNT at a threshold)
    with the scale-free variance statistic.

    Determinism (sufficient-statistics discipline): the decode kernel
    (REAL P6 parse) computes an integer luma plane l = R + 2G + B
    (range 0..1020, no division) and emits only the exact integer
    triple (count, Σlap, Σlap²) over interior pixels; the variance is
    ONE identical divide/multiply/subtract/round(…,4) IEEE expression
    on both engines — the `q_multimodal_image_colorfulness` proof
    pattern.  The DuckDB oracle replays the synthetic raster byte-for-
    byte and takes the Laplacian via four coordinate self-joins of the
    tiny per-image grid.

    Scale shape: one decode pass in `mapInArrow`; the Laplacian is a
    local stencil evaluated INSIDE the kernel (numpy slicing, no
    shuffle of pixels ever); three integers per image leave the scan
    and the result is already per-image — no post-agg at all.  At
    100 TB the cost is the decode scan, the audio-RMS envelope."""
    import numpy as np

    def laplacian(doc_id: int, payload: bytes) -> list[tuple]:
        w, h, raster = decode_ppm_raster(payload)
        rgb = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
        lum = (
            rgb[:, :, 0].astype(np.int64)
            + 2 * rgb[:, :, 1].astype(np.int64)
            + rgb[:, :, 2].astype(np.int64)
        )
        lap = (
            4 * lum[1:-1, 1:-1]
            - lum[:-2, 1:-1]
            - lum[2:, 1:-1]
            - lum[1:-1, :-2]
            - lum[1:-1, 2:]
        )
        return [(doc_id, int(lap.size), int(lap.sum()), int((lap * lap).sum()))]

    stats = map_docs(
        ppm_table(spark, sf_dir),
        laplacian,
        "doc_id long, n_interior long, s_lap long, q_lap long",
    )
    n = F.col("n_interior").cast("double")
    mean = F.col("s_lap").cast("double") / n
    return stats.select(
        "doc_id",
        "n_interior",
        "s_lap",
        "q_lap",
        F.round(F.col("q_lap").cast("double") / n - mean * mean, 4)
        .cast("double")
        .alias("lap_var4"),
    )
