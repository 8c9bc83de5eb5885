"""Multimodal (image/audio/video) column operators.

EXTENSION beyond the reference (training-data pipeline surface): media
travel as opaque ``binary`` columns with a typed metadata struct; decode /
feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` stages.

The codec step has TWO legs:

- ``deterministic_fake=True`` derives stable pseudo-content from the
  bytes themselves (md5-seeded with ASCII salts — md5 is the one hash
  every engine shares, so the DuckDB oracle can replay the fake codec
  end-to-end and the driver's value-hash check covers these paths too);
- ``deterministic_fake=False`` (r8, formerly ``NotImplementedError``)
  REALLY decodes: ``operators/media_codecs.py`` parses the uncompressed
  containers (binary PPM, 24-bpp BMP, PCM16 WAV) with ``struct`` alone —
  header parse, BMP row un-padding + vertical flip, payload recovery —
  and features come from the decoded payload bytes. Compressed formats
  (JPEG/PNG/MP3) still need an external library and raise ``ValueError``
  on their magic bytes; swapping in Pillow/ffmpeg remains a one-function
  replacement in ``media_codecs.decode_media``.

``encoded_media_from_documents`` builds REAL container bytes from the
documents table entirely in JVM expressions (header fields as
little-endian hex, payload as an md5 chain, one ``unhex`` at the end) —
encode is a projection fused into the scan, no Python in that stage —
and ``decode_media_stats`` is the Arrow-batched decode that recovers
and verifies the payload. Everything around the codec — schemas, meta
propagation, Arrow batch shapes, multi-row fan-out for frame sampling,
partition sizing — is shared by both legs.

Scale design:
- media rows are large (MBs): keep ``spark.sql.files.maxPartitionBytes``
  and ``maxRecordsPerBatch`` sized so an Arrow batch of decoded frames
  fits executor memory; operators here never collect or shuffle binary
  content except the explicit repartition helper;
- feature extraction emits fixed-width vectors (array<float>) — the heavy
  binary column is DROPPED as early as the pipeline allows (`keep_content=
  False` defaults) so downstream joins/aggs shuffle only features;
- frame sampling fans out rows inside ``mapInPandas`` (no explode of
  pre-materialized arrays — frames are produced batch-local and never all
  in memory for a whole file at once).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("format", StringType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media corpus from the documents table: the UTF-8 text
    bytes stand in for encoded media; meta fields derived from doc stats.
    Exists so multimodal plumbing runs against driver testdata."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            (F.col("doc_id") % 64 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 48 + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.length("text") * 10).cast("int").alias("duration_ms"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


def _decode_bytes(content: bytes, n: int, deterministic_fake: bool) -> list[float]:
    """The per-row codec, two legs (module docstring):

    deterministic_fake=True → n floats in [0,1): feature k is the first
    48 bits of md5(content + "#feat:k") divided by 2^48 — 48 bits keep
    the integer exact in a double and the divisor is a power of two, so
    the value is bit-identical in Python, Spark, and the DuckDB oracle
    (``('0x' || substr(md5(...), 1, 12))::BIGINT / 2^48``).

    deterministic_fake=False → REAL decode via media_codecs (PPM/BMP/WAV)
    and n features from the decoded payload: feature 0 is the mean byte
    value / 255, feature k>0 samples the payload at evenly-spaced
    offsets / 255 — all in [0, 1]."""
    if not deterministic_fake:
        from .media_codecs import decode_media

        payload = decode_media(bytes(content or b"")).payload or b"\x00"
        length = len(payload)
        feats = [sum(payload) / length / 255.0]
        for k in range(1, n):
            feats.append(payload[((k - 1) * length) // max(n - 1, 1)] / 255.0)
        return feats
    seed = content or b""
    return [
        int(hashlib.md5(seed + f"#feat:{k}".encode()).hexdigest()[:12], 16)
        / 2**48
        for k in range(n)
    ]


def media_features(
    media: DataFrame,
    dim: int = 16,
    keep_content: bool = False,
    deterministic_fake: bool = True,
) -> DataFrame:
    """media → fixed-width feature vector per row (the decode+embed stage).

    mapInPandas: one Arrow batch in, one out; the binary column is dropped
    from the OUTPUT schema by default so only (ids, meta, features) flow
    downstream."""
    import pandas as pd

    fields = [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("meta", MEDIA_META),
        StructField("features", ArrayType(FloatType())),
    ]
    if keep_content:
        fields.insert(2, StructField("content", BinaryType()))
    out_schema = StructType(fields)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_bytes(c, dim, deterministic_fake)
                for c in pdf["content"]
            ]
            cols = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "meta": pdf["meta"],
                "features": feats,
            }
            if keep_content:
                cols["content"] = pdf["content"]
            yield pd.DataFrame(cols)[[f.name for f in out_schema.fields]]

    return media.mapInPandas(extract, schema=out_schema)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ms", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 32,
    deterministic_fake: bool = True,
) -> DataFrame:
    """Video → one row per sampled frame (1→N fan-out inside mapInPandas;
    frames for a batch are produced incrementally, never one whole video's
    frames held as a single array value)."""
    import pandas as pd

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, mss, frames = [], [], [], []
            # zip over column Series, not iterrows (per-row Series cost)
            for media_id, kind, content, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["content"], pdf["meta"]
            ):
                if kind != "video":
                    continue
                dur = (meta or {}).get("duration_ms") or 0
                n = min(max_frames, max(1, dur // every_ms))
                for i in range(int(n)):
                    ids.append(media_id)
                    idxs.append(i)
                    mss.append(i * every_ms)
                    if not deterministic_fake:
                        # no uncompressed VIDEO container in
                        # media_codecs (images/audio only) — real frame
                        # extraction needs an external codec library
                        raise ValueError(
                            "real frame sampling requires a video codec; "
                            "media_codecs covers PPM/BMP/WAV only"
                        )
                    # md5 + ASCII salt (not raw-byte salts): the DuckDB
                    # oracle rebuilds this as md5(text || '#frame:' || i)
                    frames.append(
                        hashlib.md5(
                            (content or b"") + f"#frame:{i}".encode()
                        ).digest()
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_ms": mss, "frame": frames}
            )

    return media.mapInPandas(do, schema=FRAME_SCHEMA)


# --------------------------------------------------------------------------
# Real-container leg (r8): JVM-side encode → Arrow-batched real decode
# --------------------------------------------------------------------------

# Deterministic per-doc container parameters — shared contract between
# encoded_media_from_documents, the DuckDB oracle
# (plans/training_data_queries.py::_MEDIA_DECODE_SQL), and the pytest
# cross-check against media_codecs' pure-Python encoders. Dimensions are
# kept small so the oracle's per-byte list math stays bounded; the BMP
# width range deliberately spans all four row-padding residues.
_ENC_W = "doc_id % 13 + 4"  # 4..16  → row bytes 12..48, pad 0..3
_ENC_H = "doc_id % 11 + 4"  # 4..14
_ENC_NSAMP = "doc_id % 200 + 50"  # WAV samples → 100..498 payload bytes
_ENC_RATE = "8000 + (doc_id % 4) * 4000"  # 8/12/16/20 kHz


def _byte_hex(col: F.Column) -> F.Column:
    return F.lpad(F.hex(col.bitwiseAND(F.lit(255))), 2, "0")


def _le16(col: F.Column) -> F.Column:
    return F.concat(_byte_hex(col), _byte_hex(F.shiftright(col, 8)))


def _le32(col: F.Column) -> F.Column:
    return F.concat(
        _byte_hex(col),
        _byte_hex(F.shiftright(col, 8)),
        _byte_hex(F.shiftright(col, 16)),
        _byte_hex(F.shiftright(col, 24)),
    )


def _chain_hex(text: F.Column, n: F.Column) -> F.Column:
    """First 2n hex chars of the md5 payload chain
    md5(text||'#px:0') || md5(text||'#px:1') || ... — the deterministic
    payload both engines (and the pytest encoder twin) rebuild."""
    n_blocks = F.ceil(n / F.lit(16)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda b: F.md5(F.concat(text, F.lit("#px:"), b.cast("string"))),
    )
    # single-pass array_join (r15): the aggregate-concat fold copied the
    # accumulator per block — O(blocks²) bytes
    joined = F.array_join(blocks, "")
    return joined.substr(F.lit(1), (n * 2).cast("int"))


def encoded_media_from_documents(
    docs: DataFrame, perturb: bool = False
) -> DataFrame:
    """documents → REAL uncompressed container bytes, entirely in JVM
    expressions: doc_id%3 picks PPM / WAV / BMP, the payload is the md5
    chain over the doc text, headers are composed as little-endian hex
    and the file materializes with one ``unhex``. Projection-only — at
    100 TB this encode stage fuses into the scan with zero shuffles and
    zero Python.

    ``perturb=True`` overwrites the payload's FIRST byte with 0xff
    (one corner pixel / one audio sample) — the near-identical variant
    the perceptual-dedup query pairs against the original. The oracle
    replays the same one-byte splice on its hex chain."""
    w = F.expr(_ENC_W).cast("int")
    h = F.expr(_ENC_H).cast("int")
    n_samples = F.expr(_ENC_NSAMP).cast("int")
    rate = F.expr(_ENC_RATE).cast("int")
    container = F.element_at(
        F.array(F.lit("ppm"), F.lit("wav"), F.lit("bmp")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    n = (
        F.when(container == "wav", n_samples * 2)
        .otherwise(w * h * 3)
        .cast("int")
    )
    px_hex = _chain_hex(F.col("text"), n)
    if perturb:
        px_hex = F.concat(F.lit("ff"), px_hex.substr(F.lit(3), (n * 2 - 2).cast("int")))
    kind, content, meta = _encoded_cols(px_hex)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        content.alias("content"),
        meta.alias("meta"),
    )


def _encoded_cols(px_hex: F.Column):
    """(kind, content, meta) container-assembly columns over a payload
    hex column — every other input (w/h/rate/container) derives from
    ``doc_id``. Factored out so :func:`encoded_media_variants` can feed
    a STAGED chain column instead of re-evaluating the md5 chain."""
    w = F.expr(_ENC_W).cast("int")
    h = F.expr(_ENC_H).cast("int")
    n_samples = F.expr(_ENC_NSAMP).cast("int")
    rate = F.expr(_ENC_RATE).cast("int")
    container = F.element_at(
        F.array(F.lit("ppm"), F.lit("wav"), F.lit("bmp")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    n = (
        F.when(container == "wav", n_samples * 2)
        .otherwise(w * h * 3)
        .cast("int")
    )

    ppm_header = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
    )
    ppm_file = F.concat(F.encode(ppm_header, "UTF-8"), F.unhex(px_hex))

    # RIFF/WAVE PCM16 mono: 'RIFF' sz 'WAVE' 'fmt ' 16 fmt ch rate
    # byterate align bits 'data' n payload
    wav_file = F.unhex(
        F.concat(
            F.lit("52494646"),  # 'RIFF'
            _le32(n + 36),
            F.lit("57415645"),  # 'WAVE'
            F.lit("666D7420"),  # 'fmt '
            _le32(F.lit(16)),
            _le16(F.lit(1)),  # PCM
            _le16(F.lit(1)),  # mono
            _le32(rate),
            _le32(rate * 2),
            _le16(F.lit(2)),
            _le16(F.lit(16)),
            F.lit("64617461"),  # 'data'
            _le32(n),
            px_hex,
        )
    )

    # BMP 24bpp: rows stored bottom-up, each padded to 4 bytes — the
    # encode walks rows h-1..0 over the hex chain so the DECODER has to
    # really flip and un-pad to recover the chain.
    # transform + ONE array_join (r15): the old aggregate-concat fold
    # re-copied the accumulator per row (O(h²·row_hex) bytes); the
    # chain column is bound as a lambda variable so it is evaluated
    # once however the per-row slices reference it.
    row_bytes = w * 3
    pad = (F.lit(4) - row_bytes % 4) % 4
    stride_rows_hex = F.element_at(
        F.transform(
            F.array(px_hex),
            lambda hx: F.array_join(
                F.transform(
                    F.sequence(h - 1, F.lit(0), F.lit(-1)),
                    lambda r: F.concat(
                        hx.substr(r * row_bytes * 2 + 1, row_bytes * 2),
                        F.lit("000000").substr(F.lit(1), pad * 2),
                    ),
                ),
                "",
            ),
        ),
        1,
    )
    image_size = (row_bytes + pad) * h
    bmp_file = F.unhex(
        F.concat(
            F.lit("424D"),  # 'BM'
            _le32(image_size + 54),
            F.lit("00000000"),
            _le32(F.lit(54)),
            _le32(F.lit(40)),
            _le32(w),
            _le32(h),
            _le16(F.lit(1)),
            _le16(F.lit(24)),
            _le32(F.lit(0)),
            _le32(image_size),
            _le32(F.lit(2835)),
            _le32(F.lit(2835)),
            _le32(F.lit(0)),
            _le32(F.lit(0)),
            stride_rows_hex,
        )
    )

    content = (
        F.when(container == "ppm", ppm_file)
        .when(container == "wav", wav_file)
        .otherwise(bmp_file)
    )
    is_wav = container == "wav"
    kind = F.when(is_wav, F.lit("audio")).otherwise(F.lit("image"))
    meta = F.struct(
        F.when(~is_wav, w).alias("width"),
        F.when(~is_wav, h).alias("height"),
        F.when(is_wav, rate).alias("sample_rate"),
        F.when(is_wav, (n_samples * 1000 / rate).cast("int")).alias(
            "duration_ms"
        ),
        container.alias("format"),
    )
    return kind, content, meta


def encoded_media_variants(docs: DataFrame) -> DataFrame:
    """Original + one-byte-perturbed variant (id offset 1e9) from ONE
    md5-chain evaluation (r15): the chain is the dominant encode cost
    (n_blocks md5 passes over the full doc text), and the perceptual
    near-dup queries previously synthesized it twice — once per union
    leg. Staging the chain as a real column and exploding the two
    variants halves the encode work; rows are identical to
    ``encoded_media_from_documents(docs).unionByName(
    encoded_media_from_documents(docs, perturb=True).withColumn(
    media_id + 1e9))`` (pinned in tests/test_multimodal.py)."""
    w = F.expr(_ENC_W).cast("int")
    h = F.expr(_ENC_H).cast("int")
    n_samples = F.expr(_ENC_NSAMP).cast("int")
    container = F.element_at(
        F.array(F.lit("ppm"), F.lit("wav"), F.lit("bmp")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    n = (
        F.when(container == "wav", n_samples * 2)
        .otherwise(w * h * 3)
        .cast("int")
    )
    staged = docs.select(
        "doc_id", _chain_hex(F.col("text"), n).alias("__hx")
    ).select(
        "doc_id",
        "__hx",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("__v"),
    )
    n2 = (
        F.when(container == "wav", n_samples * 2).otherwise(w * h * 3)
    ).cast("int")
    px_hex = F.when(
        F.col("__v") == 1,
        F.concat(
            F.lit("ff"), F.col("__hx").substr(F.lit(3), (n2 * 2 - 2).cast("int"))
        ),
    ).otherwise(F.col("__hx"))
    kind, content, meta = _encoded_cols(px_hex)
    return staged.select(
        (F.col("doc_id") + F.col("__v").cast("long") * 1_000_000_000).alias(
            "media_id"
        ),
        kind.alias("kind"),
        content.alias("content"),
        meta.alias("meta"),
    )


DECODE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_payload", LongType()),
        StructField("payload_md5", StringType()),
        StructField("byte_mean", DoubleType()),
    ]
)


def decode_media_stats(media: DataFrame) -> DataFrame:
    """REAL decode (no fake leg): parse each container with
    media_codecs.decode_media inside mapInPandas and emit parsed header
    facts + payload digest/mean. ``payload_md5`` is the round-trip
    proof — any header-offset, row-flip, or padding mistake in the
    decoder corrupts it. It digests the payload's LOWERCASE-HEX encoding
    (not the raw bytes) because DuckDB's md5 only accepts VARCHAR — the
    oracle replays it as ``md5(<hex chain>)``. The binary column is
    consumed here and dropped from the output, so downstream stages
    shuffle only scalars."""
    import pandas as pd

    from .media_codecs import decode_media

    cols = [f.name for f in DECODE_STATS_SCHEMA.fields]

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                d = decode_media(bytes(content))
                # decode_media guarantees a non-empty payload (degenerate
                # dims / zero-size data chunks raise ValueError at the
                # header), so the mean's divisor is always >= 1
                payload = d.payload
                rows.append(
                    (
                        media_id,
                        d.format,
                        d.width,
                        d.height,
                        d.sample_rate,
                        len(payload),
                        hashlib.md5(payload.hex().encode()).hexdigest(),
                        sum(payload) / len(payload),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(do, schema=DECODE_STATS_SCHEMA)


CHANNEL_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("n_samples", LongType()),
        StructField("rms", DoubleType()),
    ]
)


def media_channel_stats(media: DataFrame) -> DataFrame:
    """Decoded-SAMPLE feature extraction (r8) — the step past
    ``decode_media_stats``' digest proof: interpret the recovered
    payload as typed samples and compute per-channel statistics.

    Images (PPM/BMP): the payload is interleaved RGB — per-channel mean
    byte value (stride-3 walk over the real pixel order the decoder
    recovered, so a BMP row-flip bug shifts bytes between channels and
    breaks the oracle match).

    Audio (WAV): samples are signed little-endian int16 — RMS amplitude
    sqrt(sum(v²)/n). The sum of squares is exact integer math; the one
    division and sqrt are correctly-rounded double ops, bit-identical
    across engines.
    """
    import math
    import struct as _struct

    import pandas as pd

    from .media_codecs import decode_media

    cols = [f.name for f in CHANNEL_STATS_SCHEMA.fields]

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                d = decode_media(bytes(content))
                payload = d.payload
                if d.format == "wav":
                    # decode_wav rejects zero/odd data-chunk sizes, so
                    # n >= 1 and len(payload) == 2*n exactly here
                    n = len(payload) // 2
                    vals = _struct.unpack(f"<{n}h", payload)
                    # math.sqrt, not ** 0.5: IEEE sqrt is correctly
                    # rounded (matches DuckDB's sqrt bit-for-bit); pow
                    # carries no such guarantee
                    rms = math.sqrt(sum(v * v for v in vals) / n)
                    rows.append(
                        (media_id, d.format, None, None, None, n, rms)
                    )
                else:
                    n_px = len(payload) // 3
                    means = [
                        sum(payload[c::3]) / n_px for c in range(3)
                    ]
                    rows.append(
                        (media_id, d.format, *means, None, None)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(do, schema=CHANNEL_STATS_SCHEMA)


# dHash grid: 8 rows x 9 sample columns -> 8x8 gradient bits. Integer
# luma (the ITU-R 601 weights scaled by 1000, floor division) and
# nearest-neighbor grid sampling (floor(i*dim/grid)) keep every step
# exact-integer, so the hash replays bit-identically in SQL.
DHASH_ROWS = 8
DHASH_COLS = 9  # 9 samples -> 8 horizontal gradients per row
# Import-time invariant (r10 advice: an assert inside dhash_bytes ran
# per-call and vanished under ``python -O``): the per-row byte packing
# below holds at most 8 gradient bits.
if DHASH_COLS - 1 > 8:
    raise AssertionError("per-row byte packing holds <= 8 gradients")


def dhash_bytes(payload: bytes, w: int, h: int) -> str:
    """64-bit difference hash of an interleaved-RGB payload as 16
    lowercase hex chars (one byte per grid row, bit 7 = leftmost
    gradient). Pure integer math — shared by the Spark operator and
    unit tests; the SQL oracle replays the same arithmetic."""
    xs = [(c * w) // DHASH_COLS for c in range(DHASH_COLS)]
    ys = [(r * h) // DHASH_ROWS for r in range(DHASH_ROWS)]

    def gray(x: int, y: int) -> int:
        i = (y * w + x) * 3
        return (
            payload[i] * 299 + payload[i + 1] * 587 + payload[i + 2] * 114
        ) // 1000

    # DHASH_COLS samples per row -> DHASH_COLS - 1 gradients, packed
    # MSB-first into one byte (<= 8 bits: checked once at module scope).
    out = []
    for y in ys:
        row_byte = 0
        g = [gray(x, y) for x in xs]
        for c in range(DHASH_COLS - 1):
            if g[c] > g[c + 1]:
                row_byte |= 1 << (7 - c)
        out.append(f"{row_byte:02x}")
    return "".join(out)


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("dhash", StringType()),
    ]
)


def media_dhash(
    media: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Perceptual difference-hash over the REAL decoded pixels (r9) —
    the dedup primitive for the image modality: two images whose
    gradient structure matches collide on (or near) the same 64-bit
    hash even when raw bytes differ. Audio rows are dropped inside the
    stage (dHash is an image measure). Same zero-exchange Arrow-batched
    shape as the other decode legs; output is 5 scalar columns, the
    binary never leaves the stage.

    ``passthrough`` names input columns copied through the Arrow stage
    unchanged (r11: the streaming near-dup leg needs the event-time
    column to survive for its watermark) — appended after the hash
    columns with their input types. Names that collide with the hash
    output columns or are absent from the input raise ValueError up
    front (r11 advice: a collision otherwise surfaces as an
    ambiguous-column failure far downstream of the cause)."""
    import pandas as pd

    from .media_codecs import decode_media

    reserved = {f.name for f in DHASH_SCHEMA.fields}
    clash = sorted(reserved & set(passthrough))
    if clash:
        raise ValueError(
            f"passthrough columns {clash} collide with dHash output "
            f"columns {sorted(reserved)}"
        )
    if len(set(passthrough)) != len(tuple(passthrough)):
        # r12 advice: a repeated name produces duplicate output columns
        # — the same far-downstream ambiguity the clash guard prevents.
        dupes = sorted({c for c in passthrough if tuple(passthrough).count(c) > 1})
        raise ValueError(f"passthrough columns repeated: {dupes}")
    missing = [c for c in passthrough if c not in media.columns]
    if missing:
        raise ValueError(
            f"passthrough columns {missing} not in input schema "
            f"{media.columns}"
        )
    cols = [f.name for f in DHASH_SCHEMA.fields] + list(passthrough)
    schema = StructType(
        list(DHASH_SCHEMA.fields)
        + [media.schema[c] for c in passthrough]
    )

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, (media_id, content) in enumerate(
                zip(pdf["media_id"], pdf["content"])
            ):
                d = decode_media(bytes(content))
                if d.format == "wav":
                    continue
                rows.append(
                    (
                        media_id,
                        d.format,
                        d.width,
                        d.height,
                        dhash_bytes(d.payload, d.width, d.height),
                        *(pdf[c].iloc[i] for c in passthrough),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(do, schema=schema)


def derive_dhash_bands(max_hamming: int, n_bands: int | None) -> int:
    """Resolve/validate the band count for a banded Hamming join over
    the 16-hex dHash: derived = smallest divisor of 16 > max_hamming
    (pigeonhole-exact recall); pinned values must divide 16 and still
    satisfy max_hamming < n_bands (ValueError otherwise)."""
    if n_bands is None:
        if not 0 <= max_hamming < 16:
            raise ValueError(
                f"max_hamming={max_hamming} not coverable by hex bands "
                f"(needs 0 <= max_hamming < 16)"
            )
        n_bands = next(b for b in (1, 2, 4, 8, 16) if b > max_hamming)
    if 16 % n_bands != 0:
        raise ValueError(f"n_bands={n_bands} must divide the 16 hex chars")
    if max_hamming >= n_bands:
        raise ValueError(
            f"banded recall guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands}); leave n_bands unset to "
            f"derive it"
        )
    return n_bands


def explode_dhash_bands(hashes: DataFrame, n_bands: int) -> DataFrame:
    """One row per (row, band): adds ``band`` (index) and ``val`` (the
    band's hex substring) to every input row — the bucket key of the
    banded Hamming join, shared by the batch self-join and the
    streaming stream-static probe."""
    band_w = 16 // n_bands
    return hashes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("dhash", i * band_w + 1, band_w).alias(
                            "val"
                        ),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("__b"),
    ).select("*", "__b.band", "__b.val").drop("__b")


def dhash_hamming(a, b):
    """EXACT 64-bit Hamming distance between two 16-hex dHash columns:
    popcount over two 32-bit halves (8-hex-digit conv, inside the fuzz
    family's safe budget; a single 16-digit conv would cross 2^63)."""
    half = lambda col, i: F.conv(  # noqa: E731
        F.substring(col, i * 8 + 1, 8), 16, 10
    ).cast("long")
    return (
        F.bit_count(half(a, 0).bitwiseXOR(half(b, 0)))
        + F.bit_count(half(a, 1).bitwiseXOR(half(b, 1)))
    )


def dhash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    n_bands: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded Hamming near-dup join over a (media_id, dhash) frame —
    the MinHash-LSH recipe applied to the perceptual hash: split the 16
    hex chars into ``n_bands`` bands, bucket-join on (band index, band
    value) — a pair within ``max_hamming`` of 64 bits has >= 1 untouched
    band (pigeonhole, guaranteed because max_hamming < n_bands is
    ENFORCED) — then verify candidates with an EXACT popcount over two
    32-bit halves (8-hex-digit conv, inside the fuzz family's safe
    budget; a single 16-digit conv would cross 2^63). Never a full
    self-join.

    Recall contract (r10 advice: the old ``n_bands=4`` default silently
    missed ~38% of true hamming-6 pairs): when ``n_bands`` is None it is
    DERIVED as the smallest divisor of 16 ``> max_hamming``, so the
    default-args call is pigeonhole-exact — banded output == brute-force
    popcount join, test-pinned. A pinned ``n_bands`` must still satisfy
    ``max_hamming < n_bands`` (ValueError otherwise): this operator
    never returns an approximate answer while claiming an exact one.

    Scale hatch: ``max_bucket`` (None = uncapped, the exact default)
    drops (band, value) buckets with more members — same window-count
    shape as the text LSH path's ``_bucket_cap``. Capping trades the
    100%-recall guarantee for bounded skew: the SCALING.md r11 probe
    measured the loss (0.53→0.09 recall as over-full band mass grows
    ×1/×2/×4) and showed exact-dedup-first does NOT recover it when the
    mass is near-identical bands rather than byte-identical hashes —
    treat the cap as a cost governor for adversarial mega-buckets with
    a budgeted loss, never as an approximation of the exact join.

    The slim (media_id, dhash) projection is localCheckpointed before
    the self-join — NOTE this makes the call EAGER (it triggers a Spark
    job at plan-build time and pins the result in executor-local
    storage)."""
    n_bands = derive_dhash_bands(max_hamming, n_bands)
    # Checkpoint the slim (media_id, dhash) table before the self-join:
    # both join sides reference it, their subtrees are NOT canonically
    # identical (the right side's renames), and Spark re-executes
    # lineage per subtree — measured r11: the Arrow decode+hash stage
    # ran TWICE (MapInPandas x2 in the executed plan, no
    # ReusedExchange). At 100 TB the decode pass is the dominant cost;
    # the checkpoint is 2 scalar columns per image, paid once.
    slim = hashes.select("media_id", "dhash").localCheckpoint()
    bands = explode_dhash_bands(slim, n_bands)
    if max_bucket is not None:
        # Same single-subtree window-count shape as dedup._bucket_cap:
        # both self-join inputs stay the identical plan, so the banding
        # pipeline and its exchange are computed once. min 2 because a
        # singleton bucket cannot produce a within-corpus pair.
        from pyspark.sql import Window as W

        w = W.partitionBy("band", "val")
        bands = (
            bands.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket))
            .drop("__n")
        )
    left = bands
    right = (
        bands.withColumnRenamed("media_id", "media_id_b")
        .withColumnRenamed("dhash", "dhash_b")
    )
    hamming = dhash_hamming(F.col("dhash"), F.col("dhash_b"))
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("media_id") < F.col("media_id_b"))
        .select("media_id", "media_id_b", "dhash", "dhash_b")
        .distinct()
        .select(
            F.col("media_id").alias("media_a"),
            F.col("media_id_b").alias("media_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


ENTROPY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("n_payload", LongType()),
        StructField("n_distinct_bytes", IntegerType()),
        StructField("byte_entropy", DoubleType()),
        StructField("zero_crossings", LongType()),
        StructField("zcr", DoubleType()),
    ]
)


def media_entropy(media: DataFrame) -> DataFrame:
    """Decoded-domain information measures (r9) — the second real-bytes
    feature leg past :func:`media_channel_stats`: per-file Shannon
    entropy of the decoded payload's byte histogram (all containers;
    the standard compressibility screen for media dedup/filtering) and
    zero-crossing rate for audio (the classic voiced/unvoiced feature,
    sign changes / (n-1); sign of an int16 sample is just its high
    byte >= 0x80, which is how the oracle replays it byte-wise).

    Cross-engine float contract: zero_crossings and the histogram are
    exact integers; entropy is computed as
    ``log2(n) - sum(c*log2(c))/n`` with the sum taken in ascending
    byte-value order on BOTH engines (Python ``math.log2`` here and
    DuckDB ``log2`` bottom out in the same platform libm), and the
    driver query snaps it to the DECIMAL(18,6) grid — same residual
    knife-edge class the decimal-tie fuzz family documents.

    Same zero-exchange shape as the other decode legs: Arrow-batched
    mapInPandas, binary column consumed here, scalars out."""
    import collections
    import math
    import struct as _struct

    import pandas as pd

    from .media_codecs import decode_media

    cols = [f.name for f in ENTROPY_SCHEMA.fields]

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                d = decode_media(bytes(content))
                payload = d.payload
                n = len(payload)  # >= 1: codec guard rejects empties
                counts = collections.Counter(payload)
                # max(0, ·): the all-same-byte case leaves a -1 ulp
                # residue (log2(n) - (n*log2(n))/n rounds twice);
                # entropy is definitionally non-negative, and the clamp
                # kills the -0.0 class on both engines
                ent = max(
                    0.0,
                    math.log2(n)
                    - sum(
                        c * math.log2(c)
                        for _, c in sorted(counts.items())
                    )
                    / n,
                )
                if d.format == "wav":
                    ns = n // 2
                    vals = _struct.unpack(f"<{ns}h", payload)
                    zc = sum(
                        1
                        for a, b in zip(vals, vals[1:])
                        if (a >= 0) != (b >= 0)
                    )
                    zrow = (zc, zc / (ns - 1) if ns > 1 else None)
                else:
                    zrow = (None, None)
                rows.append(
                    (media_id, d.format, n, len(counts), ent, *zrow)
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(do, schema=ENTROPY_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata/stats projection over the binary column (no UDF):
    sizes, content hash, meta fields — the cheap pre-filter stage before
    any decode (drop corrupt/empty/oversized media early, scan-fused)."""
    return media.select(
        "media_id",
        "kind",
        F.octet_length("content").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_ms").alias("duration_ms"),
        (F.col("meta.width") * F.col("meta.height")).alias("n_pixels"),
    )
