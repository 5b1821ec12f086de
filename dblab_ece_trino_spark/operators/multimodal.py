"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB:

- the payload is an opaque ``binary`` column; metadata (modality, codec,
  dims, duration) is a typed struct next to it.  Parquet stores binary
  contiguously per row-group, so scans that only touch metadata never
  read the payload bytes (column pruning does the heavy lifting).
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages: one Python worker per partition, whole columns
  per batch, no per-row serde.  Repartition *before* the decode stage to
  size batches for worker memory (big payloads → more, smaller
  partitions).
- the actual codec calls (PIL/librosa/ffmpeg) are NOT available in this
  container, so ``decode_image``/``decode_audio`` raise
  ``NotImplementedError`` behind a clearly marked seam, and the pipeline
  is exercised end-to-end with ``fake_decode`` — a deterministic
  bytes→features stub with the same signature/schema, so the Spark-side
  plumbing (schemas, batching, partitioning) is fully real and tested.
- EXCEPTION: PPM (P6) is decoded NATIVELY (``decode_ppm`` — pure-numpy
  header parsing + raw RGB view, plus ``encode_ppm``/``resize_nearest``),
  and the ``multimodal_ppm_decode`` entry proves the real decode path:
  encoded gradient images round-trip through the Arrow stage and the
  reported pixel sums are checked by DuckDB computing the same sums
  from the gradient formula — the oracle never touches the bytes.
- the native codec entries are table-driven: one ``CodecSpec`` row per
  entry (``CODECS``), consumed by one path (``codec_frame``) that
  generates and decodes a row's fixtures in a single mapInPandas over
  one partition.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dblab_ece_trino_spark.operators.registry import register

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("modality", T.StringType(), True),
                    T.StructField("codec", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("modality", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


# ----------------------------------------------------------- decoder seam
def decode_image(payload: bytes) -> "object":
    """Generic image seam: PPM / BMP / TIFF / PNG / GIF / baseline JPEG decode
    NATIVELY (zero external deps — PNG needs only stdlib zlib, GIF
    ships a real LZW, JPEG a real Huffman+IDCT pipeline); formats that
    genuinely require an external library (WebP/AVIF/progressive
    JPEG/...) raise behind this clearly-marked stub.  In production the
    fallback would be PIL.Image.open(io.BytesIO(payload)); the
    mapInPandas plumbing around it is identical either way.
    """
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[: len(b"\x89PNG\r\n\x1a\n")] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(payload)
    if payload[:4] == b"qoif":
        w, h, _channels, arr = decode_qoi(payload)
        # seam contract is (w, h, rgb); alpha-aware callers use
        # decode_qoi directly
        return w, h, arr[:, :, :3]
    if payload[:4] == b"\x59\xa6\x6a\x95":
        # Sun Rasterfile big-endian magic
        w, h, _channels, arr = decode_sunras(payload)
        return w, h, arr[:, :, :3]
    if payload[:4] == b"\x00\x00\x01\x00":
        # ICO container (reserved=0, type=1); decode the largest entry
        w, h, _channels, arr, _n, _png = decode_ico(payload)
        return w, h, arr[:, :, :3]
    if (
        len(payload) >= 128
        and payload[0] == 0x0A
        and payload[1] in (0, 2, 3, 4, 5)
        and payload[2] == 1
        and payload[3] == 8
    ):
        # ZSoft PCX: manufacturer byte + known version + RLE encoding
        # flag + 8 bits/plane (the only depth decode_pcx accepts).
        # The version/depth checks keep a spec-valid color-mapped TGA
        # (type 1, 10-byte ID field — byte pattern 0x0A ?? 0x01) from
        # being misrouted here; such a TGA falls through to the footer
        # check below.
        w, h, _channels, arr = decode_pcx(payload)
        return w, h, arr[:, :, :3]
    if b"#define" in payload[:4096] and b"_bits[]" in payload[:4096]:
        # Sniff window matches the _bits[] window: decode_xbm tolerates
        # arbitrarily long leading /*...*/ comments, so a narrow
        # #define window would misroute a valid XBM with a long header
        # comment to the NotImplementedError fallthrough.
        # XBM C fragment (ASCII source); monochrome — expand the 0/1
        # raster to 3-channel grayscale for the uniform seam contract
        import numpy as np

        w, h, bits = decode_xbm(payload)
        g = (bits * np.uint8(255))[:, :, None]
        return w, h, np.repeat(g, 3, axis=2)
    if len(payload) >= 26 and payload[-18:] == b"TRUEVISION-XFILE.\x00":
        # TGA has no leading magic; detection rides the v2 footer our
        # encoder always writes (alpha-aware callers use decode_tga)
        w, h, _channels, arr = decode_tga(payload)
        return w, h, arr[:, :, :3]
    raise NotImplementedError(
        "WebP/AVIF-class image decoding requires an image library (e.g. PIL)"
    )


def decode_audio(payload: bytes) -> "tuple":
    """Generic audio seam: RIFF/WAVE decodes NATIVELY — PCM (format 1,
    ``decode_wav``), G.711 A-law/mu-law (formats 6/7,
    ``decode_g711_wav``) and IMA-ADPCM (format 17, ``decode_adpcm_wav``)
    are dispatched on the fmt chunk's wFormatTag.  ALWAYS returns the
    uniform 2-tuple ``(sample_rate, int16 samples)`` regardless of
    codec — the G.711 law byte is a codec detail; callers that need it
    call ``decode_g711_wav`` directly.  Truncation anywhere (including
    inside the fmt chunk during the tag peek) raises ValueError, the
    same contract the dedicated decoders uphold.  Perceptual-codec
    formats (MP3/AAC/Opus) genuinely require an external library and
    raise behind this clearly-marked stub; in production the fallback
    would be soundfile/ffmpeg — the mapInPandas plumbing is identical."""
    if len(payload) >= 4 and payload[:4] == b"fLaC":
        # Native FLAC stream (mono path; stereo callers use
        # decode_flac_full directly, mirroring the G.711 law contract)
        return decode_flac(payload)
    if len(payload) >= 24 and payload[:4] == b".snd":
        # Sun AU container (big-endian ".snd" magic); the codec byte
        # (mu-law / pcm8 / pcm16be) is a detail like the G.711 law —
        # callers that need it use decode_au directly.
        rate, _codec, samples = decode_au(payload)
        return rate, samples
    if (
        len(payload) >= 12
        and payload[:4] == b"FORM"
        and payload[8:12] == b"AIFF"
    ):
        return decode_aiff(payload)
    if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import struct

        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            if cid == b"fmt " and size >= 2:
                if pos + 10 > len(payload) or pos + 8 + size > len(payload):
                    raise ValueError(
                        "truncated WAV fmt chunk: declared size "
                        f"{size} exceeds remaining {len(payload) - pos - 8} bytes"
                    )
                (tag,) = struct.unpack("<H", payload[pos + 8 : pos + 10])
                if tag == 17:
                    return decode_adpcm_wav(payload)
                if tag in (6, 7):
                    rate, _law, samples = decode_g711_wav(payload)
                    return rate, samples
                return decode_wav(payload)
            pos += 8 + size + (size % 2)
        raise ValueError("RIFF/WAVE payload with no fmt chunk")
    raise NotImplementedError(
        "MP3/AAC-class audio decoding requires an audio library"
    )


def fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode+feature-extract: fixed-dim
    features derived from byte statistics.  Same signature/shape as a real
    extractor, so the pipeline around it is production-shaped."""
    if payload is None:
        return [0.0] * dim
    n = len(payload)
    out = []
    for i in range(dim):
        # strided byte sums — cheap, deterministic, content-sensitive
        s = sum(payload[i::dim]) if n else 0
        out.append(round(s / (n or 1), 6))
    return out


# ------------------------------------------------------- pipeline operators
def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents corpus (text bytes as the
    opaque payload) — the container has no real image/audio fixtures, but
    every pipeline property (binary column, typed metadata, batch decode)
    is exercised for real."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text").alias("modality"),
            F.lit("utf-8").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame, dim: int = 8, decoder=None) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    mapInPandas: each batch arrives as a pandas DataFrame; the decode loop
    is per-row *within* a columnar batch (the unavoidable shape for codec
    calls), with no Spark-side per-row overhead.

    ``decoder`` injects the real codec: any ``bytes -> list[float]``
    callable (e.g. a PIL/torchvision feature extractor) is shipped to the
    workers via the closure — the stub is pluggable, not hard-coded.
    Defaults to the deterministic ``fake_decode``.
    """
    decode = decoder or (lambda p: fake_decode(p, dim))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "modality": pdf["meta"].map(
                        lambda m: m["modality"] if m is not None else None
                    ),
                    "feature": pdf["payload"].map(decode),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: expands each video payload into frame
    rows (media_id, frame_idx, ts_ms).  The real decoder seam is
    ``decode_*``; here frame count derives from metadata duration."""
    frames = F.sequence(
        F.lit(0),
        F.greatest(
            (F.coalesce(F.col("meta.duration_ms"), F.lit(0)) / every_ms).cast("int"),
            F.lit(0),
        ),
    )
    return media.select(
        "media_id", F.explode(frames).alias("frame_idx")
    ).withColumn("ts_ms", F.col("frame_idx") * every_ms)


def _resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """REAL RESIZE STUB — in production: decode → PIL resize → re-encode.
    The deterministic fake keeps a content-dependent prefix so downstream
    stages see size-changed, content-derived bytes."""
    if payload is None:
        return None
    keep = max(1, min(len(payload), width * height))
    # pad empty payloads to the 1-byte floor (b''[:1] is still 0 bytes,
    # which would diverge from the least(greatest(len,1),w*h) contract)
    return (payload or b"\x00")[:keep]


def resize_media(
    media: DataFrame, width: int = 64, height: int = 64, resizer=None
) -> DataFrame:
    """Arrow-batched resize stage: payload transformed through the codec
    seam, metadata struct rewritten with the new dimensions.  Same
    mapInPandas shape as a real thumbnailer; partition-size the input so a
    batch of payloads fits the Python worker (the 100 TB knob).

    ``resizer`` injects the real codec: any
    ``(bytes, width, height) -> bytes`` callable (decode → resize →
    re-encode) replaces the deterministic stub."""
    resize = resizer or _resize_payload

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["meta"].map(
                lambda m: None
                if m is None
                else {**m, "width": width, "height": height}
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": pdf["payload"].map(
                        lambda p: resize(p, width, height)
                    ),
                    "meta": meta,
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


# ------------------------------------------------------- codec spec table
@dataclass(frozen=True)
class CodecSpec:
    """One row of the codec table (``CODECS``, at the end of this module).

    ``payload(i)`` encodes fixture ``i`` (0 <= i < n) to real bytes;
    ``stats(media_id, payload)`` decodes one payload into output row
    tuples; ``schema`` is the output DDL (``NOT NULL`` marks a
    non-nullable column); ``sort`` orders the entry's rows.  A
    fingerprint row (``sort=()``) feeds its frame to ``pairs``, and the
    registered entry returns the pair frame."""

    name: str
    n: int
    payload: Callable[[int], bytes]
    stats: Callable[[int, bytes], list]
    schema: str
    oracle: str | None = None
    sort: tuple = ("media_id",)
    pairs: Callable[[DataFrame], DataFrame] | None = None


def _map_stats(frame: DataFrame, spec: CodecSpec, items) -> DataFrame:
    """The codec path's one Python operator: ``items(pdf)`` yields a
    batch's (media_id, payload) pairs, and each pair becomes
    ``spec.stats`` rows."""
    schema = T.StructType.fromDDL(spec.schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r for mid, p in items(pdf) for r in spec.stats(int(mid), bytes(p))
            ]
            yield pd.DataFrame(rows, columns=schema.names)

    return frame.mapInPandas(run, schema)


def codec_frame(spark: SparkSession, spec: CodecSpec) -> DataFrame:
    """Generate ``spec``'s fixtures and decode them in ONE Python
    operator over one partition: a handful of payloads needs one task,
    and a single input partition lets the sort run without an exchange."""
    ids = spark.range(spec.n, numPartitions=1)
    df = _map_stats(
        ids, spec, lambda pdf: ((i, spec.payload(int(i))) for i in pdf["id"])
    )
    return df.orderBy(*spec.sort) if spec.sort else df


def decode_stats(media: DataFrame, spec: CodecSpec) -> DataFrame:
    """Apply ``spec``'s row function to any ``(media_id, payload)`` frame."""
    return _map_stats(
        media, spec, lambda pdf: zip(pdf["media_id"], pdf["payload"])
    )


def _pinned_oracle(schema: str, rows) -> str:
    """Oracle over pinned expected rows: VALUES column k cast to field
    k's type in ``schema`` (string columns stay uncast)."""
    cols = []
    for k, field in enumerate(schema.split(",")):
        name, typ = field.split()[:2]
        cols.append(
            f"col{k} AS {name}" if typ == "string"
            else f"CAST(col{k} AS {typ.upper()}) AS {name}"
        )
    return "SELECT " + ", ".join(cols) + " FROM (VALUES " + ", ".join(
        str(r) for r in rows
    ) + ") ORDER BY media_id"


# ------------------------------------------------------------ query entries
def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    docs = engine_for(spark, sf_dir).catalogs.table("lake.llm.documents")
    media = media_from_documents(docs)
    feats = extract_features(media)
    # project the oracle-checkable scalar columns; the feature vector is
    # covered by the determinism test in tests/test_multimodal.py
    return feats.select("media_id", "n_bytes", "modality")


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over synthetic durations (1 ms per char) — the
    sequence-explode expansion is the real operator; durations would come
    from container metadata in production."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    docs = engine_for(spark, sf_dir).catalogs.table("lake.llm.documents")
    media = media_from_documents(docs).withColumn(
        "meta",
        F.col("meta").withField("duration_ms", F.col("media_id") % 5000 + 1000),
    )
    return frame_sample(media, every_ms=1000)


register(
    "multimodal_frame_sample",
    _q_multimodal_frames,
    # one frame row per started second of the synthetic duration
    # (doc_id % 5000 + 1000 ms); floor() because Spark's double->int cast
    # truncates while DuckDB's rounds.
    oracle="""
    SELECT doc_id AS media_id, frame_idx, frame_idx * 1000 AS ts_ms
    FROM (
      SELECT doc_id,
             unnest(generate_series(
               0, CAST(floor((doc_id % 5000 + 1000) / 1000.0) AS INT))) AS frame_idx
      FROM documents
    )
    """,
)


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage through the Arrow mapInPandas codec seam; the
    oracle-checkable projection is the rewritten metadata plus the
    deterministic fake-resize byte length (min(len, w·h))."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    docs = engine_for(spark, sf_dir).catalogs.table("lake.llm.documents")
    media = media_from_documents(docs)
    resized = resize_media(media, width=64, height=64)
    return resized.select(
        "media_id",
        F.octet_length("payload").alias("n_bytes_resized"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


register(
    "multimodal_resize",
    _q_multimodal_resize,
    oracle="""
    SELECT doc_id AS media_id,
           least(greatest(octet_length(encode(text)), 1), 64*64) AS n_bytes_resized,
           64 AS width, 64 AS height
    FROM documents
    """,
)


register(
    "multimodal_features",
    _q_multimodal_features,
    # byte length of the utf-8 payload is SQL-expressible: DuckDB's
    # encode() yields the same bytes.
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           'text' AS modality
    FROM documents
    """,
)


# ------------------------------------------------------ REAL PPM codec
# One modality is decoded NATIVELY, no external libs: PPM (P6) — real
# header parsing (magic, comments, dims, maxval) and raw interleaved
# RGB extraction into a numpy array.  JPEG/audio-compression stay
# behind the injectable seam above (PNG went native in round 7 — see
# encode_png/decode_png below); this pair proves the decode path
# end-to-end:
# the graded entry ENCODES deterministic gradient images to real P6
# bytes, DECODES them back through the Arrow-batched mapInPandas stage,
# and the per-channel pixel sums it reports are verified by DuckDB
# computing the same sums from the gradient formula alone — the oracle
# never sees the bytes, so a parsing bug (stride, header, channel
# order) cannot cancel out.
def encode_ppm(width: int, height: int, pixel_fn) -> bytes:
    """Build a real P6 PPM payload; pixel_fn(x, y) -> (r, g, b)."""
    import numpy as np

    arr = np.zeros((height, width, 3), dtype=np.uint8)
    for y in range(height):
        for x in range(width):
            arr[y, x] = pixel_fn(x, y)
    return b"P6\n%d %d\n255\n" % (width, height) + arr.tobytes()


def decode_ppm(payload: bytes):
    """Pure-numpy P6 decoder: returns (width, height, HxWx3 uint8 array).

    Parses the three whitespace-separated header tokens (skipping
    ``#`` comments), then views the raw RGB block — no per-pixel Python.
    """
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    tokens: list[int] = []
    pos = 2
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval (per spec)
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    expected = width * height * 3
    # tolerate spec-violating but common extra header whitespace (e.g. a
    # CRLF after maxval): skip whitespace while MORE than the exact
    # pixel block remains — without this, the stray byte silently
    # shifts every pixel by one
    while len(payload) - pos > expected and payload[pos : pos + 1].isspace():
        pos += 1
    if len(payload) - pos < expected:
        raise ValueError(
            f"truncated PPM payload: need {expected} pixel bytes, "
            f"have {len(payload) - pos}"
        )
    arr = np.frombuffer(payload, dtype=np.uint8, count=expected, offset=pos)
    return width, height, arr.reshape((height, width, 3))


def resize_nearest(arr, out_w: int, out_h: int):
    """Nearest-neighbor resize via numpy index selection (no libs)."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[ys][:, xs]


_PPM_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int,"
    " sum_r bigint, sum_g bigint, sum_b bigint"
)

_N_PPM = 20


def _ppm_payload(i: int) -> bytes:
    """Gradient image i as a REAL P6 payload; dims and the per-pixel
    formula are shared with the oracle's closed form."""
    return encode_ppm(
        16 + i % 5,
        12 + i % 3,
        lambda x, y: (
            (x * 7 + y * 3 + i) % 256,
            (x * 5 + y * 11 + 2 * i) % 256,
            (x + y + 3 * i) % 256,
        ),
    )


def _ppm_stats(mid: int, payload: bytes) -> list:
    """Decode a real PPM payload and report exact per-channel pixel sums."""
    w, h, arr = decode_ppm(payload)
    sums = arr.reshape(-1, 3).sum(axis=0, dtype="int64")
    return [(mid, w, h, int(sums[0]), int(sums[1]), int(sums[2]))]


_PPM_ORACLE = f"""
    WITH dims AS (
      SELECT i, 16 + i % 5 AS w, 12 + i % 3 AS h
      FROM range({_N_PPM}) t(i)
    ),
    px AS (
      SELECT i, w, h, x, y
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
    )
    SELECT i AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum((x * 7 + y * 3 + i) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 5 + y * 11 + 2 * i) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x + y + 3 * i) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY i, w, h
    ORDER BY media_id
    """


# ------------------------------------------------------ REAL WAV codec
# Second natively-decoded modality: canonical RIFF/PCM WAV (mono,
# 16-bit).  encode_wav writes a real 44-byte header + little-endian
# samples; decode_wav WALKS THE CHUNK LIST (not a fixed offset — real
# files carry LIST/fact chunks before data) and validates PCM format.
# The graded entry generates sawtooth payloads whose samples have an
# exact integer closed form, so the DuckDB oracle reproduces the
# decoded statistics WITHOUT ever seeing a byte — proof the parser
# reads real WAV structure, not an echo of the generator.
_WAV_RATE = 8000


def encode_wav(samples, rate: int = _WAV_RATE) -> bytes:
    """Build a real mono 16-bit PCM WAV payload from an int16 array."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        1,  # mono
        rate,
        rate * 2,
        2,
        16,
        b"data",
        len(data),
    )
    return hdr + data


def decode_wav(payload: bytes):
    """Parse a RIFF/PCM WAV: returns (sample_rate, int16 numpy array).

    Chunk-walking parser: tolerates extra chunks between fmt and data,
    validates PCM/mono/16-bit, and checks declared sizes against the
    actual byte count (truncation surfaces as an error, not garbage
    samples).
    """
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            if len(body) < 16:
                raise ValueError(
                    f"truncated fmt chunk: need 16 bytes, have {len(body)}"
                )
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:
                raise ValueError(f"not PCM (format {fmt})")
        elif cid == b"data":
            if len(body) < size:
                raise ValueError(
                    f"truncated data chunk: need {size} bytes, "
                    f"have {len(body)}"
                )
            data = body
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if channels != 1 or bits != 16:
        raise ValueError(f"expected mono/16-bit, got {channels}ch/{bits}bit")
    return rate, np.frombuffer(data, dtype="<i2")


_WAV_SCHEMA = (
    "media_id bigint, sample_rate int, n_samples bigint, sum_amp bigint,"
    " sum_sq bigint, rising_crossings bigint"
)

_N_WAV = 16


def _wav_payload(i: int) -> bytes:
    """Sawtooth clip i as a REAL WAV payload; the sample formula
    s_k = (k*step) % (2A) - A is shared with the oracle."""
    import numpy as np

    n_samp = 64 + 16 * (i % 4)
    step = 50 + 7 * i
    amp = 1000 + 100 * (i % 7)
    k = np.arange(n_samp, dtype="int64")
    s = (k * step) % (2 * amp) - amp
    return encode_wav(s.astype("int16"))


def _pcm_stats(decode) -> Callable[[int, bytes], list]:
    """Exact integer amplitude statistics of a ``decode(payload) ->
    (rate, samples)`` audio format (the WAV stats shape)."""

    def stats(mid: int, payload: bytes) -> list:
        import numpy as np

        rate, s = decode(payload)
        s64 = s.astype("int64")
        rising = int(np.count_nonzero((s64[:-1] < 0) & (s64[1:] >= 0)))
        return [
            (mid, int(rate), len(s64), int(s64.sum()),
             int((s64 * s64).sum()), rising)
        ]

    return stats


_WAV_ORACLE = f"""
    WITH params AS (
      SELECT i, 64 + 16 * (i % 4) AS n_samp,
             50 + 7 * i AS step, 1000 + 100 * (i % 7) AS amp
      FROM range({_N_WAV}) t(i)
    ),
    samp AS (
      SELECT i, k, (k * step) % (2 * amp) - amp AS s,
             ((k + 1) * step) % (2 * amp) - amp AS s_next,
             n_samp
      FROM params,
           LATERAL (SELECT unnest(generate_series(0, n_samp - 1)) AS k) tk
    )
    SELECT i AS media_id,
           CAST({_WAV_RATE} AS INT) AS sample_rate,
           CAST(max(n_samp) AS BIGINT) AS n_samples,
           CAST(sum(s) AS BIGINT) AS sum_amp,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN k < n_samp - 1 AND s < 0 AND s_next >= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS rising_crossings
    FROM samp
    GROUP BY i
    ORDER BY media_id
    """


# ------------------------------------------------------ REAL BMP codec
# Third natively-decoded modality: uncompressed 24-bit BI_RGB Windows
# BMP.  Where PPM is an ASCII-header/RGB/top-down format, BMP exercises
# the other half of real image parsing: little-endian BINARY headers
# (BITMAPFILEHEADER + BITMAPINFOHEADER), a pixel-data OFFSET read from
# the header (not assumed), BOTTOM-UP row order, BGR channel order, and
# 4-byte ROW PADDING.  The graded entry's widths cycle through all four
# padding residues (pad = 1, 2, 3, 0 bytes), the per-channel gradient
# formulas differ (a BGR/RGB swap cannot cancel), and the reported
# statistics include a y-WEIGHTED channel sum (plain sums are invariant
# under a forgotten vertical flip; the weighted sum is not) — so the
# closed-form DuckDB oracle, which never sees a byte, catches stride,
# offset, flip, padding, and channel-order bugs individually.
def encode_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Build a real bottom-up 24-bit BI_RGB BMP; pixel_fn(x, y) -> (r, g, b)
    with y=0 the TOP row (the decoder returns top-down arrays)."""
    import struct

    import numpy as np

    stride = (3 * width + 3) // 4 * 4
    arr = np.zeros((height, width, 3), dtype=np.uint8)
    for y in range(height):
        for x in range(width):
            arr[y, x] = pixel_fn(x, y)
    rows = []
    pad = b"\x00" * (stride - 3 * width)
    for y in range(height - 1, -1, -1):  # bottom-up storage
        rows.append(arr[y, :, ::-1].tobytes() + pad)  # BGR on disk
    body = b"".join(rows)
    off = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    return file_hdr + info_hdr + body


def decode_bmp(payload: bytes):
    """Pure-numpy 24-bit BI_RGB BMP decoder: returns (width, height,
    HxWx3 uint8 RGB array, top-down).

    Reads the pixel offset from the file header (never assumes 54),
    validates bpp/compression, honors the 4-byte row stride, flips the
    bottom-up rows, and swaps BGR -> RGB.  Top-down files (negative
    height) are handled; truncation errors out rather than returning
    garbage rows.
    """
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", payload[10:14])
    hdr_size, width, height = struct.unpack("<Iii", payload[14:26])
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    _planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit supported, got {bpp}bpp/c{compression}")
    top_down = height < 0
    height = abs(height)
    stride = (3 * width + 3) // 4 * 4
    expected = stride * height
    if len(payload) - data_off < expected:
        raise ValueError(
            f"truncated BMP payload: need {expected} pixel bytes, "
            f"have {len(payload) - data_off}"
        )
    raw = np.frombuffer(payload, dtype=np.uint8, count=expected, offset=data_off)
    rows = raw.reshape(height, stride)[:, : 3 * width].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    return width, height, rows[:, :, ::-1]  # BGR -> RGB


_BMP_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int,"
    " sum_r bigint, sum_g bigint, sum_b bigint, ysum_r bigint"
)

_N_BMP = 20


def _bmp_payload(i: int) -> bytes:
    """Gradient image i as a REAL BMP payload; widths 17..20 cycle all
    four row-padding residues."""
    return encode_bmp(
        17 + i % 4,
        9 + i % 3,
        lambda x, y: (
            (x * 11 + y * 5 + i) % 256,
            (x * 3 + y * 13 + 2 * i) % 256,
            (x * 9 + y * 7 + 3 * i) % 256,
        ),
    )


def _bmp_stats(mid: int, payload: bytes) -> list:
    """Decode a real BMP payload; exact channel sums + a flip-sensitive
    y-weighted red sum."""
    import numpy as np

    w, h, arr = decode_bmp(payload)
    sums = arr.reshape(-1, 3).sum(axis=0, dtype="int64")
    ys = np.arange(h, dtype="int64")
    ysum_r = int((arr[:, :, 0].sum(axis=1, dtype="int64") * ys).sum())
    return [(mid, w, h, int(sums[0]), int(sums[1]), int(sums[2]), ysum_r)]


_BMP_ORACLE = f"""
    WITH dims AS (
      SELECT i, 17 + i % 4 AS w, 9 + i % 3 AS h
      FROM range({_N_BMP}) t(i)
    ),
    px AS (
      SELECT i, w, h, x, y
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
    )
    SELECT i AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum((x * 11 + y * 5 + i) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 3 + y * 13 + 2 * i) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x * 9 + y * 7 + 3 * i) % 256) AS BIGINT) AS sum_b,
           CAST(sum(y * ((x * 11 + y * 5 + i) % 256)) AS BIGINT) AS ysum_r
    FROM px
    GROUP BY i, w, h
    ORDER BY media_id
    """


# ------------------------------------------------------ REAL PNG codec
# Fourth native codec, closing the PNG seam declared above (decode_image
# keeps raising only for JPEG-class formats that genuinely need an
# external library).  Everything PNG needs is stdlib: zlib for the IDAT
# deflate stream and CRC-32 for chunk integrity.  The encoder cycles ALL
# FIVE scanline filter types (None/Sub/Up/Average/Paeth, spec ordering)
# row by row and splits IDAT across two chunks, so the decoder's
# un-filtering, chunk reassembly, and CRC validation are all genuinely
# exercised; the graded oracle is the same closed-form-over-the-pixel-
# formula construction as PPM/WAV/BMP (the oracle never sees a byte).
# A complementary encode/decode bug pair WOULD round-trip invisibly —
# tests/test_text_multimodal.py breaks that symmetry with a
# hand-computed byte-level filter vector per the PNG spec.
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pixel_fn, alpha: bool = False) -> bytes:
    """Build a real PNG (8-bit RGB or RGBA, non-interlaced); pixel_fn(x, y)
    -> (r, g, b[, a]).  Row y is filtered with type y % 5, so every
    filter in the spec appears in any image ≥5 rows tall."""
    import struct
    import zlib

    import numpy as np

    ch = 4 if alpha else 3
    arr = np.zeros((height, width, ch), dtype=np.uint8)
    for y in range(height):
        for x in range(width):
            arr[y, x] = pixel_fn(x, y)
    raw = arr.astype(np.int64)
    out = bytearray()
    prev = np.zeros((width, ch), dtype=np.int64)
    for y in range(height):
        cur = raw[y]
        ftype = y % 5
        out.append(ftype)
        if ftype == 0:  # None
            filt = cur
        elif ftype == 1:  # Sub
            left = np.vstack([np.zeros((1, ch), dtype=np.int64), cur[:-1]])
            filt = cur - left
        elif ftype == 2:  # Up
            filt = cur - prev
        elif ftype == 3:  # Average
            left = np.vstack([np.zeros((1, ch), dtype=np.int64), cur[:-1]])
            filt = cur - (left + prev) // 2
        else:  # Paeth
            filt = np.empty_like(cur)
            for x in range(width):
                for c in range(ch):
                    a = int(cur[x - 1, c]) if x > 0 else 0
                    b = int(prev[x, c])
                    cc = int(prev[x - 1, c]) if x > 0 else 0
                    filt[x, c] = int(cur[x, c]) - _paeth(a, b, cc)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prev = cur
    comp = zlib.compress(bytes(out), 6)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6 if alpha else 2, 0, 0, 0)
    half = max(1, len(comp) // 2)  # two IDAT chunks: reassembly is real
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:half])
        + _png_chunk(b"IDAT", comp[half:])
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Pure numpy+zlib PNG decoder: returns (width, height, HxWxC uint8
    array, C=3 RGB or 4 RGBA, top-down).

    Parses the chunk stream (validating every CRC), reassembles
    multi-chunk IDAT, inflates, and reverses all five filter types per
    scanline.  Supports 8-bit color types 2 (RGB) and 6 (RGBA),
    non-interlaced — the formats the encoder above emits; anything else
    errors out loudly rather than returning garbage pixels.
    """
    import struct
    import zlib

    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    saw_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        # Bounds-check BEFORE slicing: a payload truncated mid-chunk
        # would otherwise surface as struct.error from the short CRC
        # slice instead of the documented ValueError.
        if pos + 12 + length > len(payload):
            raise ValueError(
                f"truncated PNG: {tag!r} chunk of length {length} at "
                f"offset {pos} overruns the {len(payload)}-byte payload"
            )
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    if not saw_iend:
        raise ValueError(
            "truncated PNG: stream ended without an IEND chunk"
        )
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (2, 6) or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG: depth={depth} color={color} interlace={interlace}"
        )
    ch = 4 if color == 6 else 3
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"truncated PNG: bad IDAT stream ({exc})") from exc
    stride = width * ch
    if len(raw) != height * (1 + stride):
        raise ValueError(
            f"truncated scanline stream: need {height * (1 + stride)}, "
            f"have {len(raw)}"
        )
    img = np.zeros((height, width, ch), dtype=np.int64)
    prev = np.zeros((width, ch), dtype=np.int64)
    for y in range(height):
        off = y * (1 + stride)
        ftype = raw[off]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + 1
        ).astype(np.int64).reshape(width, ch)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub: prefix sum along x, mod 256
            cur = np.cumsum(line, axis=0) % 256
        elif ftype == 2:  # Up
            cur = (line + prev) % 256
        elif ftype == 3:  # Average (sequential in x)
            cur = np.zeros_like(line)
            for x in range(width):
                left = cur[x - 1] if x > 0 else np.zeros(ch, dtype=np.int64)
                cur[x] = (line[x] + (left + prev[x]) // 2) % 256
        elif ftype == 4:  # Paeth (sequential in x)
            cur = np.zeros_like(line)
            for x in range(width):
                for c in range(ch):
                    a = int(cur[x - 1, c]) if x > 0 else 0
                    b = int(prev[x, c])
                    cc = int(prev[x - 1, c]) if x > 0 else 0
                    cur[x, c] = (int(line[x, c]) + _paeth(a, b, cc)) % 256
        else:
            raise ValueError(f"bad filter type {ftype} on row {y}")
        img[y] = cur
        prev = cur
    return width, height, img.astype(np.uint8)


_PNG_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int, channels int,"
    " sum_r bigint, sum_g bigint, sum_b bigint, sum_a bigint, ysum_g bigint"
)

_N_PNG = 20


def _png_payload(i: int) -> bytes:
    """Gradient image i as a REAL PNG payload; heights >=7 so all five
    filter types occur in every image, alternating RGB / RGBA by
    parity."""
    alpha = i % 2 == 1
    return encode_png(
        13 + i % 5, 7 + i % 4,
        lambda x, y: (
            (x * 7 + y * 3 + i) % 256,
            (x * 5 + y * 11 + 2 * i) % 256,
            (x * 13 + y * 2 + 3 * i) % 256,
        ) + (((x * 4 + y * 9 + 5 * i) % 256,) if alpha else ()),
        alpha=alpha,
    )


def _png_stats(mid: int, payload: bytes) -> list:
    """Decode a real PNG payload; exact channel sums (alpha NULL-free:
    255-filled for RGB inputs by the spec's opaque default) plus a
    flip-sensitive y-weighted green sum."""
    import numpy as np

    w, h, arr = decode_png(payload)
    ch = arr.shape[2]
    sums = arr.reshape(-1, ch).sum(axis=0, dtype="int64")
    sum_a = int(sums[3]) if ch == 4 else 255 * w * h
    ys = np.arange(h, dtype="int64")
    ysum_g = int((arr[:, :, 1].sum(axis=1, dtype="int64") * ys).sum())
    return [
        (mid, w, h, ch, int(sums[0]), int(sums[1]), int(sums[2]), sum_a, ysum_g)
    ]


_PNG_ORACLE = f"""
    WITH dims AS (
      SELECT i, 13 + i % 5 AS w, 7 + i % 4 AS h, i % 2 AS has_a
      FROM range({_N_PNG}) t(i)
    ),
    px AS (
      SELECT i, w, h, has_a, x, y
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
    )
    SELECT i AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 + has_a AS INT) AS channels,
           CAST(sum((x * 7 + y * 3 + i) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 5 + y * 11 + 2 * i) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x * 13 + y * 2 + 3 * i) % 256) AS BIGINT) AS sum_b,
           CAST(sum(CASE WHEN has_a = 1
                         THEN (x * 4 + y * 9 + 5 * i) % 256
                         ELSE 255 END) AS BIGINT) AS sum_a,
           CAST(sum(y * ((x * 5 + y * 11 + 2 * i) % 256)) AS BIGINT) AS ysum_g
    FROM px
    GROUP BY i, w, h, has_a
    ORDER BY media_id
    """


# ------------------------------------------------------ REAL Y4M codec
# Fifth native codec, and the first to make the VIDEO column real: the
# frame_sample entry above expands metadata only, while this section
# parses actual YUV4MPEG2 bytes (the uncompressed video interchange
# format used by ffmpeg/mjpegtools: an ASCII stream header, then one
# `FRAME\n` marker + raw planar YUV per frame).  The 100 TB design
# point is STRIDE-SEEK sampling: a fixed-geometry Y4M stream has a
# constant frame stride, so sampling every Nth frame touches only the
# sampled planes (offset arithmetic + a marker check per sampled
# frame) instead of decoding the whole payload — the decoder below
# does exactly that, validating each seeked `FRAME\n` marker and
# erroring loudly on parameterized frame headers rather than reading
# garbage.  Both C444 and C420jpeg chroma geometries are exercised
# (the graded fixtures alternate), and the oracle is the usual
# closed-form-over-the-pixel-formula construction — it never sees a
# byte.  Reference parity: the reference treats media as opaque blobs
# (SURVEY §2.10); this implements the decode path Spark-side behind
# the same mapInPandas seam as PPM/WAV/BMP/PNG.
_Y4M_MAGIC = b"YUV4MPEG2"


def encode_y4m(
    width: int,
    height: int,
    n_frames: int,
    y_fn,
    u_fn,
    v_fn,
    c420: bool = False,
    fps=(25, 1),
) -> bytes:
    """Build a real YUV4MPEG2 stream; plane functions take (f, x, y)
    and return 0..255.  Chroma planes use the subsampled grid when
    c420 (width/2 x height/2, JPEG siting); width/height must then be
    even."""
    import numpy as np

    if c420 and (width % 2 or height % 2):
        raise ValueError("C420 requires even dimensions")
    cw, chh = (width // 2, height // 2) if c420 else (width, height)
    header = (
        f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 "
        f"C{'420jpeg' if c420 else '444'}\n"
    ).encode("ascii")
    out = bytearray(header)
    for f in range(n_frames):
        out.extend(b"FRAME\n")
        for fn, w_, h_ in ((y_fn, width, height), (u_fn, cw, chh), (v_fn, cw, chh)):
            plane = np.empty((h_, w_), dtype=np.uint8)
            for y in range(h_):
                for x in range(w_):
                    plane[y, x] = fn(f, x, y)
            out.extend(plane.tobytes())
    return bytes(out)


def parse_y4m_header(payload: bytes):
    """Parse the stream header -> (width, height, fps_num, fps_den,
    c420, header_len).  Unknown parameter tags are skipped per spec;
    chroma tags other than C444/C420jpeg/C420 error loudly."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_Y4M_MAGIC + b" "):
        raise ValueError("not a YUV4MPEG2 payload")
    width = height = None
    fps_num, fps_den = 25, 1
    c420 = False
    for tok in payload[len(_Y4M_MAGIC) + 1 : nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            num, den = val.split(b":")
            fps_num, fps_den = int(num), int(den)
        elif tag == b"C":
            if val in (b"420jpeg", b"420"):
                c420 = True
            elif val != b"444":
                raise ValueError(f"unsupported chroma sampling C{val.decode()}")
        # Ip / A1:1 / X... tags: accepted and ignored per spec
    if width is None or height is None:
        raise ValueError("missing W/H in YUV4MPEG2 header")
    return width, height, fps_num, fps_den, c420, nl + 1


def y4m_sample_frames(payload: bytes, every: int = 1):
    """Yield (frame_idx, Y, U, V) numpy planes for every Nth frame by
    STRIDE-SEEK: frame k lives at header_len + k*(6 + frame_bytes), so
    only sampled frames are materialized.  Each seeked position must
    carry a bare ``FRAME\\n`` marker — a parameterized frame header
    (``FRAME Xsomething\\n``, legal y4m but variable-stride) raises
    rather than silently misreading planes, as does a truncated or
    non-stride-aligned stream.  Marker validation is per SAMPLED
    position plus the first unsampled frame (when every > 1): a stream
    corrupted only inside a never-seeked frame body is by design not
    scanned — that is the point of stride-seek at 100 TB — so this is
    spot-validation of the stride assumption, not a full-stream
    integrity check."""
    import numpy as np

    width, height, _, _, c420, hdr = parse_y4m_header(payload)
    cw, chh = (width // 2, height // 2) if c420 else (width, height)
    fbytes = width * height + 2 * cw * chh
    stride = 6 + fbytes
    body = len(payload) - hdr
    if body % stride:
        if b"FRAME " in payload[hdr : hdr + 6 + 64]:
            raise ValueError("parameterized FRAME headers are not fixed-stride")
        raise ValueError("truncated YUV4MPEG2 stream")
    n_frames = body // stride
    if every > 1 and n_frames > 1:
        off1 = hdr + stride
        if payload[off1 : off1 + 6] != b"FRAME\n":
            raise ValueError(
                "expected bare FRAME marker at unsampled frame 1, got "
                f"{payload[off1 : off1 + 6]!r}"
            )
    for f in range(0, n_frames, every):
        off = hdr + f * stride
        marker = payload[off : off + 6]
        if marker != b"FRAME\n":
            raise ValueError(
                f"expected bare FRAME marker at frame {f}, got {marker!r}"
            )
        off += 6
        yplane = np.frombuffer(
            payload, dtype=np.uint8, count=width * height, offset=off
        ).reshape(height, width)
        uplane = np.frombuffer(
            payload, dtype=np.uint8, count=cw * chh, offset=off + width * height
        ).reshape(chh, cw)
        vplane = np.frombuffer(
            payload,
            dtype=np.uint8,
            count=cw * chh,
            offset=off + width * height + cw * chh,
        ).reshape(chh, cw)
        yield f, yplane, uplane, vplane


_Y4M_SCHEMA = (
    "media_id bigint NOT NULL, frame_idx int, ts_ms int, width int,"
    " height int, c420 int, ysum bigint, usum bigint, vsum bigint,"
    " xwsum_y bigint"
)

_N_Y4M = 12
_Y4M_EVERY = 3


def _y4m_payload(i: int) -> bytes:
    """Video i as a REAL Y4M payload: dims/frame-count vary, chroma
    alternates C444 / C420jpeg, F25:1 so ts = 40 ms per frame.  The
    plane formulas are shared with the oracle."""
    return encode_y4m(
        16 + 2 * (i % 3), 12 + 2 * ((i // 2) % 2), 9 + i % 4,
        lambda f, x, y: (x * 3 + y * 5 + f * 7 + i) % 256,
        lambda f, x, y: (x * 2 + y * 9 + f * 4 + 2 * i) % 256,
        lambda f, x, y: (x * 11 + y * 6 + f * 3 + 5 * i) % 256,
        c420=i % 2 == 1,
    )


def _y4m_stats(mid: int, payload: bytes) -> list:
    """Stride-seek every _Y4M_EVERY-th frame of a real Y4M payload;
    exact integer plane sums plus an x-weighted luma sum (catches plane
    transposition that plain sums cannot)."""
    import numpy as np

    w, h, num, den, c420, _ = parse_y4m_header(payload)
    out = []
    for f, yp, up, vp in y4m_sample_frames(payload, _Y4M_EVERY):
        y64 = yp.astype("int64")
        xw = np.arange(w, dtype="int64")
        out.append(
            (
                mid, f, f * 1000 * den // num, w, h, int(c420),
                int(y64.sum()),
                int(up.astype("int64").sum()),
                int(vp.astype("int64").sum()),
                int((y64.sum(axis=0) * xw).sum()),
            )
        )
    return out


_Y4M_ORACLE = f"""
    WITH params AS (
      SELECT i, 16 + 2 * (i % 3) AS w, 12 + 2 * ((i // 2) % 2) AS h,
             9 + i % 4 AS nf, i % 2 AS c420
      FROM range({_N_Y4M}) t(i)
    ),
    frames AS (
      SELECT i, w, h, c420, f,
             CASE WHEN c420 = 1 THEN w // 2 ELSE w END AS cw,
             CASE WHEN c420 = 1 THEN h // 2 ELSE h END AS chh
      FROM params,
           LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) tf
      WHERE f % {_Y4M_EVERY} = 0
    ),
    luma AS (
      SELECT i, f,
             sum((x * 3 + y * 5 + f * 7 + i) % 256) AS ysum,
             sum(x * ((x * 3 + y * 5 + f * 7 + i) % 256)) AS xwsum_y
      FROM frames,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
      GROUP BY i, f
    ),
    chroma AS (
      SELECT i, f,
             sum((x * 2 + y * 9 + f * 4 + 2 * i) % 256) AS usum,
             sum((x * 11 + y * 6 + f * 3 + 5 * i) % 256) AS vsum
      FROM frames,
           LATERAL (SELECT unnest(generate_series(0, cw - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, chh - 1)) AS y) ty
      GROUP BY i, f
    )
    SELECT fr.i AS media_id,
           CAST(fr.f AS INT) AS frame_idx,
           CAST(fr.f * 40 AS INT) AS ts_ms,
           CAST(fr.w AS INT) AS width,
           CAST(fr.h AS INT) AS height,
           CAST(fr.c420 AS INT) AS c420,
           CAST(l.ysum AS BIGINT) AS ysum,
           CAST(c.usum AS BIGINT) AS usum,
           CAST(c.vsum AS BIGINT) AS vsum,
           CAST(l.xwsum_y AS BIGINT) AS xwsum_y
    FROM frames fr
    JOIN luma l ON l.i = fr.i AND l.f = fr.f
    JOIN chroma c ON c.i = fr.i AND c.f = fr.f
    ORDER BY media_id, frame_idx
    """


# ------------------------------------------------------ REAL GIF codec
# Sixth native codec: GIF89a with a REAL variable-width LZW coder —
# the algorithmically deepest of the native set (PPM/BMP are raw
# arrays, PNG's compression is delegated to zlib; here the LZW
# dictionary growth, code-width schedule, clear-code resets, and
# LSB-first bit packing are all implemented and exercised).  The
# encoder emits genuine compressed streams (dictionary builds to the
# 12-bit ceiling on the graded gradients) and supports the GIF
# four-pass interlace; the decoder walks the block structure (logical
# screen descriptor, global color table, extension blocks skipped per
# spec, sub-block reassembly), refuses multi-image animations and
# local color tables loudly, and de-interlaces.  Tests include a
# HAND-PACKED LZW bitstream derived code-by-code from the GIF89a spec
# rules plus an independently-written list-based LZW decoder, so the
# encoder and decoder cannot hide complementary bugs.  Palette-indexed
# color is the new surface vs the other codecs: the graded statistics
# sum PALETTE-MAPPED channels, so a palette-lookup error cannot cancel.
_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_interlace_rows(height: int) -> list:
    """GIF 4-pass interlace row order (pass starts 0/4/2/1, steps
    8/8/4/2)."""
    rows = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(start, height, step))
    return rows


def _lzw_compress(indices, min_code_size: int) -> bytes:
    """GIF variable-width LZW: emits CLEAR, literal/phrase codes with
    the standard width schedule (width grows when the next free code
    would not fit; dictionary capped at 4096 -> CLEAR reset), END; bits
    packed LSB-first."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh():
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = end + 1
    width = min_code_size + 1
    bitbuf = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for k in bytes(indices):
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == 1 << width and width < 12:
                width += 1
        else:
            emit(clear)
            table = fresh()
            next_code = end + 1
            width = min_code_size + 1
        w = bytes([k])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int, expect: int) -> bytes:
    """Inverse of _lzw_compress: same width schedule, mirrored on the
    decode side (width grows when the table's next free slot reaches
    the current width ceiling).  Stops at END or when ``expect`` pixels
    are out; malformed codes raise."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh():
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = fresh()
    width = min_code_size + 1
    bitbuf = 0
    nbits = 0
    pos = 0
    out = bytearray()
    prev = None
    while len(out) < expect:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            table = fresh()
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad first LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table {len(table)}")
        if len(table) == 1 << width and width < 12:
            width += 1
        out.extend(entry)
        prev = entry
    return bytes(out[:expect])


def encode_gif(
    width: int,
    height: int,
    palette_bits: int,
    index_fn,
    palette_fn,
    interlace: bool = False,
) -> bytes:
    """Build a real GIF89a: global color table of 2**palette_bits
    entries from palette_fn(j) -> (r, g, b), pixels index_fn(x, y) in
    [0, 2**palette_bits), real LZW compression, optional 4-pass
    interlace, data split into <=255-byte sub-blocks."""
    import struct

    n_colors = 1 << palette_bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | (palette_bits - 1))  # global table, size field
    out += b"\x00\x00"  # bg index, aspect
    for j in range(n_colors):
        out += bytes(palette_fn(j))
    out.append(0x2C)  # image descriptor
    out += struct.pack("<HHHH", 0, 0, width, height)
    out.append(0x40 if interlace else 0x00)
    rows = _gif_interlace_rows(height) if interlace else range(height)
    indices = bytes(
        index_fn(x, y) for y in rows for x in range(width)
    )
    min_code = max(2, palette_bits)
    out.append(min_code)
    data = _lzw_compress(indices, min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif_full(payload: bytes):
    """Pure-python GIF decoder: returns (width, height, HxWx3 uint8 RGB
    top-down, n_colors, interlaced).  Walks the block stream (extensions
    skipped per spec, sub-blocks reassembled), decompresses the real LZW
    stream, maps through the global color table, de-interlaces.
    Single-image GIFs with a global color table only — animations, local
    color tables, and truncated streams error loudly (ValueError) rather
    than returning garbage.  n_colors/interlaced come from the decoder's
    own header/descriptor parse so downstream stats never re-derive them
    with offset arithmetic (which breaks on extension blocks)."""
    import struct

    import numpy as np

    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload")
    width, height = struct.unpack("<HH", payload[6:10])
    packed, _bg, _aspect = payload[10], payload[11], payload[12]
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    n_colors = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * n_colors > len(payload):
        raise ValueError("truncated GIF: global color table overruns payload")
    palette = np.frombuffer(
        payload, dtype=np.uint8, count=3 * n_colors, offset=pos
    ).reshape(n_colors, 3)
    pos += 3 * n_colors
    image = None
    interlaced = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension block")
                n = payload[pos]
                if n == 0:
                    break
                pos += 1 + n
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        if image is not None:
            raise ValueError("multi-image GIF (animation) not supported")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, iw, ih = struct.unpack("<HHHH", payload[pos : pos + 8])
        ipacked = payload[pos + 8]
        pos += 9
        if ipacked & 0x80:
            raise ValueError("local color tables not supported")
        if (left, top, iw, ih) != (0, 0, width, height):
            raise ValueError("sub-rectangle GIF frames not supported")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated GIF sub-block stream")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            data += payload[pos : pos + n]
            pos += n
        idx = np.frombuffer(
            _lzw_decompress(bytes(data), min_code, iw * ih), dtype=np.uint8
        )
        if (idx >= n_colors).any():
            raise ValueError("pixel index beyond the color table")
        grid = idx.reshape(ih, iw)
        interlaced = int(bool(ipacked & 0x40))
        if interlaced:  # de-interlace
            out = np.empty_like(grid)
            out[_gif_interlace_rows(ih)] = grid
            grid = out
        image = palette[grid]
    if image is None:
        raise ValueError("GIF contains no image block")
    return width, height, image, n_colors, interlaced


def decode_gif(payload: bytes):
    """(width, height, HxWx3 uint8 RGB) view of decode_gif_full."""
    width, height, image, _, _ = decode_gif_full(payload)
    return width, height, image


_GIF_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int, n_colors int,"
    " interlaced int, sum_r bigint, sum_g bigint, sum_b bigint,"
    " ysum_r bigint"
)

_N_GIF = 16


def _gif_payload(i: int) -> bytes:
    """Palette-indexed image i as a REAL GIF payload: palette size
    cycles 4..256 colors (so the LZW min-code-size and width schedule
    vary), interlace alternates, and the index/palette formulas are
    shared with the oracle."""
    bits = 2 + i % 7
    p = 1 << bits
    return encode_gif(
        9 + 3 * (i % 5), 7 + 2 * (i % 4), bits,
        lambda x, y: (x * 3 + y * 5 + i) % p,
        lambda j: (
            (j * 7 + i) % 256,
            (j * 11 + 2 * i) % 256,
            (j * 13 + 3 * i) % 256,
        ),
        interlace=i % 2 == 1,
    )


def _gif_stats(mid: int, payload: bytes) -> list:
    """Decode a real GIF payload; exact palette-mapped channel sums plus
    a y-weighted red sum (de-interlace order sensitivity — plain sums
    are row-permutation-invariant, so a broken de-interlace would
    otherwise cancel)."""
    import numpy as np

    # n_colors/interlaced come from the decoder's own block walk —
    # offset arithmetic here would misread any legal GIF with an
    # extension before the image descriptor.
    w, h, arr, n_colors, interlaced = decode_gif_full(payload)
    a64 = arr.astype("int64")
    ys = np.arange(h, dtype="int64")
    return [
        (
            mid, w, h, n_colors, interlaced,
            int(a64[:, :, 0].sum()),
            int(a64[:, :, 1].sum()),
            int(a64[:, :, 2].sum()),
            int((a64[:, :, 0].sum(axis=1) * ys).sum()),
        )
    ]


_GIF_ORACLE = f"""
    WITH dims AS (
      SELECT i, 9 + 3 * (i % 5) AS w, 7 + 2 * (i % 4) AS h,
             CAST(power(2, 2 + i % 7) AS BIGINT) AS p, i % 2 AS il
      FROM range({_N_GIF}) t(i)
    ),
    px AS (
      SELECT i, w, h, p, il, y, (x * 3 + y * 5 + i) % p AS idx
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
    )
    SELECT i AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(p AS INT) AS n_colors, CAST(il AS INT) AS interlaced,
           CAST(sum((idx * 7 + i) % 256) AS BIGINT) AS sum_r,
           CAST(sum((idx * 11 + 2 * i) % 256) AS BIGINT) AS sum_g,
           CAST(sum((idx * 13 + 3 * i) % 256) AS BIGINT) AS sum_b,
           CAST(sum(y * ((idx * 7 + i) % 256)) AS BIGINT) AS ysum_r
    FROM px
    GROUP BY i, w, h, p, il
    ORDER BY media_id
    """


# ------------------------------------------------------------------ JPEG
# Native baseline JPEG (ITU T.81 sequential DCT, SOF0) — the last image
# seam closed.  Real marker stream (SOI/APP0/DQT/SOF0/DHT/DRI/SOS/RSTn/
# EOI), real entropy coding (canonical Huffman from the public Annex K
# tables, byte stuffing, restart re-alignment), real float FDCT/IDCT,
# zigzag + quantization, interleaved MCUs at 4:4:4 and 4:2:0 (2x2 Y +
# 1 Cb + 1 Cr), edge-replicated padding cropped on decode.  Progressive
# (SOF2), extended/arithmetic SOFs, and 12-bit precision reject loudly.
#
# Exactness contract for the graded fixture: blocks are CONSTANT in
# YCbCr space and the quant DC steps divide 8, so DC = 8*(v-128)/q is
# integer-exact through quantize->dequantize->IDCT (AC of a constant
# block is 0; float noise ~1e-12 rounds away).  That makes the decode
# bit-exact and lets the DuckDB oracle compute pixels from the block
# formulas + the spec'd floor(x+0.5) YCbCr->RGB conversion without ever
# seeing a byte — the PPM/PNG/GIF closed-form discipline, kept for a
# lossy codec by construction.  (General lossy images are covered by
# the tolerance round-trip and hand-built-MCU tests, not the oracle.)

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

#: ITU T.81 Annex K "typical" Huffman tables: (bits[16], values).
_JPEG_STD_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_STD_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_JPEG_STD_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _jpeg_dct_matrix():
    """Orthonormal 8x8 DCT-II matrix D: FDCT = D @ B @ D.T, IDCT =
    D.T @ F @ D."""
    import numpy as np

    d = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            d[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return d


def _huff_encode_table(bits, values):
    """symbol -> (code, length) via canonical code assignment."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_align(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def raw_marker(self, byte2):
        self.pad_align()
        self.buf += bytes([0xFF, byte2])


def _jpeg_magnitude(v):
    """(category, magnitude-bit pattern) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def encode_jpeg(
    width,
    height,
    y_fn,
    cb_fn,
    cr_fn,
    subsample=False,
    q_dc=1,
    restart_interval=0,
):
    """Real baseline JFIF encoder.  ``y_fn(x, y)`` gives the full-res
    luma sample; ``cb_fn``/``cr_fn`` give CHROMA-PLANE samples (full
    res at 4:4:4, half res at 4:2:0 — the caller's formulas are in the
    same coordinate space the decoder reconstructs).  Quant tables are
    flat ones with Q_dc = ``q_dc`` (any divisor of 8 keeps constant
    blocks bit-exact; see module note).  Runs the full real pipeline:
    float FDCT, zigzag, quantize, canonical Huffman with the Annex K
    tables, byte stuffing, optional restart markers."""
    import struct

    import numpy as np

    if 8 % q_dc:
        raise ValueError("q_dc must divide 8 for the exactness contract")
    hmax = vmax = 2 if subsample else 1
    mcx = -(-width // (8 * hmax))
    mcy = -(-height // (8 * vmax))
    comps = [
        (1, hmax, vmax, 0),  # (id, h, v, quant table id)
        (2, 1, 1, 1),
        (3, 1, 1, 1),
    ]

    def padded_plane(fn, cw, ch, bw, bh):
        xs = np.minimum(np.arange(bw * 8), cw - 1)
        ys = np.minimum(np.arange(bh * 8), ch - 1)
        return np.array(
            [[fn(int(x), int(y)) for x in xs] for y in ys], dtype=np.float64
        )

    planes = []
    for fn, (cid, ch_, cv, _tq) in zip((y_fn, cb_fn, cr_fn), comps):
        cw = -(-width * ch_ // hmax)
        chh = -(-height * cv // vmax)
        planes.append(padded_plane(fn, cw, chh, mcx * ch_, mcy * cv))

    qtabs = []
    for _ in range(2):
        q = np.ones(64, dtype=np.int64)
        q[0] = q_dc
        qtabs.append(q)

    dmat = _jpeg_dct_matrix()
    dc_tabs = [
        _huff_encode_table(*_JPEG_STD_DC_LUM),
        _huff_encode_table(*_JPEG_STD_DC_CHR),
    ]
    ac_tabs = [
        _huff_encode_table(*_JPEG_STD_AC_LUM),
        _huff_encode_table(*_JPEG_STD_AC_CHR),
    ]

    wtr = _JpegBitWriter()
    pred = [0, 0, 0]
    mcu_idx = 0
    rst = 0
    for my in range(mcy):
        for mx in range(mcx):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                wtr.raw_marker(0xD0 + rst % 8)
                rst += 1
                pred = [0, 0, 0]
            for ci, (cid, ch_, cv, tq) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch_):
                        r0 = (my * cv + by) * 8
                        c0 = (mx * ch_ + bx) * 8
                        block = planes[ci][r0 : r0 + 8, c0 : c0 + 8] - 128.0
                        coef = dmat @ block @ dmat.T
                        zz = np.rint(
                            coef.reshape(64)[_JPEG_ZIGZAG] / qtabs[tq][np.arange(64)]
                        ).astype(np.int64)
                        hc = 0 if ci == 0 else 1
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s, mag = _jpeg_magnitude(diff)
                        code, ln = dc_tabs[hc][s]
                        wtr.write(code, ln)
                        if s:
                            wtr.write(mag, s)
                        run = 0
                        last_nz = max(
                            (k for k in range(1, 64) if zz[k]), default=0
                        )
                        for k in range(1, last_nz + 1):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run >= 16:
                                code, ln = ac_tabs[hc][0xF0]
                                wtr.write(code, ln)
                                run -= 16
                            s, mag = _jpeg_magnitude(int(zz[k]))
                            code, ln = ac_tabs[hc][(run << 4) | s]
                            wtr.write(code, ln)
                            wtr.write(mag, s)
                            run = 0
                        if last_nz < 63:
                            code, ln = ac_tabs[hc][0x00]
                            wtr.write(code, ln)
            mcu_idx += 1
    wtr.pad_align()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for tq, q in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(q[k]) for k in range(64))  # already zigzag-indexed
    out += b"\xff\xc0" + struct.pack(">H", 8 + 3 * len(comps)) + b"\x08"
    out += struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, ch_, cv, tq in comps:
        out += bytes([cid, (ch_ << 4) | cv, tq])
    for tc, th, (bits, values) in (
        (0, 0, _JPEG_STD_DC_LUM),
        (0, 1, _JPEG_STD_DC_CHR),
        (1, 0, _JPEG_STD_AC_LUM),
        (1, 1, _JPEG_STD_AC_CHR),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(values))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * len(comps)) + bytes(
        [len(comps)]
    )
    for ci, (cid, *_rest) in enumerate(comps):
        hc = 0 if ci == 0 else 1
        out += bytes([cid, (hc << 4) | hc])
    out += b"\x00\x3f\x00"
    out += wtr.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """MSB-first reader over the entropy-coded segment with 0xFF00
    unstuffing; restart markers are consumed explicitly via
    ``expect_restart``."""

    def __init__(self, payload, pos):
        self.p = payload
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        if self.pos >= len(self.p):
            raise ValueError("truncated JPEG entropy stream")
        b = self.p[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.p):
                raise ValueError("truncated JPEG entropy stream")
            nxt = self.p[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                # a real marker: no more entropy bits here
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self):
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n):
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def expect_restart(self, m):
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 >= len(self.p):
            raise ValueError("truncated JPEG: missing restart marker")
        if self.p[self.pos] != 0xFF or self.p[self.pos + 1] != 0xD0 + m % 8:
            raise ValueError(
                f"expected RST{m % 8}, got "
                f"{self.p[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


def _huff_decode_table(bits, values):
    """(length, code) -> symbol map for canonical codes (tables are
    tiny, so a dict probe per length is simple and fast enough inside
    the Arrow batch loop)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return out


def _huff_read(rdr, table):
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | rdr.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v, s):
    """T.81 F.2.2.1 EXTEND: magnitude bits -> signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_JPEG_SOF_UNSUPPORTED = {
    0xC1: "extended sequential",
    0xC2: "progressive",
    0xC3: "lossless",
    0xC5: "differential sequential",
    0xC6: "differential progressive",
    0xC7: "differential lossless",
    0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive",
    0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def decode_jpeg(payload: bytes):
    """Pure numpy baseline JPEG decoder: returns (width, height, HxWx3
    uint8 RGB top-down).  Sequential DCT (SOF0) only — progressive and
    every other SOF class reject loudly by name, as do 12-bit
    precision, unknown quant/huffman table ids, and truncated streams.
    Sample reconstruction is floor(x + 0.5) with [0, 255] clamping and
    chroma upsampling is box replication; YCbCr->RGB uses the JFIF
    constants with the same floor(x + 0.5) rule (the exact formulas the
    closed-form oracle mirrors)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict = {}
    dc_tabs: dict = {}
    ac_tabs: dict = {}
    sof = None
    restart_interval = 0
    scan = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG marker stream")
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker byte at {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RSTn: standalone markers carry no length field
            pos += 2
            continue
        if marker == 0xD9:  # EOI with no scan
            raise ValueError("JPEG contains no scan")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker in _JPEG_SOF_UNSUPPORTED:
            raise ValueError(
                f"unsupported JPEG: {_JPEG_SOF_UNSUPPORTED[marker]} "
                f"(SOF{marker - 0xC0}) — baseline sequential (SOF0) only"
            )
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            bpos = 0
            while bpos < len(body):
                if bpos + 65 > len(body):
                    raise ValueError("truncated JPEG segment (DQT body)")
                pq, tq = body[bpos] >> 4, body[bpos] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                q = np.zeros(64, dtype=np.int64)
                for k in range(64):
                    q[_JPEG_ZIGZAG[k]] = body[bpos + 1 + k]
                qtabs[tq] = q
                bpos += 65
        elif marker == 0xC0:  # SOF0
            if len(body) < 6:
                raise ValueError("truncated JPEG segment (SOF0 header)")
            prec = body[0]
            if prec != 8:
                raise ValueError(f"{prec}-bit JPEG not supported")
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG segment (SOF0 components)")
            comps = []
            for c in range(nc):
                cid = body[6 + 3 * c]
                hv = body[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * c]))
            sof = (w, h, comps)
        elif marker == 0xC4:  # DHT (possibly several tables)
            bpos = 0
            while bpos < len(body):
                if bpos + 17 > len(body):
                    raise ValueError("truncated JPEG segment (DHT header)")
                tc, th = body[bpos] >> 4, body[bpos] & 0x0F
                bits = list(body[bpos + 1 : bpos + 17])
                n = sum(bits)
                if bpos + 17 + n > len(body):
                    raise ValueError("truncated JPEG segment (DHT values)")
                values = list(body[bpos + 17 : bpos + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decode_table(
                    bits, values
                )
                bpos += 17 + n
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated JPEG segment (DRI)")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if len(body) < 1 or len(body) < 1 + 2 * body[0]:
                raise ValueError("truncated JPEG segment (SOS)")
            ns = body[0]
            scan = []
            for c in range(ns):
                scan.append((body[1 + 2 * c], body[2 + 2 * c] >> 4,
                             body[2 + 2 * c] & 0x0F))
            pos = pos + 2 + seglen
            break
        # APPn/COM/anything else: skipped
        pos = pos + 2 + seglen
    if sof is None:
        raise ValueError("JPEG scan before SOF0 frame header")
    w, h, comps = sof
    if [cid for cid, *_ in scan] != [cid for cid, *_ in comps]:
        raise ValueError("SOS component order differs from SOF")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    dmat = _jpeg_dct_matrix()
    planes = [
        np.zeros((mcy * cv * 8, mcx * ch_ * 8), dtype=np.float64)
        for _cid, ch_, cv, _tq in comps
    ]
    for _cid, ch_, cv, tq in comps:
        if tq not in qtabs:
            raise ValueError(f"missing quant table {tq}")
    rdr = _JpegBitReader(payload, pos)
    pred = [0] * len(comps)
    rst = 0
    for mcu in range(mcx * mcy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            rdr.expect_restart(rst)
            rst += 1
            pred = [0] * len(comps)
        my, mx = divmod(mcu, mcx)
        for ci, ((_cid, ch_, cv, tq), (_sid, td, ta)) in enumerate(
            zip(comps, scan)
        ):
            if td not in dc_tabs or ta not in ac_tabs:
                raise ValueError("missing huffman table for scan")
            for by in range(cv):
                for bx in range(ch_):
                    zz = np.zeros(64, dtype=np.int64)
                    s = _huff_read(rdr, dc_tabs[td])
                    diff = _jpeg_extend(rdr.bits(s), s) if s else 0
                    pred[ci] += diff
                    zz[0] = pred[ci]
                    k = 1
                    while k < 64:
                        sym = _huff_read(rdr, ac_tabs[ta])
                        if sym == 0x00:  # EOB
                            break
                        run, size = sym >> 4, sym & 0x0F
                        if size == 0:
                            if run != 15:
                                raise ValueError("bad AC symbol")
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC index beyond block")
                        zz[k] = _jpeg_extend(rdr.bits(size), size)
                        k += 1
                    coef = np.zeros(64, dtype=np.float64)
                    coef[_JPEG_ZIGZAG] = zz * qtabs[tq][_JPEG_ZIGZAG]
                    block = dmat.T @ coef.reshape(8, 8) @ dmat + 128.0
                    block = np.clip(np.floor(block + 0.5), 0, 255)
                    r0 = (my * cv + by) * 8
                    c0 = (mx * ch_ + bx) * 8
                    planes[ci][r0 : r0 + 8, c0 : c0 + 8] = block
    full = []
    for (ci, (_cid, ch_, cv, _tq)) in enumerate(comps):
        cw = -(-w * ch_ // hmax)
        chh = -(-h * cv // vmax)
        p = planes[ci][:chh, :cw]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch_, axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        y = full[0]
        rgb = np.stack([y, y, y], axis=2)
    elif len(comps) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, b], axis=2)
    else:
        raise ValueError(f"{len(comps)}-component JPEG not supported")
    return w, h, np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


_JPEG_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int, subsampled int,"
    " q_dc int, sum_r bigint, sum_g bigint, sum_b bigint, ysum_g bigint,"
    " xsum_b bigint"
)

_N_JPEG = 12


def _jpeg_params(i: int):
    return {
        "w": 24 + 4 * (i % 5),      # 24/28/32/36/40: non-x8 dims crop MCUs
        "h": 16 + 4 * (i % 4),      # 16/20/24/28
        "sub": i % 2 == 1,          # alternate 4:4:4 / 4:2:0
        "q_dc": 1 << (i % 4),       # 1/2/4/8 all divide 8: DC stays exact
        "ri": 2 if i % 3 == 0 else 0,  # restart markers on a third
    }


def _jpeg_payload(i: int) -> bytes:
    """Block-constant YCbCr image i as a REAL baseline JPEG payload (see
    module note: block constancy + divisor-of-8 DC quant steps make the
    lossy pipeline bit-exact, so the oracle can stay closed-form).  Dims
    include non-multiples of 8/16 (MCU padding + crop), subsampling
    alternates, quant DC steps cycle, and a third of the streams carry
    restart markers."""
    p = _jpeg_params(i)
    return encode_jpeg(
        p["w"], p["h"],
        lambda x, y: ((x // 8) * 29 + (y // 8) * 17 + 16 * i) % 256,
        lambda x, y: ((x // 8) * 13 + (y // 8) * 31 + 8 * i) % 256,
        lambda x, y: ((x // 8) * 23 + (y // 8) * 11 + 24 * i) % 256,
        subsample=p["sub"], q_dc=p["q_dc"],
        restart_interval=p["ri"],
    )


def _jpeg_stats(mid: int, payload: bytes, params_fn=_jpeg_params) -> list:
    """Decode a real JPEG payload; exact RGB channel sums plus a
    y-weighted green sum and x-weighted blue sum (flip/transpose
    anti-cancellation: plain sums are permutation-invariant, so a
    broken MCU raster order or swapped chroma planes would otherwise
    cancel).  ``params_fn`` maps media_id -> the fixture param dict
    (block-constant family by default; the AC family passes its own)."""
    import numpy as np

    p = params_fn(mid)
    w, h, arr = decode_jpeg(payload)
    a64 = arr.astype("int64")
    ys = np.arange(h, dtype="int64")
    xs = np.arange(w, dtype="int64")
    return [
        (
            mid, w, h, int(p["sub"]), p["q_dc"],
            int(a64[:, :, 0].sum()),
            int(a64[:, :, 1].sum()),
            int(a64[:, :, 2].sum()),
            int((a64[:, :, 1].sum(axis=1) * ys).sum()),
            int((a64[:, :, 2].sum(axis=0) * xs).sum()),
        )
    ]


_JPEG_ORACLE = f"""
    WITH dims AS (
      SELECT i, 24 + 4 * (i % 5) AS w, 16 + 4 * (i % 4) AS h,
             i % 2 AS sub, CAST(power(2, i % 4) AS BIGINT) AS q_dc
      FROM range({_N_JPEG}) t(i)
    ),
    px AS (
      SELECT i, w, h, sub, q_dc, x, y,
             CAST(((x // 8) * 29 + (y // 8) * 17 + 16 * i) % 256
                  AS DOUBLE) AS yv,
             CAST(((x // (8 * (1 + sub))) * 13
                   + (y // (8 * (1 + sub))) * 31 + 8 * i) % 256
                  AS DOUBLE) AS cbv,
             CAST(((x // (8 * (1 + sub))) * 23
                   + (y // (8 * (1 + sub))) * 11 + 24 * i) % 256
                  AS DOUBLE) AS crv
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
    ),
    rgb AS (
      SELECT i, w, h, sub, q_dc, x, y,
             least(greatest(CAST(floor(yv + 1.402 * (crv - 128) + 0.5)
               AS BIGINT), 0), 255) AS r,
             least(greatest(CAST(floor(yv - 0.344136 * (cbv - 128)
               - 0.714136 * (crv - 128) + 0.5) AS BIGINT), 0), 255) AS g,
             least(greatest(CAST(floor(yv + 1.772 * (cbv - 128) + 0.5)
               AS BIGINT), 0), 255) AS b
      FROM px
    )
    SELECT i AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sub AS INT) AS subsampled, CAST(q_dc AS INT) AS q_dc,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(y * g) AS BIGINT) AS ysum_g,
           CAST(sum(x * b) AS BIGINT) AS xsum_b
    FROM rgb
    GROUP BY i, w, h, sub, q_dc
    ORDER BY media_id
    """


# ------------------------------------------------- REAL IMA-ADPCM codec
# Eighth native codec, and the first COMPRESSED audio one: IMA/DVI
# ADPCM inside a RIFF/WAVE container (wFormatTag 0x0011), per the IMA
# "Recommended Practices for Enhancing Digital Audio Compatibility"
# algorithm (the same 89-entry step table appears in RFC 3551 §4.5.1).
# Where the PCM WAV entry exercises chunk walking, this one exercises
# the compressed-format half of real WAV parsing: the 20-byte extended
# fmt chunk (cbSize + samplesPerBlock), the REQUIRED fact chunk (total
# sample count — the data chunk alone cannot tell a padded final block
# from real samples), per-block state headers (predictor + step index),
# low-nibble-first 4-bit packing, and the bit-exact conditional-add
# difference reconstruction (NOT ((2m+1)*step)>>3 — the truncation
# semantics differ and drift accumulates through the predictor).
#
# Reference parity note: the reference treats media as opaque binary
# with typed metadata (SURVEY §2.10); native codecs go beyond parity to
# make the decode seam real.  Covers the audio half of the reference's
# q005-style binary-column handling (reference queries/q005.sql).
#
# Exactness contract: ADPCM *encoding* is lossy, but *decoding* a given
# payload is pure integer arithmetic — bit-exact and platform-free.
# The graded oracle therefore pins per-clip integer statistics that
# were generated ONCE by an independent scalar reference decoder
# (scripts/gen_adpcm_expected.py, validated against a hand-stepped
# nibble vector in tests/test_round9_ops.py) and stored as constants
# below; the Spark side must reproduce them by actually parsing and
# decoding the container.

_ADPCM_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_ADPCM_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _adpcm_reconstruct(nibble: int, pred: int, index: int):
    """One IMA decode step: (new_pred, new_index).  Conditional-add
    difference form per the IMA practice document §6 (bit-exact)."""
    step = _ADPCM_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _ADPCM_INDEX_TABLE[nibble & 7]))
    return pred, index


def _adpcm_encode_nibble(sample: int, pred: int, index: int):
    """Quantize one sample against the current predictor/step: returns
    (nibble, new_pred, new_index) with the decoder's own reconstruction
    used for the state update (encoder and decoder stay in lockstep)."""
    step = _ADPCM_STEP_TABLE[index]
    delta = sample - pred
    nibble = 8 if delta < 0 else 0
    if delta < 0:
        delta = -delta
    if delta >= step:
        nibble |= 4
        delta -= step
    if delta >= step >> 1:
        nibble |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        nibble |= 1
    pred, index = _adpcm_reconstruct(nibble, pred, index)
    return nibble, pred, index


def encode_adpcm_wav(samples, rate: int = _WAV_RATE,
                     block_align: int = 256) -> bytes:
    """Encode mono int16 samples as a real IMA-ADPCM WAV (format 17):
    extended fmt chunk, fact chunk with the true sample count, and
    ``block_align``-byte blocks (4-byte state header + low-nibble-first
    packed codes).  A partial final block is zero-nibble padded; the
    fact chunk is what lets the decoder trim the padding."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if block_align < 8 or block_align % 4:
        raise ValueError("block_align must be a multiple of 4, >= 8")
    spb = (block_align - 4) * 2 + 1  # samples per full block
    blocks = bytearray()
    pos = 0
    n = len(s)
    while pos < n:
        chunk = s[pos : pos + spb]
        pred = int(chunk[0])
        # seed index: best step for the first real delta (any choice is
        # legal — it is carried in the block header)
        index = 0
        if len(chunk) > 1:
            d0 = abs(int(chunk[1]) - pred)
            while index < 88 and _ADPCM_STEP_TABLE[index] < d0 // 4:
                index += 1
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for k in range(1, spb):
            target = int(chunk[k]) if k < len(chunk) else pred
            nib, pred, index = _adpcm_encode_nibble(target, pred, index)
            nibbles.append(nib)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
        pos += spb
    data = bytes(blocks)
    hdr = struct.pack(
        "<4sI4s", b"RIFF", 4 + 28 + 12 + 8 + len(data), b"WAVE"
    )
    fmt = struct.pack(
        "<4sIHHIIHHHH",
        b"fmt ", 20,
        17,  # WAVE_FORMAT_IMA_ADPCM
        1,   # mono
        rate,
        (rate * block_align + spb - 1) // spb,  # avg bytes/sec
        block_align,
        4,   # bits per (compressed) sample
        2,   # cbSize
        spb,
    )
    fact = struct.pack("<4sII", b"fact", 4, n)
    return hdr + fmt + fact + struct.pack("<4sI", b"data", len(data)) + data


def decode_adpcm_wav(payload: bytes):
    """Parse + decode a mono IMA-ADPCM WAV: returns (sample_rate,
    int16 numpy array of exactly fact-chunk-many samples).  Chunk
    walker validates format 17 / mono / 4-bit, requires the fact chunk,
    bounds-checks every block, and rejects out-of-range step indices —
    truncation or corruption surfaces as ValueError, never garbage."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmtc, n_total, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated WAV chunk {cid!r}: need {size}, have {len(body)}"
            )
        if cid == b"fmt ":
            if size < 2:
                raise ValueError("fmt chunk too short")
            if struct.unpack("<H", body[:2])[0] != 17:
                raise ValueError(
                    f"not IMA-ADPCM (format {struct.unpack('<H', body[:2])[0]})"
                )
            if size < 20:
                raise ValueError("IMA-ADPCM fmt chunk needs 20 bytes")
            fmtc = struct.unpack("<HHIIHHHH", body[:20])
        elif cid == b"fact":
            if size < 4:
                raise ValueError("fact chunk too short")
            (n_total,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if fmtc is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag, channels, rate, _abps, block_align, bits, _cb, spb = fmtc
    if tag != 17:
        raise ValueError(f"not IMA-ADPCM (format {tag})")
    if channels != 1 or bits != 4:
        raise ValueError(f"expected mono/4-bit, got {channels}ch/{bits}bit")
    if spb != (block_align - 4) * 2 + 1:
        raise ValueError(
            f"samplesPerBlock {spb} inconsistent with blockAlign {block_align}"
        )
    if n_total is None:
        raise ValueError("IMA-ADPCM WAV requires a fact chunk")
    out = np.zeros(n_total, dtype=np.int64)
    got = 0
    bpos = 0
    while got < n_total:
        if bpos + block_align > len(data):
            raise ValueError("truncated IMA-ADPCM data: fewer blocks than fact")
        pred, index, _res = struct.unpack("<hBB", data[bpos : bpos + 4])
        if index > 88:
            raise ValueError(f"step index {index} out of range")
        block = [pred]
        for bi in range(4, block_align):
            byte = data[bpos + bi]
            for nib in (byte & 0x0F, byte >> 4):
                pred, index = _adpcm_reconstruct(nib, pred, index)
                block.append(pred)
        take = min(spb, n_total - got)  # fact count trims final-block padding
        out[got : got + take] = block[:take]
        got += take
        bpos += block_align
    return rate, out.astype(np.int16)


_N_ADPCM = 12

# (n_samples, block_align, sample_rate) per clip — hand-chosen to cover
# exact-block-multiple counts (i = 0/3/5/8/9), a header-only final
# block (i = 1: 35 = 2*17 + 1), partial final blocks, and all three
# block sizes (spb = 17 / 25 / 41).
_ADPCM_PARAMS = (
    (34, 12, 8000), (35, 12, 8000), (60, 16, 16000), (25, 16, 8000),
    (120, 24, 8000), (41, 24, 11025), (100, 12, 8000), (50, 16, 22050),
    (82, 24, 8000), (17, 12, 8000), (90, 16, 8000), (160, 24, 16000),
)


def _adpcm_signal(i: int, n: int):
    """Deterministic integer test waveform for clip i (pure int math —
    no floats anywhere in the fixture definition)."""
    scale = 3 * (i % 3 + 1)
    out = []
    for k in range(n):
        v = ((k * k * (2 + i % 5) + k * (31 + 7 * i) + 17 * i) % 4096) - 2048
        out.append(v * scale)
    return out


def _adpcm_payload(i: int) -> bytes:
    """Clip i as a REAL IMA-ADPCM WAV payload."""
    import numpy as np

    n_samp, ba, rate = _ADPCM_PARAMS[i]
    s = np.array(_adpcm_signal(i, n_samp), dtype=np.int16)
    return encode_adpcm_wav(s, rate, block_align=ba)


_ADPCM_SCHEMA = (
    "media_id bigint NOT NULL, sample_rate int, block_align int,"
    " n_samples bigint, sum_amp bigint, sum_abs bigint, ksum bigint,"
    " last_sample int"
)


def _sample_row(mid: int, rate: int, tag, s) -> tuple:
    """(media_id, rate, tag, n, sum, sum|s|, k-weighted sum, last
    sample): ``ksum`` (position-weighted sum) is the anti-symmetry
    guard — plain sums are permutation-invariant, so a nibble-order or
    block-order bug could otherwise cancel."""
    import numpy as np

    s64 = s.astype(np.int64)
    k = np.arange(len(s64), dtype=np.int64)
    return (
        mid, int(rate), tag, len(s64), int(s64.sum()),
        int(np.abs(s64).sum()), int((k * s64).sum()),
        int(s64[-1]) if len(s64) else 0,
    )


def _adpcm_stats(mid: int, payload: bytes) -> list:
    """Decode an IMA-ADPCM payload via the generic audio seam; exact
    integer statistics."""
    rate, s = decode_audio(payload)
    return [_sample_row(mid, rate, _ADPCM_PARAMS[mid][1], s)]


# Pinned per-clip statistics — generated ONCE by the independent scalar
# reference decoder in scripts/gen_adpcm_expected.py (its own RIFF
# chunk walk + nibble loop, validated against a hand-stepped vector in
# tests/test_round9_ops.py) and re-derived there on every pytest run.
# Regenerate with: PYTHONPATH=. python3 scripts/gen_adpcm_expected.py
_ADPCM_EXPECTED = [
    (0, 8000, 12, 34, -81640, 111520, -391831, 3498),
    (1, 8000, 12, 35, -83304, 247740, 956092, -8202),
    (2, 16000, 16, 60, -35805, 532777, 4869270, -1140),
    (3, 8000, 16, 25, -32588, 84864, 248606, 3731),
    (4, 8000, 24, 120, -50010, 731348, -2283045, 1172),
    (5, 11025, 24, 41, -109418, 380520, 825956, -2510),
    (6, 8000, 12, 100, 36879, 273759, 4666748, 5506),
    (7, 22050, 16, 50, -3832, 306320, 2330839, -4350),
    (8, 8000, 24, 82, -34345, 711167, 1791408, 12596),
    (9, 8000, 12, 17, -31532, 50016, -17214, 3454),
    (10, 8000, 16, 90, 31981, 498075, 6578281, 514),
    (11, 16000, 24, 160, 188297, 1364337, 22341401, 11067),
]

_ADPCM_ORACLE = _pinned_oracle(_ADPCM_SCHEMA, _ADPCM_EXPECTED)




# --------------------------------------- JPEG non-zero-AC fixture family
# Second graded JPEG family, closing the round-8 verdict note: the
# block-constant fixtures above exercise only the DC path (every AC
# coefficient quantizes to zero), leaving the Huffman-AC decode + full
# IDCT under pytest but outside the driver gate.  These fixtures put
# DCT-BASIS content in every block: plane value = per-block DC base +
# two cosine-product basis terms with per-block integer amplitudes, so
# the FDCT lands EXACTLY on known integer coefficients (orthonormality:
# a u,v>=1 basis term of amplitude a produces coefficient 4a; the
# closed form is re-verified against an explicit double-loop FDCT in
# scripts/gen_jpeg_ac_expected.py before the expectations are pinned).
# The cr-plane's second term sits at zigzag index 48, forcing ZRL
# (16-zero-run) Huffman symbols through the decoder; dims are
# multiples of 16 so MCU padding stays out of this family's scope (the
# DC family already grades crop/padding).
#
# Oracle discipline: a general lossy block can't value-hash against
# closed-form SQL, so this family pins stats generated ONCE by the
# independent explicit-loop reference pipeline (known coefficients ->
# double-loop IDCT -> JFIF YCbCr->RGB), never by decode_jpeg itself;
# tests/test_round9_ops.py asserts decode_jpeg reproduces the reference
# reconstruction pixel-exactly and re-derives the pinned constants.

_N_JPEG_AC = 10

# per-plane (u, v) basis pairs (all >= 1 so coefficients are exactly
# 4*amplitude); cr's (5, 5) sits deep in the zigzag for ZRL coverage
_JPEG_AC_BASIS = {
    "y": ((1, 2), (3, 1)),
    "cb": ((2, 1), (1, 3)),
    "cr": ((2, 2), (5, 5)),
}
_JPEG_AC_PLANE_OFFSET = {"y": 0, "cb": 3, "cr": 7}


def _jpeg_ac_params(i: int):
    return {
        "w": 32 + 16 * (i % 2),     # 32/48 (multiples of 16: no padding)
        "h": 16 + 16 * (i % 3),     # 16/32/48
        "sub": i % 2 == 1,
        "q_dc": 1 << (i % 3),       # 1/2/4 — all divide the 8k DC coeffs
        "ri": 2 if i % 4 == 0 else 0,
    }


def _jpeg_ac_block_coeffs(i: int, plane: str, bx: int, by: int):
    """The exact quantized-then-dequantized coefficients of block
    (bx, by): (dc_base, amp1, amp2) in PIXEL units (dc_base is the
    pre-shift base sample value; amplitudes are the cosine-term
    weights).  Shared truth between the encoder-side pixel functions
    and the reference pipeline."""
    p = _JPEG_AC_PLANE_OFFSET[plane]
    base = 108 + 4 * ((bx + by + i + p) % 11)
    amp1 = 3 + ((bx + 2 * by + i + p) % 5)
    amp2 = 2 + ((2 * bx + by + i) % 4)
    return base, amp1, amp2


def _jpeg_ac_plane_fn(i: int, plane: str):
    import math

    (u1, v1), (u2, v2) = _JPEG_AC_BASIS[plane]

    def fn(x: int, y: int) -> float:
        base, a1, a2 = _jpeg_ac_block_coeffs(i, plane, x // 8, y // 8)
        tx, ty = x % 8, y % 8
        return (
            base
            + a1
            * math.cos((2 * tx + 1) * u1 * math.pi / 16)
            * math.cos((2 * ty + 1) * v1 * math.pi / 16)
            + a2
            * math.cos((2 * tx + 1) * u2 * math.pi / 16)
            * math.cos((2 * ty + 1) * v2 * math.pi / 16)
        )

    return fn


def _jpeg_ac_payload(i: int) -> bytes:
    p = _jpeg_ac_params(i)
    return encode_jpeg(
        p["w"], p["h"],
        _jpeg_ac_plane_fn(i, "y"),
        _jpeg_ac_plane_fn(i, "cb"),
        _jpeg_ac_plane_fn(i, "cr"),
        subsample=p["sub"], q_dc=p["q_dc"],
        restart_interval=p["ri"],
    )


def _jpeg_ac_stats(mid: int, payload: bytes) -> list:
    return _jpeg_stats(mid, payload, _jpeg_ac_params)


# Pinned stats — generated ONCE by the independent explicit-loop
# reference pipeline in scripts/gen_jpeg_ac_expected.py (closed-form
# coefficients cross-checked by a double-loop FDCT, double-loop IDCT,
# half-boundary distance asserted > 1e-6) and re-derived on every
# pytest run.  Regenerate: PYTHONPATH=. python3 scripts/gen_jpeg_ac_expected.py
_JPEG_AC_EXPECTED = [
    (0, 32, 16, 0, 1, 66920, 55560, 59392, 424468, 977312),
    (1, 48, 32, 1, 2, 219624, 183792, 202052, 2947904, 5007651),
    (2, 32, 48, 0, 4, 188830, 207198, 216354, 5050802, 3324383),
    (3, 48, 16, 1, 1, 95608, 102172, 112240, 772502, 2766913),
    (4, 32, 32, 0, 2, 127852, 143854, 145611, 2266360, 2171057),
    (5, 48, 48, 1, 4, 272920, 307672, 320504, 7070212, 6888099),
    (6, 32, 16, 0, 1, 68802, 73749, 68507, 556829, 978924),
    (7, 48, 32, 1, 2, 189936, 201812, 165052, 3081474, 3481421),
    (8, 32, 48, 0, 4, 202928, 183887, 178054, 4169676, 2817447),
    (9, 48, 16, 1, 1, 98712, 95412, 78164, 710538, 1820356),
]

_JPEG_AC_ORACLE = _pinned_oracle(_JPEG_SCHEMA, _JPEG_AC_EXPECTED)




# --------------------------------------------- G.711 mu-law / A-law codec
# Ninth native codec, second and third compressed-audio formats: the two
# ITU-T G.711 companding laws (1972 spec, public; byte-level algorithm
# also in the well-known public-domain Sun Microsystems g711.c that RFC
# 3551 points at).  WAVE carries them as wFormatTag 7 (mu-law) and 6
# (A-law), 8 bits per compressed sample, so this closes the telephony
# half of the audio column: decode_audio now dispatches PCM (1),
# A-law (6), mu-law (7) and IMA-ADPCM (17) natively.  Parity anchor:
# the reference's data model treats media as opaque typed payloads
# (SURVEY §2.10); the codec itself is beyond-parity pipeline surface.

G711_BIAS = 0x84  # 132, mu-law bias in the 16-bit domain
G711_CLIP = 32635  # mu-law encoder clip: 0x7FFF - (BIAS - 1)
_ALAW_SEG_ENDS = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)


def ulaw_decode_byte(b: int) -> int:
    """One mu-law byte -> linear 16-bit sample (shift-of-sums form:
    t = ((mant<<3) + BIAS) << exp, sample = +-(t - BIAS); max +-32124)."""
    u = (~b) & 0xFF
    t = (((u & 0x0F) << 3) + G711_BIAS) << ((u >> 4) & 0x07)
    return (G711_BIAS - t) if (u & 0x80) else (t - G711_BIAS)


def ulaw_encode_sample(s: int) -> int:
    """Linear 16-bit sample -> mu-law byte (bias-then-exponent-search
    form; clips magnitude at G711_CLIP like every published encoder)."""
    s = int(s)
    sign = 0x80 if s < 0 else 0
    if s < 0:
        s = -s
    if s > G711_CLIP:
        s = G711_CLIP
    s += G711_BIAS
    exp, mask = 7, 0x4000
    while exp > 0 and not (s & mask):
        exp -= 1
        mask >>= 1
    mant = (s >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant)) & 0xFF


def alaw_decode_byte(b: int) -> int:
    """One A-law byte -> linear 16-bit sample (even-bit inversion with
    0x55, segment 0 linear / segments 1..7 exponential; max +-32256).
    The transmitted sign bit SET means positive per G.711."""
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def alaw_encode_sample(s: int) -> int:
    """Linear 16-bit sample -> A-law byte (13-bit-domain segment search;
    negative values map through the one's-complement -p-1 fold so -1..-8
    land in quantization cell 0, matching the decoder's midpoints)."""
    p = int(s) >> 3
    if p >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        p = -p - 1
    seg = 0
    for end in _ALAW_SEG_ENDS:
        if p <= end:
            break
        seg += 1
    aval = seg << 4
    if seg < 2:
        aval |= (p >> 1) & 0x0F
    else:
        aval |= (p >> seg) & 0x0F
    return aval ^ mask


def encode_g711_wav(samples, rate: int, law: str) -> bytes:
    """Mono 16-bit samples -> a real G.711 WAV: wFormatTag 7 (mu-law)
    or 6 (A-law), 8 bits per compressed sample, 18-byte fmt chunk
    (cbSize = 0 as non-PCM formats require) plus the mandatory fact
    chunk carrying the sample count."""
    import struct

    enc = ulaw_encode_sample if law == "ulaw" else alaw_encode_sample
    tag = 7 if law == "ulaw" else 6
    data = bytes(enc(int(s)) for s in samples)
    fmt = struct.pack(
        "<4sIHHIIHHH", b"fmt ", 18, tag, 1, rate, rate, 1, 8, 0
    )
    fact = struct.pack("<4sII", b"fact", 4, len(data))
    pad = b"\x00" if len(data) % 2 else b""
    hdr = struct.pack(
        "<4sI4s",
        b"RIFF",
        4 + len(fmt) + len(fact) + 8 + len(data) + len(pad),
        b"WAVE",
    )
    return hdr + fmt + fact + struct.pack("<4sI", b"data", len(data)) + data + pad


def decode_g711_wav(payload: bytes):
    """Parse + decode a mono G.711 WAV: returns (sample_rate, law,
    int16 numpy array).  Chunk walker validates format 6/7, mono,
    8-bit, requires the fact chunk and checks it against the data
    chunk — truncation or corruption surfaces as ValueError."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmtc, n_total, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated WAV chunk {cid!r}: need {size}, have {len(body)}"
            )
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmtc = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"fact":
            if size < 4:
                raise ValueError("fact chunk too short")
            (n_total,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if fmtc is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag, channels, rate, _abps, _ba, bits = fmtc
    if tag not in (6, 7):
        raise ValueError(f"not G.711 (format {tag})")
    if channels != 1 or bits != 8:
        raise ValueError(f"expected mono/8-bit, got {channels}ch/{bits}bit")
    if n_total is None:
        raise ValueError("G.711 WAV requires a fact chunk")
    if n_total > len(data):
        raise ValueError(
            f"truncated G.711 data: fact says {n_total}, have {len(data)}"
        )
    law = "ulaw" if tag == 7 else "alaw"
    dec = ulaw_decode_byte if tag == 7 else alaw_decode_byte
    out = np.fromiter(
        (dec(b) for b in data[:n_total]), dtype=np.int64, count=n_total
    )
    return rate, law, out.astype(np.int16)


_N_G711 = 12

# (n_samples, sample_rate, law) per clip — laws alternate, lengths and
# rates vary, odd lengths exercise the RIFF pad byte.
_G711_PARAMS = (
    (40, 8000, "ulaw"), (33, 8000, "alaw"), (64, 16000, "ulaw"),
    (25, 8000, "alaw"), (101, 8000, "ulaw"), (48, 11025, "alaw"),
    (77, 8000, "ulaw"), (56, 22050, "alaw"), (90, 8000, "ulaw"),
    (17, 8000, "alaw"), (120, 16000, "ulaw"), (63, 8000, "alaw"),
)


def _g711_signal(i: int, n: int):
    """Deterministic full-range 16-bit test waveform for clip i (pure
    int math).  A Knuth multiplicative hash of a per-clip quadratic
    spreads samples over the entire 16-bit range (every segment of both
    laws, including the small-magnitude linear cells, gets hits even at
    short clip lengths) AND the mu-law clip region (|s| > 32635);
    every 13th sample is pinned near an extreme."""
    out = []
    for k in range(n):
        q = k * k * (3 + i % 7) + k * (101 + 13 * i) + 29 * i
        v = ((q * 2654435761) % 65536) - 32768
        if k % 13 == 5:
            v = 32767 - ((k * (i + 3)) % 97)
        elif k % 13 == 11:
            v = -32768 + ((k * (i + 5)) % 89)
        out.append(v)
    return out


def _g711_payload(i: int) -> bytes:
    """Clip i as a REAL G.711 WAV payload."""
    n_samp, rate, law = _G711_PARAMS[i]
    return encode_g711_wav(_g711_signal(i, n_samp), rate, law)


_G711_SCHEMA = (
    "media_id bigint NOT NULL, sample_rate int, codec string,"
    " n_samples bigint, sum_amp bigint, sum_abs bigint, ksum bigint,"
    " last_sample int"
)


def _g711_stats(mid: int, payload: bytes) -> list:
    """Decode a G.711 payload; exact integer statistics.  ``ksum``
    (position-weighted) again guards sample order; ``sum_abs`` separates
    the two laws (their quantization grids differ, so a law-dispatch bug
    cannot produce matching magnitudes)."""
    rate, law, s = decode_g711_wav(payload)
    return [_sample_row(mid, rate, law, s)]


# Pinned per-clip statistics — generated ONCE by the independent
# table-arithmetic reference decoder in scripts/gen_g711_expected.py
# (it builds both 256-entry decode tables from the segment start/step
# closed forms, a different formulation than the engine's shift-of-sums
# expressions, and walks RIFF itself) and re-derived there on every
# pytest run.  Regenerate: PYTHONPATH=. python3 scripts/gen_g711_expected.py
_G711_EXPECTED = [
    (0, 8000, "ulaw", 40, 23376, 688400, 337960, -924),
    (1, 8000, "alaw", 33, 89536, 662400, 733696, 29184),
    (2, 16000, "ulaw", 64, -145944, 1226512, -6632688, -32124),
    (3, 8000, "alaw", 25, 15648, 481824, 22176, -32256),
    (4, 8000, "ulaw", 101, -108944, 1914648, -10142920, -25980),
    (5, 11025, "alaw", 48, -41552, 853440, -747504, -20992),
    (6, 8000, "ulaw", 77, 109608, 1410944, 5797532, -32124),
    (7, 22050, "alaw", 56, -167976, 1005224, -5770872, -24064),
    (8, 8000, "ulaw", 90, 74564, 1535268, 717116, -32124),
    (9, 8000, "alaw", 17, -30336, 346240, 21760, 4736),
    (10, 16000, "ulaw", 120, 110560, 2404424, -613128, -23932),
    (11, 8000, "alaw", 63, 144456, 1190008, 6923712, 16128),
]

_G711_ORACLE = _pinned_oracle(_G711_SCHEMA, _G711_EXPECTED)



# --------------------------------------------------- Y4M scene-cut detection
# Shot-boundary detection over real YUV4MPEG2 streams — the video-
# curation op downstream of the Y4M codec: training-data pipelines
# sample frames AROUND cuts (shot-aware sampling beats fixed-stride on
# redundancy), and the cut list itself is the shot-segmentation
# artifact.  Detector: per consecutive frame pair, the luma sum of
# absolute differences (SAD); a cut fires when mean |dY| exceeds
# SCENE_CUT_MAD (integer form: sad * 1 > thr * n_pixels).  All outputs
# exact integers.

SCENE_CUT_MAD = 32


_SCENE_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int, n_frames int,"
    " n_cuts int, first_cut int, sad_sum bigint, sad_max bigint"
)


def _scene_stats(mid: int, payload: bytes) -> list:
    """Per-clip scene-cut statistics from consecutive-frame luma SAD.

    Decodes through the real Y4M path (``y4m_sample_frames`` with
    every=1 — cut detection inherently needs consecutive frames, unlike
    the stride-seek sampling entry).  Work is one linear pass over each
    clip inside the Arrow batch; per-clip state never leaves the
    executor, so the operator partitions by clip like every codec here.
    """
    import numpy as np

    thr = SCENE_CUT_MAD
    w, h, _n, _d, _c420, _hdr = parse_y4m_header(payload)
    npix = w * h
    prev = None
    n_frames = n_cuts = 0
    first_cut = -1
    sad_sum = sad_max = 0
    for _f, yp, _up, _vp in y4m_sample_frames(payload, 1):
        n_frames += 1
        y64 = yp.astype(np.int64)
        if prev is not None:
            sad = int(np.abs(y64 - prev).sum())
            sad_sum += sad
            sad_max = max(sad_max, sad)
            if sad > thr * npix:
                n_cuts += 1
                if first_cut < 0:
                    first_cut = n_frames - 1
        prev = y64
    return [(mid, w, h, n_frames, n_cuts, first_cut, sad_sum, sad_max)]


_N_SCENE = 10

# (n_frames, seg_len, c420) per clip: seg_len frames per scene (cuts at
# every scene boundary), one single-scene clip (i=8: seg_len > frames)
# and one single-frame clip (i=9: no pairs at all) pin the no-cut path.
_SCENE_PARAMS = (
    (12, 4, False), (16, 5, True), (14, 4, False), (18, 6, True),
    (12, 3, False), (15, 5, True), (20, 7, False), (16, 4, True),
    (10, 99, False), (1, 4, False),
)


def _scene_y(i: int, f: int, x: int, y: int) -> int:
    """Scene-structured luma: per-scene base level (bounded <= 191 so
    base + 63 never wraps a byte) + a drifting within-scene texture.
    Within a scene mean |dY| is ~4 (the f*2 drift, plus the 2/64 of
    pixels wrapping the 64-band); across a scene boundary the base jump
    dominates (>= 57 gray levels), so SCENE_CUT_MAD = 32 separates the
    two regimes with wide margin on every fixture."""
    seg = _SCENE_PARAMS[i][1]
    base = ((f // seg) * 89 + 17 * i) % 192
    return base + ((x * 3 + y * 5 + f * 2 + i) % 64)


def _scene_payload(i: int) -> bytes:
    """Multi-scene video i as a REAL Y4M payload."""
    nf, _seg, c420 = _SCENE_PARAMS[i]
    return encode_y4m(
        16 + 2 * (i % 3), 12 + 2 * ((i // 3) % 2), nf,
        lambda f, x, y: _scene_y(i, f, x, y),
        lambda f, x, y: (x + 2 * y + 3 * i) % 256,
        lambda f, x, y: (2 * x + y + 5 * i) % 256,
        c420=c420,
    )


# Pinned per-clip statistics — generated ONCE by the independent
# SEQUENTIAL Y4M walker + scalar SAD loop in
# scripts/gen_scene_cut_expected.py (it parses marker-by-marker rather
# than stride-seeking, and computes |dY| pixel-by-pixel in pure Python)
# and re-derived there on every pytest run.  Regenerate:
# PYTHONPATH=. python3 scripts/gen_scene_cut_expected.py
_SCENE_EXPECTED = [
    (0, 16, 12, 12, 2, 4, 40992, 17088),
    (1, 18, 12, 16, 3, 5, 70780, 22200),
    (2, 20, 12, 14, 3, 4, 76640, 24624),
    (3, 16, 14, 18, 2, 6, 55908, 23072),
    (4, 18, 14, 12, 3, 3, 78620, 25964),
    (5, 20, 14, 15, 2, 5, 66780, 28856),
    (6, 16, 12, 20, 2, 7, 49512, 19840),
    (7, 18, 12, 16, 3, 4, 73840, 22264),
    (8, 20, 12, 10, 0, -1, 8400, 960),
    (9, 16, 14, 1, 0, -1, 0, 0),
]

_SCENE_ORACLE = _pinned_oracle(_SCENE_SCHEMA, _SCENE_EXPECTED)



# ------------------------------------------------ audio energy / VAD windows
# Windowed audio analysis over PCM WAV — the audio-curation op
# downstream of the codecs (the audio analog of the scene-cut entry):
# speech/audio training pipelines gate clips on silence ratio and
# activity layout before paying for feature extraction, and the active
# window list is the VAD artifact.  Per fixed 160-sample window (20 ms
# at 8 kHz): exact energy (sum of squares), zero-crossing count, and a
# silence verdict (energy below AUDIO_SILENCE_MSQ per sample).  All
# outputs exact integers.

AUDIO_WIN = 160
AUDIO_SILENCE_MSQ = 10_000  # mean-square threshold per sample


_AUDIO_E_SCHEMA = (
    "media_id bigint NOT NULL, sample_rate int, n_samples bigint,"
    " n_windows int, n_silent int, energy_sum bigint, energy_max bigint,"
    " zc_sum bigint, first_active int"
)


def _audio_e_stats(mid: int, payload: bytes) -> list:
    """Per-clip VAD-style statistics from fixed AUDIO_WIN-sample windows
    of the decoded PCM stream (trailing partial window dropped — windows
    are fixed-duration by construction).  Zero crossings count strict
    sign products v[k]*v[k+1] < 0 WITHIN each window (zeros break runs
    without counting).  Integer bounds: per-window energy <= win *
    32768^2 ~ 1.7e11; the per-clip sum stays BIGINT-safe through ~5e7
    windows per clip (hours of audio)."""
    import numpy as np

    win, thr = AUDIO_WIN, AUDIO_SILENCE_MSQ
    rate, s = decode_audio(payload)
    s64 = s.astype(np.int64)
    nw = len(s64) // win
    w64 = s64[: nw * win].reshape(nw, win)
    energy = (w64 * w64).sum(axis=1)
    zc = ((w64[:, :-1] * w64[:, 1:]) < 0).sum(axis=1)
    silent = energy < thr * win
    active = np.nonzero(~silent)[0]
    return [
        (
            mid, int(rate), len(s64), nw,
            int(silent.sum()), int(energy.sum()),
            int(energy.max()) if nw else 0, int(zc.sum()),
            int(active[0]) if len(active) else -1,
        )
    ]


_N_AUDIO_E = 10

# (n_samples, rate, layout) per clip; layout plants silence/active
# window phases: "sas" = silent/active/silent thirds, "as" etc.; one
# all-silent clip and one shorter-than-a-window clip pin the edges.
_AUDIO_E_PARAMS = (
    (1600, 8000, "sas"), (2400, 8000, "as"), (1920, 16000, "asa"),
    (800, 8000, "sa"), (3200, 8000, "aas"), (1600, 11025, "ssa"),
    (2080, 8000, "asas"), (1600, 8000, "ssss"), (140, 8000, "a"),
    (2400, 16000, "saa"),
)


def _audio_e_signal(i: int, n: int, layout: str):
    """Deterministic int16 waveform with planted silent phases: each
    layout phase spans an equal slice of the clip; silent phases emit
    |v| <= 40 noise (mean square << threshold), active phases an
    alternating +-(8000..20000) pattern (mean square >> threshold and
    dense zero crossings).  Pure int math."""
    out = []
    nph = len(layout)
    for k in range(n):
        ph = layout[min(k * nph // n, nph - 1)]
        if ph == "s":
            v = ((k * (7 + i) + 3 * i) % 81) - 40
        else:
            amp = 8000 + ((k * (13 + i) + 17 * i) % 12000)
            v = amp if (k // (2 + i % 3)) % 2 == 0 else -amp
        out.append(v)
    return out


def _audio_e_payload(i: int) -> bytes:
    import numpy as np

    n_samp, rate, layout = _AUDIO_E_PARAMS[i]
    s = np.array(_audio_e_signal(i, n_samp, layout), dtype=np.int16)
    return encode_wav(s, rate)


# Pinned per-clip statistics — generated ONCE by the independent scalar
# reference in scripts/gen_audio_energy_expected.py (own RIFF walk,
# sample-by-sample pure-Python energy/zero-crossing loop vs the
# engine's vectorized numpy) and re-derived there on every pytest run.
# Regenerate: PYTHONPATH=. python3 scripts/gen_audio_energy_expected.py
_AUDIO_E_EXPECTED = [
    (0, 8000, 1600, 10, 6, 131328627698, 48240717040, 434, 3),
    (1, 8000, 2400, 15, 7, 215955444835, 52426594720, 618, 0),
    (2, 16000, 1920, 12, 4, 244973727121, 56114181360, 453, 0),
    (3, 8000, 800, 5, 2, 107534754800, 46343699360, 292, 2),
    (4, 8000, 3200, 20, 6, 441303619411, 52281927920, 982, 0),
    (5, 11025, 1600, 10, 6, 112070252543, 50101143840, 445, 6),
    (6, 8000, 2080, 13, 5, 199364343109, 49732017520, 831, 0),
    (7, 8000, 1600, 10, 10, 873443, 88364, 531, -1),
    (8, 8000, 140, 0, 0, 0, 0, 0, -1),
    (9, 16000, 2400, 15, 5, 333644744563, 49625474720, 1094, 5),
]

_AUDIO_E_ORACLE = _pinned_oracle(_AUDIO_E_SCHEMA, _AUDIO_E_EXPECTED)



# ------------------------------------------------------- baseline TIFF codec
# Tenth native codec: baseline TIFF 6.0 RGB (the archival/scan format
# of the image column).  Both byte orders (II little- / MM big-endian),
# IFD entry walk with inline-vs-offset value resolution, multi-strip
# assembly, Compression 1 (none) and 32773 (PackBits RLE — the spec's
# own §9 algorithm).  Progressive feature axes TIFF allows but baseline
# RGB forbids (tiles, planar config 2, palette, LZW/JPEG-in-TIFF,
# non-8-bit samples) reject loudly by name.

def packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §9 PackBits: n in 0..127 -> copy n+1 literal bytes;
    n in -127..-1 (two's complement) -> repeat next byte 1-n times;
    -128 -> no-op.  Output length must land exactly on `expected`."""
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < expected:
        n = data[pos]
        pos += 1
        if n == 128:
            continue
        if n < 128:
            if pos + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out.extend(data[pos : pos + n + 1])
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out.extend(bytes([data[pos]]) * (257 - n))
            pos += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits decoded {len(out)} bytes, strip expects {expected}"
        )
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits encoder (runs >= 3 become repeat packets) — the
    usual formulation; any spec-conforming stream decodes identically,
    and tests pin the spec's own worked example against the decoder."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        # literal packet: extend until a run of >= 3 starts or 128 bytes
        j = i
        while j < n and j - i < 128:
            r = 1
            while j + r < n and data[j + r] == data[j] and r < 3:
                r += 1
            if r >= 3:
                break
            j += r
        j = min(j, i + 128)
        out.append(j - i - 1)
        out.extend(data[i:j])
        i = j
    return bytes(out)


def encode_tiff(rgb, packbits: bool = False, rows_per_strip: int = 5) -> bytes:
    """Build a real baseline little-endian RGB TIFF from an HxWx3 uint8
    array: header + strip data + out-of-line value arrays + IFD, tags
    ascending per spec, strips of rows_per_strip rows (final strip may
    be partial), Compression 1 or 32773."""
    import struct

    import numpy as np

    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    strips = []
    for r0 in range(0, h, rows_per_strip):
        raw = rgb[r0 : r0 + rows_per_strip].tobytes()
        strips.append(packbits_encode(raw) if packbits else raw)
    out = bytearray(struct.pack("<2sHI", b"II", 42, 0))
    offsets, counts = [], []
    for s in strips:
        offsets.append(len(out))
        counts.append(len(s))
        out.extend(s)
    if len(out) % 2:
        out.append(0)  # word-align value arrays

    def out_of_line(fmt: str, values) -> int:
        off = len(out)
        out.extend(struct.pack(f"<{len(values)}{fmt}", *values))
        if len(out) % 2:
            out.append(0)
        return off

    bps_off = out_of_line("H", (8, 8, 8))
    n = len(strips)
    so_val = offsets[0] if n == 1 else out_of_line("I", offsets)
    sc_val = counts[0] if n == 1 else out_of_line("I", counts)
    entries = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 3, bps_off),
        (259, 3, 1, 32773 if packbits else 1),
        (262, 3, 1, 2),
        (273, 4, n, so_val),
        (277, 3, 1, 3),
        (278, 4, 1, rows_per_strip),
        (279, 4, n, sc_val),
    ]
    ifd_off = len(out)
    out.extend(struct.pack("<H", len(entries)))
    for tag, typ, cnt, val in entries:
        if typ == 3 and cnt == 1:
            out.extend(struct.pack("<HHIHH", tag, typ, cnt, val, 0))
        else:
            out.extend(struct.pack("<HHII", tag, typ, cnt, val))
    out.extend(struct.pack("<I", 0))
    struct.pack_into("<I", out, 4, ifd_off)
    return bytes(out)


def decode_tiff(payload: bytes):
    """Baseline TIFF 6.0 RGB decoder: returns (width, height, HxWx3
    uint8 RGB).  Handles II and MM byte orders, inline and out-of-line
    IFD values, multi-strip assembly with a partial final strip, and
    Compression 1 / 32773 (PackBits); tiles, planar 2, palette,
    LZW/JPEG compression and non-8-bit samples reject by name.  Every
    read is bounds-checked — truncation raises ValueError."""
    import struct

    import numpy as np

    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload")
    e = "<" if payload[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack(f"{e}HI", payload[2:8])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")

    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF: IFD offset past end")
    # shared IFD machinery with parse_exif (tiff_ifd_tags below)
    tags = tiff_ifd_tags(payload, e, ifd_off)
    for required in (256, 257, 273, 279):
        if required not in tags:
            raise ValueError(f"missing required TIFF tag {required}")
    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF is not baseline")
    w, h = tags[256][0], tags[257][0]
    comp = tags.get(259, (1,))[0]
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp} (LZW/JPEG-class)")
    if tags.get(262, (2,))[0] != 2:
        raise ValueError("only PhotometricInterpretation=2 (RGB) supported")
    if tags.get(277, (3,))[0] != 3 or tuple(tags.get(258, (8, 8, 8))) != (8, 8, 8):
        raise ValueError("only 8-bit 3-sample RGB supported")
    if tags.get(284, (1,))[0] != 1:
        raise ValueError("planar configuration 2 is not baseline chunky")
    rps = tags.get(278, (h,))[0]
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    raw = bytearray()
    for si, (so, sc) in enumerate(zip(offsets, counts)):
        if so + sc > len(payload):
            raise ValueError(f"truncated TIFF: strip {si} past end")
        body = payload[so : so + sc]
        rows = min(rps, h - si * rps)
        if rows <= 0:
            raise ValueError("more strips than image rows")
        if comp == 32773:
            raw.extend(packbits_decode(body, rows * w * 3))
        else:
            if sc != rows * w * 3:
                raise ValueError(
                    f"strip {si} byte count {sc} != {rows * w * 3}"
                )
            raw.extend(body)
    if len(raw) != h * w * 3:
        raise ValueError(f"assembled {len(raw)} bytes, image needs {h * w * 3}")
    return w, h, np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, w, 3)


_N_TIFF = 12

# (w, h, packbits, rows_per_strip) — byte counts cycle the word-align
# paths, strips cover exact/partial finals and single-strip, both
# compressions interleave.
_TIFF_PARAMS = (
    (16, 12, False, 5), (15, 10, True, 5), (20, 15, True, 15),
    (9, 9, False, 2), (24, 10, True, 3), (7, 11, False, 11),
    (18, 12, True, 5), (13, 7, False, 3), (32, 8, True, 8),
    (11, 13, True, 6), (16, 16, False, 7), (21, 9, True, 2),
)


def _tiff_pixel(i: int, x: int, y: int, c: int) -> int:
    """Deterministic pixel formula with planted horizontal RUNS (the
    left third of every row is flat) so PackBits exercises both repeat
    and literal packets on every strip."""
    w = _TIFF_PARAMS[i][0]
    if x < w // 3:
        return (40 * c + 31 * i + y) % 256
    return (x * 3 + y * 5 + c * 7 + 11 * i) % 256


def _tiff_payload(i: int) -> bytes:
    import numpy as np

    w, h, pb, rps = _TIFF_PARAMS[i]
    img = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            for c in range(3):
                img[y, x, c] = _tiff_pixel(i, x, y, c)
    return encode_tiff(img, packbits=pb, rows_per_strip=rps)


_TIFF_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int, compressed int,"
    " sum_r bigint, sum_g bigint, sum_b bigint, ysum_g bigint, xsum_b bigint"
)


def _tiff_stats(mid: int, payload: bytes) -> list:
    """Decode a TIFF payload via the generic image seam; exact integer
    channel sums plus y-weighted green / x-weighted blue (the
    established anti-cancellation pair: plain sums are invariant under
    raster order and strip permutation, the weighted sums are not)."""
    import numpy as np

    w, h, rgb = decode_image(payload)
    a = rgb.astype(np.int64)
    yw = np.arange(h, dtype=np.int64)[:, None]
    xw = np.arange(w, dtype=np.int64)[None, :]
    return [
        (
            mid, w, h, int(_TIFF_PARAMS[mid][2]),
            int(a[:, :, 0].sum()), int(a[:, :, 1].sum()),
            int(a[:, :, 2].sum()),
            int((a[:, :, 1] * yw).sum()),
            int((a[:, :, 2] * xw).sum()),
        )
    ]


# Closed-form oracle: the pixel formula is shared with the oracle SQL
# (the PPM/BMP discipline — the oracle derives every sum from the
# formula and never sees a byte, so encoder+decoder bugs cannot cancel
# through it).  The piecewise run region makes the sums 2-segment.
def _tiff_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h}, {int(pb)}, {rps})"
        for i, (w, h, pb, rps) in enumerate(_TIFF_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h, compressed, rps) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, compressed, x, y, c,
             CASE WHEN x < w // 3
                  THEN (40 * c + 31 * media_id + y) % 256
                  ELSE (x * 3 + y * 5 + c * 7 + 11 * media_id) % 256
             END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y),
           unnest(generate_series(0, 2)) AS gc(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(any_value(compressed) AS INT) AS compressed,
           CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(sum(CASE WHEN c = 1 THEN y * v ELSE 0 END) AS BIGINT)
             AS ysum_g,
           CAST(sum(CASE WHEN c = 2 THEN x * v ELSE 0 END) AS BIGINT)
             AS xsum_b
    FROM px
    GROUP BY media_id
    ORDER BY media_id
    """




# ---------------------------------------------------------------- QOI codec
# The "Quite OK Image" format (Dominic Szablewski, qoiformat.org spec
# 1.0, 2022) — a single-pass byte-oriented codec whose six chunk ops
# (RGB/RGBA literals, 64-slot hash INDEX, 2-bit DIFF, LUMA, RUN) make
# it the cleanest public test of stateful byte-stream decoding: every
# pixel depends on the previous pixel AND a running hash table, so any
# drift corrupts everything after it — strong error amplification for
# the anti-symmetry discipline.  Eleventh native codec behind the
# decode_image seam.  (The reference is a data-loading pipeline
# [loader.py]; image decode is beyond-parity surface for multimodal
# curation, like PPM/BMP/TIFF/PNG/GIF/JPEG before it.)

_QOI_MAGIC = b"qoif"
_QOI_END = b"\x00\x00\x00\x00\x00\x00\x00\x01"


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(img, colorspace: int = 0) -> bytes:
    """Spec-faithful QOI encoder for an (h, w, 3|4) uint8 array, using
    the canonical op priority (RUN > INDEX > DIFF > LUMA > RGB/RGBA)
    so streams exercise every chunk type the pixel data admits."""
    import struct

    h, w, channels = img.shape
    if channels not in (3, 4):
        raise ValueError(f"QOI encodes 3 or 4 channels, got {channels}")
    out = bytearray()
    out += _QOI_MAGIC + struct.pack(">II", w, h) + bytes([channels, colorspace])
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    flat = img.reshape(h * w, channels)
    n = h * w
    for k in range(n):
        px = flat[k]
        r, g, b = int(px[0]), int(px[1]), int(px[2])
        a = int(px[3]) if channels == 4 else pa
        if (r, g, b, a) == (pr, pg, pb, pa):
            run += 1
            if run == 62 or k == n - 1:
                out.append(0xC0 | (run - 1))
                run = 0
        else:
            if run > 0:
                out.append(0xC0 | (run - 1))
                run = 0
            idx = _qoi_hash(r, g, b, a)
            if index[idx] == (r, g, b, a):
                out.append(idx)
            else:
                index[idx] = (r, g, b, a)
                if a == pa:
                    # signed wrap diffs (int8 semantics)
                    vr = ((r - pr + 128) % 256) - 128
                    vg = ((g - pg + 128) % 256) - 128
                    vb = ((b - pb + 128) % 256) - 128
                    if -2 <= vr <= 1 and -2 <= vg <= 1 and -2 <= vb <= 1:
                        out.append(0x40 | ((vr + 2) << 4) | ((vg + 2) << 2)
                                   | (vb + 2))
                    elif (-32 <= vg <= 31 and -8 <= vr - vg <= 7
                          and -8 <= vb - vg <= 7):
                        out.append(0x80 | (vg + 32))
                        out.append(((vr - vg + 8) << 4) | (vb - vg + 8))
                    else:
                        out += bytes([0xFE, r, g, b])
                else:
                    out += bytes([0xFF, r, g, b, a])
        pr, pg, pb, pa = r, g, b, a
    out += _QOI_END
    return bytes(out)


def decode_qoi(payload: bytes):
    """Parse + decode a QOI payload: returns (width, height, channels,
    (h, w, channels) uint8 numpy array).  Truncation, a bad magic, a
    pixel-count overrun/underrun, or a missing end marker all raise
    ValueError — never garbage pixels (the TIFF/ADPCM contract)."""
    import struct

    import numpy as np

    if len(payload) < 14 + len(_QOI_END):
        raise ValueError("QOI payload shorter than header + end marker")
    if payload[:4] != _QOI_MAGIC:
        raise ValueError("not a QOI payload (bad magic)")
    w, h = struct.unpack(">II", payload[4:12])
    channels, colorspace = payload[12], payload[13]
    if channels not in (3, 4):
        raise ValueError(f"QOI channels must be 3 or 4, got {channels}")
    if colorspace not in (0, 1):
        raise ValueError(f"QOI colorspace must be 0 or 1, got {colorspace}")
    if w == 0 or h == 0 or w * h > 50_000_000:
        raise ValueError(f"implausible QOI dimensions {w}x{h}")
    if payload[-len(_QOI_END):] != _QOI_END:
        raise ValueError("QOI end marker missing")
    data = payload[14:-len(_QOI_END)]
    n = w * h
    out = np.empty((n, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos, k = 0, 0
    dlen = len(data)
    while k < n:
        if pos >= dlen:
            raise ValueError(
                f"QOI stream exhausted at pixel {k} of {n} (truncated)"
            )
        byte = data[pos]
        pos += 1
        if byte == 0xFE:  # RGB
            if pos + 3 > dlen:
                raise ValueError("truncated QOI_OP_RGB chunk")
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif byte == 0xFF:  # RGBA
            if pos + 4 > dlen:
                raise ValueError("truncated QOI_OP_RGBA chunk")
            r, g, b, a = (
                data[pos], data[pos + 1], data[pos + 2], data[pos + 3]
            )
            pos += 4
        else:
            tag = byte >> 6
            if tag == 0:  # INDEX
                r, g, b, a = index[byte & 0x3F]
            elif tag == 1:  # DIFF
                r = (r + ((byte >> 4) & 3) - 2) % 256
                g = (g + ((byte >> 2) & 3) - 2) % 256
                b = (b + (byte & 3) - 2) % 256
            elif tag == 2:  # LUMA
                if pos + 1 > dlen:
                    raise ValueError("truncated QOI_OP_LUMA chunk")
                dg = (byte & 0x3F) - 32
                b2 = data[pos]
                pos += 1
                r = (r + dg + ((b2 >> 4) & 0xF) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (b2 & 0xF) - 8) % 256
            else:  # RUN
                run = (byte & 0x3F) + 1
                if k + run > n:
                    raise ValueError(
                        f"QOI run overruns image: pixel {k} + run {run} > {n}"
                    )
                out[k : k + run] = (r, g, b, a)
                k += run
                index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
                continue
        index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
        out[k] = (r, g, b, a)
        k += 1
    if pos != dlen:
        raise ValueError(
            f"QOI stream has {dlen - pos} trailing bytes after last pixel"
        )
    arr = out.reshape(h, w, 4)
    if channels == 3:
        arr = arr[:, :, :3]
    return int(w), int(h), int(channels), arr


# Fixture family: piecewise column bands plant every chunk type —
# band 0 flat (RUN), band 1 two-color alternation (INDEX), band 2 +1
# steps (DIFF), band 3 +8 green steps (LUMA), band/row seams (RGB),
# and per-row alpha sweeps on the 4-channel images (RGBA).  The pixel
# formula is shared verbatim with the oracle SQL (the TIFF/PPM
# discipline: the oracle derives every sum from the formula and never
# sees a byte, so encoder+decoder bugs cannot cancel through it).
_QOI_PARAMS = [
    # (width, height, channels)
    (48, 20, 3),
    (33, 17, 3),
    (24, 24, 4),
    (57, 9, 3),
    (16, 31, 4),
    (40, 12, 3),
]
_N_QOI = len(_QOI_PARAMS)


def _qoi_pixel(i: int, x: int, y: int, c: int) -> int:
    w = _QOI_PARAMS[i][0]
    if c == 3:
        return (y * 16 + 13 * i) % 256
    band = (4 * x) // w
    if band == 0:
        return (37 * i + 3 * c) % 256
    if band == 1:
        return ((x % 2) * 60 + 10 * c + 7 * i) % 256
    if band == 2:
        return (x + y + 30 * c + 5 * i) % 256
    return (8 * x + 20 * c + 11 * i) % 256


def _qoi_payload(i: int) -> bytes:
    import numpy as np

    w, h, ch = _QOI_PARAMS[i]
    yy, xx = np.mgrid[0:h, 0:w]
    band = (4 * xx) // w
    img = np.empty((h, w, ch), dtype=np.uint8)
    for c in range(min(ch, 3)):
        v = np.select(
            [band == 0, band == 1, band == 2],
            [
                np.full((h, w), (37 * i + 3 * c) % 256),
                (xx % 2) * 60 + 10 * c + 7 * i,
                xx + yy + 30 * c + 5 * i,
            ],
            default=8 * xx + 20 * c + 11 * i,
        )
        img[:, :, c] = (v % 256).astype(np.uint8)
    if ch == 4:
        img[:, :, 3] = ((yy * 16 + 13 * i) % 256).astype(np.uint8)
    return encode_qoi(img)


_RGBA_SCHEMA = (
    "media_id bigint NOT NULL, width int, height int, channels int,"
    " sum_r bigint, sum_g bigint, sum_b bigint, sum_a bigint,"
    " ysum_g bigint, xsum_b bigint"
)


def _rgba_stats(decode) -> Callable[[int, bytes], list]:
    """Row function for a ``decode(payload) -> (w, h, channels, arr)``
    image format: exact integer channel sums plus the y-weighted green
    / x-weighted blue anti-cancellation pair (a row-order, plane or
    channel-order bug flips them loudly).  For 3-channel images sum_a
    is the implicit opaque 255 * w * h."""

    def stats(mid: int, payload: bytes) -> list:
        import numpy as np

        w, h, ch, arr = decode(payload)
        a = arr.astype(np.int64)
        yw = np.arange(h, dtype=np.int64)[:, None]
        xw = np.arange(w, dtype=np.int64)[None, :]
        sum_a = int(a[:, :, 3].sum()) if ch == 4 else 255 * w * h
        return [
            (
                mid, w, h, ch,
                int(a[:, :, 0].sum()), int(a[:, :, 1].sum()),
                int(a[:, :, 2].sum()), sum_a,
                int((a[:, :, 1] * yw).sum()),
                int((a[:, :, 2] * xw).sum()),
            )
        ]

    return stats


def _qoi_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h}, {ch})" for i, (w, h, ch) in enumerate(_QOI_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h, ch) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, ch, x, y, c,
             CASE
               WHEN c = 3 THEN (y * 16 + 13 * media_id) % 256
               WHEN (4 * x) // w = 0 THEN (37 * media_id + 3 * c) % 256
               WHEN (4 * x) // w = 1
                 THEN ((x % 2) * 60 + 10 * c + 7 * media_id) % 256
               WHEN (4 * x) // w = 2
                 THEN (x + y + 30 * c + 5 * media_id) % 256
               ELSE (8 * x + 20 * c + 11 * media_id) % 256
             END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y),
           unnest(generate_series(0, ch - 1)) AS gc(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(any_value(ch) AS INT) AS channels,
           CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(sum(CASE WHEN c = 3 THEN v ELSE 0 END)
                + CASE WHEN any_value(ch) = 3
                       THEN 255 * any_value(w) * any_value(h)
                       ELSE 0 END AS BIGINT) AS sum_a,
           CAST(sum(CASE WHEN c = 1 THEN y * v ELSE 0 END) AS BIGINT)
             AS ysum_g,
           CAST(sum(CASE WHEN c = 2 THEN x * v ELSE 0 END) AS BIGINT)
             AS xsum_b
    FROM px
    GROUP BY media_id
    ORDER BY media_id
    """




# --------------------------------------------------------------- EXIF parse
# Image metadata extraction — the curation input upstream of any pixel
# work (orientation normalization, capture-time filtering, device
# dedup/attribution all read EXIF before anything decodes).  EXIF is a
# TIFF structure embedded in a JPEG APP1 segment, so the parser reuses
# the codec stack this file already ships: the generic IFD tag walker
# below serves both decode_tiff and parse_exif.

_EXIF_TYPE = {1: ("B", 1), 2: (None, 1), 3: ("H", 2), 4: ("I", 4)}


def tiff_ifd_tags(payload: bytes, e: str, ifd_off: int) -> dict:
    """Walk one TIFF IFD: tag -> tuple of values (BYTE/SHORT/LONG) or a
    NUL-stripped ASCII string (type 2), values inline or at offset per
    spec; unknown value types are skipped; every read bounds-checked."""
    import struct

    def read(fmt: str, off: int, size: int):
        if off + size > len(payload):
            raise ValueError("truncated TIFF/EXIF: read past end")
        return struct.unpack(f"{e}{fmt}", payload[off : off + size])

    (n_entries,) = read("H", ifd_off, 2)
    tags: dict = {}
    for k in range(n_entries):
        off = ifd_off + 2 + 12 * k
        tag, typ, cnt = read("HHI", off, 8)
        if typ not in _EXIF_TYPE:
            continue  # RATIONAL/SRATIONAL etc.: not needed here
        fmt, unit = _EXIF_TYPE[typ]
        size = unit * cnt
        voff = off + 8
        if size > 4:
            (voff,) = read("I", off + 8, 4)
        if typ == 2:
            if voff + cnt > len(payload):
                raise ValueError("truncated TIFF/EXIF: ASCII past end")
            tags[tag] = (
                payload[voff : voff + cnt].split(b"\x00")[0].decode("ascii")
            )
        else:
            tags[tag] = read(f"{cnt}{fmt}", voff, size)
    return tags


def build_exif_app1(
    make: str,
    datetime_s: str,
    orientation: int,
    pixel_w: int,
    pixel_h: int,
    iso: int,
) -> bytes:
    """A real APP1 Exif segment: little-endian TIFF header, IFD0 with
    Make(271)/Orientation(274)/DateTime(306)/ExifIFDPointer(34665), and
    the Exif sub-IFD with PixelXDimension(40962)/PixelYDimension(40963)
    /ISOSpeedRatings(34855) — the layout every camera writes."""
    import struct

    make_b = make.encode("ascii") + b"\x00"
    dt_b = datetime_s.encode("ascii") + b"\x00"
    # TIFF block layout: header(8) | IFD0 | subIFD | make | datetime
    ifd0_off = 8
    ifd0_sz = 2 + 4 * 12 + 4
    sub_off = ifd0_off + ifd0_sz
    sub_sz = 2 + 3 * 12 + 4
    make_off = sub_off + sub_sz
    dt_off = make_off + len(make_b)

    def entry(tag, typ, cnt, val, inline_fmt=None):
        if inline_fmt:  # value packed into the 4-byte field
            pad = {"H": struct.pack("<HH", val, 0), "I": struct.pack("<I", val)}
            return struct.pack("<HHI", tag, typ, cnt) + pad[inline_fmt]
        return struct.pack("<HHII", tag, typ, cnt, val)

    ifd0 = struct.pack("<H", 4)
    ifd0 += entry(271, 2, len(make_b), make_off)
    ifd0 += entry(274, 3, 1, orientation, inline_fmt="H")
    ifd0 += entry(306, 2, len(dt_b), dt_off)
    ifd0 += entry(34665, 4, 1, sub_off, inline_fmt="I")
    ifd0 += struct.pack("<I", 0)
    sub = struct.pack("<H", 3)
    sub += entry(34855, 3, 1, iso, inline_fmt="H")
    sub += entry(40962, 4, 1, pixel_w, inline_fmt="I")
    sub += entry(40963, 4, 1, pixel_h, inline_fmt="I")
    sub += struct.pack("<I", 0)
    tiff = struct.pack("<2sHI", b"II", 42, ifd0_off) + ifd0 + sub + make_b + dt_b
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def parse_exif(payload: bytes) -> dict:
    """Extract EXIF metadata from a JPEG payload: walks the marker
    stream (fill bytes and standalone markers skipped per T.81, the
    decode_jpeg discipline), finds the APP1 "Exif" segment, and parses
    its embedded TIFF block (II or MM).  Returns {make, datetime,
    orientation, pixel_w, pixel_h, iso} with None for absent tags;
    raises ValueError on corrupt structures, or if no EXIF is present."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    body = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker desync in JPEG stream")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no EXIF ahead of scan
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if seglen < 2 or pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment while scanning for EXIF")
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            body = payload[pos + 10 : pos + 2 + seglen]
            break
        pos += 2 + seglen
    if body is None:
        raise ValueError("no EXIF APP1 segment")
    if len(body) < 8 or body[:2] not in (b"II", b"MM"):
        raise ValueError("bad EXIF TIFF header")
    e = "<" if body[:2] == b"II" else ">"
    magic, ifd0_off = struct.unpack(f"{e}HI", body[2:8])
    if magic != 42:
        raise ValueError(f"bad EXIF TIFF magic {magic}")
    tags = tiff_ifd_tags(body, e, ifd0_off)
    out = {
        "make": tags.get(271),
        "datetime": tags.get(306),
        "orientation": tags[274][0] if 274 in tags else None,
        "pixel_w": None,
        "pixel_h": None,
        "iso": None,
    }
    if 34665 in tags:
        sub = tiff_ifd_tags(body, e, tags[34665][0])
        out["pixel_w"] = sub[40962][0] if 40962 in sub else None
        out["pixel_h"] = sub[40963][0] if 40963 in sub else None
        out["iso"] = sub[34855][0] if 34855 in sub else None
    return out


def _exif_meta(i: int) -> dict:
    """Planted metadata for fixture i (pure formula — shared by the
    builder, the pinned oracle constants, and the tests)."""
    return {
        "make": f"CAM{i % 4}",
        "datetime": f"20{10 + i % 10}:{1 + i % 9:02d}:{1 + i % 27:02d} "
                    f"{i % 24:02d}:{(7 * i) % 60:02d}:{(11 * i) % 60:02d}",
        "orientation": 1 + i % 8,
        "iso": 100 * (1 + i % 6),
    }


def _exif_payload(i: int) -> bytes:
    """The block-constant JPEG fixture i with a REAL APP1 Exif segment
    spliced in after SOI — pixel dimensions in the Exif sub-IFD are set
    to the true image dims, so the graded row cross-checks the metadata
    against the image geometry."""
    p = _jpeg_params(i)
    m = _exif_meta(i)
    payload = _jpeg_payload(i)
    app1 = build_exif_app1(
        m["make"], m["datetime"], m["orientation"], p["w"], p["h"], m["iso"],
    )
    return payload[:2] + app1 + payload[2:]


_EXIF_SCHEMA = (
    "media_id bigint NOT NULL, make string, orientation int, pixel_w int,"
    " pixel_h int, iso int, year int, month int"
)


def _exif_stats(mid: int, payload: bytes) -> list:
    """Parse EXIF from a payload; year/month split out of the EXIF
    datetime string so the graded columns are integers + short strings."""
    x = parse_exif(payload)
    return [
        (
            mid, x["make"], x["orientation"], x["pixel_w"], x["pixel_h"],
            x["iso"], int(x["datetime"][0:4]), int(x["datetime"][5:7]),
        )
    ]


def _exif_oracle() -> str:
    rows = []
    for i in range(_N_JPEG):
        p = _jpeg_params(i)
        m = _exif_meta(i)
        rows.append(
            (i, m["make"], m["orientation"], p["w"], p["h"], m["iso"],
             int(m["datetime"][0:4]), int(m["datetime"][5:7]))
        )
    return _pinned_oracle(_EXIF_SCHEMA, rows)




# ---------------------------------------------------------------- TGA codec
# Truevision TGA/TARGA (the 1984 Truevision spec, v2.0 1991) — the
# classic little-endian raster container: an 18-byte header, BGR(A)
# pixel data either raw (type 2) or run-length encoded (type 10, 128-
# pixel packets that never cross a scan line when spec-conformant),
# bottom-up row order unless descriptor bit 5 is set, and the optional
# v2 footer ("TRUEVISION-XFILE.\\0") that is the format's only
# detectable signature.  Twelfth native codec behind the decode_image
# seam.  (The reference is a data-loading pipeline [loader.py]; image
# decode is beyond-parity surface for multimodal curation, like
# PPM/BMP/TIFF/PNG/GIF/JPEG/QOI before it.)

_TGA_FOOTER = b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"


def encode_tga(img, rle: bool = False, topdown: bool = False) -> bytes:
    """Spec-faithful TGA encoder for an (h, w, 3|4) uint8 RGB(A) array:
    type 2 (raw) or type 10 (RLE, per-scan-line 128-pixel packets),
    bottom-up unless ``topdown``, BGR(A) byte order, v2 footer."""
    import struct

    h, w, channels = img.shape
    if channels not in (3, 4):
        raise ValueError(f"TGA encodes 3 or 4 channels, got {channels}")
    bpp = channels * 8
    descriptor = (0x20 if topdown else 0) | (8 if channels == 4 else 0)
    out = bytearray()
    out += struct.pack(
        "<BBBHHBHHHHBB",
        0, 0, 10 if rle else 2,  # no id, no colormap, type
        0, 0, 0,                 # colormap spec (none)
        0, 0, w, h, bpp, descriptor,
    )
    rows = img if topdown else img[::-1]
    for row in rows:
        # RGB(A) -> BGR(A)
        bgr = row[:, [2, 1, 0] + ([3] if channels == 4 else [])]
        if not rle:
            out += bgr.tobytes()
            continue
        px = [bytes(p) for p in bgr]
        x = 0
        while x < w:
            run = 1
            while x + run < w and run < 128 and px[x + run] == px[x]:
                run += 1
            if run >= 2:
                out.append(0x80 | (run - 1))
                out += px[x]
                x += run
            else:
                lit = 1
                while (
                    x + lit < w and lit < 128
                    and (x + lit + 1 >= w or px[x + lit + 1] != px[x + lit])
                ):
                    lit += 1
                out.append(lit - 1)
                out += b"".join(px[x : x + lit])
                x += lit
    out += _TGA_FOOTER
    return bytes(out)


def decode_tga(payload: bytes):
    """Parse + decode a TGA payload: returns (width, height, channels,
    (h, w, channels) uint8 RGB(A) numpy array, rows top-down).  A short
    header, colormap, unsupported image type / bit depth / right-to-left
    order, truncated pixel data, an RLE overrun, or trailing garbage all
    raise ValueError — never garbage pixels (the TIFF/QOI contract)."""
    import struct

    import numpy as np

    if len(payload) < 18:
        raise ValueError("TGA payload shorter than the 18-byte header")
    (idlen, cmap_type, img_type, _cm_first, _cm_len, _cm_bits,
     _x0, _y0, w, h, bpp, descriptor) = struct.unpack(
        "<BBBHHBHHHHBB", payload[:18]
    )
    if cmap_type != 0:
        raise ValueError("color-mapped TGA is not supported (cmap_type != 0)")
    if img_type not in (2, 10):
        raise ValueError(
            f"unsupported TGA image type {img_type} (only 2/10 truecolor)"
        )
    if bpp not in (24, 32):
        raise ValueError(f"unsupported TGA bit depth {bpp} (only 24/32)")
    if w == 0 or h == 0 or w * h > 50_000_000:
        raise ValueError(f"implausible TGA dimensions {w}x{h}")
    if descriptor & 0x10:
        raise ValueError("right-to-left TGA pixel order is not supported")
    channels = bpp // 8
    pos = 18 + idlen
    if pos > len(payload):
        raise ValueError("TGA id field overruns the payload")
    # Strip the 26-byte v2 footer whenever the 18-byte XFILE signature
    # matches — mirroring the format seam's detection (decode_image) —
    # rather than requiring the extension/developer offsets to be zero;
    # a spec-valid TGA v2 with nonzero offsets still carries the footer.
    body = (
        payload[:-26]
        if len(payload) >= 26 and payload[-18:] == b"TRUEVISION-XFILE.\x00"
        else payload
    )
    if pos > len(body):
        raise ValueError("TGA id field overruns the pixel data")
    n = w * h
    if img_type == 2:
        need = n * channels
        if pos + need > len(body):
            raise ValueError(
                f"truncated TGA pixel data: need {need} bytes,"
                f" have {len(body) - pos}"
            )
        flat = np.frombuffer(
            body, dtype=np.uint8, count=need, offset=pos
        ).reshape(n, channels).copy()
        pos += need
    else:
        flat = np.empty((n, channels), dtype=np.uint8)
        k = 0
        blen = len(body)
        while k < n:
            if pos >= blen:
                raise ValueError(
                    f"TGA RLE stream exhausted at pixel {k} of {n}"
                )
            hdr = body[pos]
            pos += 1
            count = (hdr & 0x7F) + 1
            if k + count > n:
                raise ValueError(
                    f"TGA RLE packet overruns image: {k} + {count} > {n}"
                )
            if hdr & 0x80:
                if pos + channels > blen:
                    raise ValueError("truncated TGA RLE pixel value")
                flat[k : k + count] = np.frombuffer(
                    body, dtype=np.uint8, count=channels, offset=pos
                )
                pos += channels
            else:
                need = count * channels
                if pos + need > blen:
                    raise ValueError("truncated TGA raw packet")
                flat[k : k + count] = np.frombuffer(
                    body, dtype=np.uint8, count=need, offset=pos
                ).reshape(count, channels)
                pos += need
            k += count
    if pos != len(body):
        raise ValueError(
            f"TGA stream has {len(body) - pos} trailing bytes"
        )
    # BGR(A) -> RGB(A); bottom-up unless descriptor bit 5
    arr = flat.reshape(h, w, channels)[
        :, :, [2, 1, 0] + ([3] if channels == 4 else [])
    ]
    if not descriptor & 0x20:
        arr = arr[::-1]
    return int(w), int(h), int(channels), np.ascontiguousarray(arr)


# Fixture family: the piecewise column-band formula (flat band ->
# long RLE runs, alternation band -> raw packets, gradient bands ->
# mixed packets), in FINAL top-down image coordinates so orientation
# handling cannot cancel between encoder and decoder; constants differ
# from the QOI family so a cross-wired fixture would be caught.  Both
# image types, both bit depths, and both row orders appear.
_TGA_PARAMS = [
    # (width, height, channels, rle, topdown)
    (44, 18, 3, False, False),
    (30, 22, 3, True, False),
    (25, 16, 4, True, True),
    (52, 11, 3, True, False),
    (19, 27, 4, False, True),
    (36, 14, 3, True, True),
]
_N_TGA = len(_TGA_PARAMS)


def _tga_payload(i: int) -> bytes:
    import numpy as np

    w, h, ch, rle, topdown = _TGA_PARAMS[i]
    yy, xx = np.mgrid[0:h, 0:w]
    band = (4 * xx) // w
    img = np.empty((h, w, ch), dtype=np.uint8)
    for c in range(min(ch, 3)):
        v = np.select(
            [band == 0, band == 1, band == 2],
            [
                np.full((h, w), (23 * i + 9 * c) % 256),
                (xx % 2) * 90 + 14 * c + 5 * i,
                2 * xx + 3 * yy + 17 * c + 8 * i,
            ],
            default=7 * xx + 31 * c + 13 * i,
        )
        img[:, :, c] = (v % 256).astype(np.uint8)
    if ch == 4:
        img[:, :, 3] = ((9 * xx + 5 * yy + 3 * i) % 256).astype(np.uint8)
    return encode_tga(img, rle=rle, topdown=topdown)


def _tga_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h}, {ch})"
        for i, (w, h, ch, _rle, _td) in enumerate(_TGA_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h, ch) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, ch, x, y, c,
             CASE
               WHEN c = 3 THEN (9 * x + 5 * y + 3 * media_id) % 256
               WHEN (4 * x) // w = 0 THEN (23 * media_id + 9 * c) % 256
               WHEN (4 * x) // w = 1
                 THEN ((x % 2) * 90 + 14 * c + 5 * media_id) % 256
               WHEN (4 * x) // w = 2
                 THEN (2 * x + 3 * y + 17 * c + 8 * media_id) % 256
               ELSE (7 * x + 31 * c + 13 * media_id) % 256
             END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y),
           unnest(generate_series(0, ch - 1)) AS gc(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(any_value(ch) AS INT) AS channels,
           CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(sum(CASE WHEN c = 3 THEN v ELSE 0 END)
                + CASE WHEN any_value(ch) = 3
                       THEN 255 * any_value(w) * any_value(h)
                       ELSE 0 END AS BIGINT) AS sum_a,
           CAST(sum(CASE WHEN c = 1 THEN y * v ELSE 0 END) AS BIGINT)
             AS ysum_g,
           CAST(sum(CASE WHEN c = 2 THEN x * v ELSE 0 END) AS BIGINT)
             AS xsum_b
    FROM px
    GROUP BY media_id
    ORDER BY media_id
    """




# --------------------------------------------------- perceptual image dedup
# Average-hash (aHash) near-duplicate detection — the standard cheap
# perceptual fingerprint (the technique behind pHash-family image
# dedup, run before any embedding model): downsample to an 8x8 block
# grid, threshold each block mean against the global mean, pack the 64
# bits, and compare fingerprints by Hamming distance.  Bridges the
# codec surface and the dedup surface: payloads decode through
# decode_tga, hashes ride exact integer cross-multiplication
# (block_sum * 64 > total_sum — equal-size blocks make the mean of
# block means the global mean), and the pair frame is |images|^2 over
# a bounded family (the dedup_embedding slice discipline; production
# pair source at corpus scale is LSH banding over the hash bytes).
_AHASH_COEFFS = [
    # (a, b, invert_first_block): stripe direction/frequency per image;
    # 4/5 are clones of 0/1 with ONE 4x2 block inverted (Hamming 1)
    (1, 0, 0), (0, 1, 0), (1, 1, 0), (2, 1, 0),
    (1, 0, 1), (0, 1, 1), (3, 1, 0), (1, 3, 0),
]
_AHASH_W, _AHASH_H = 32, 16
_AHASH_DUP_BITS = 5


def _ahash_gray(i: int):
    """The closed-form fixture pattern (shared verbatim with the
    oracle SQL): 255 * (((x*a + y*b) div 8) mod 2), with image i's one
    inverted block when flagged."""
    import numpy as np

    a, b, inv = _AHASH_COEFFS[i]
    yy, xx = np.mgrid[0:_AHASH_H, 0:_AHASH_W]
    g = 255 * (((xx * a + yy * b) // 8) % 2)
    if inv:
        g = np.where((xx < 4) & (yy < 2), 255 - g, g)
    return g.astype(np.uint8)


def _gray_tga(g, i: int) -> bytes:
    """Gray fixture ``g`` of image i as a 3-channel TGA (RLE for odd i,
    top-down when i // 2 is odd)."""
    import numpy as np

    img = np.repeat(g[:, :, None], 3, axis=2)
    return encode_tga(img, rle=bool(i % 2), topdown=bool((i // 2) % 2))


def _ahash_payload(i: int) -> bytes:
    return _gray_tga(_ahash_gray(i), i)


_FINGERPRINT_SCHEMA = "media_id bigint, hash_hi bigint, hash_lo bigint"


def _ahash_stats(mid: int, payload: bytes) -> list:
    """Decode a TGA payload and compute the 64-bit aHash as two 32-bit
    BIGINT halves (bits 32..63 stored unshifted so no value touches the
    int64 sign bit; XOR + bit_count work unchanged on halves)."""
    import numpy as np

    _w, _h, _ch, arr = decode_tga(payload)
    g = arr[:, :, 0].astype(np.int64)  # channels are equal
    blocks = g.reshape(8, _AHASH_H // 8, 8, _AHASH_W // 8).sum(axis=(1, 3))
    bits = (blocks.flatten() * 64 > g.sum()).astype(np.int64)
    lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
    hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
    return [(mid, hi, lo)]


def _ahash_pairs(fps: DataFrame) -> DataFrame:
    a = fps.selectExpr("media_id AS media_a", "hash_hi AS ha", "hash_lo AS la")
    b = fps.selectExpr("media_id AS media_b", "hash_hi AS hb", "hash_lo AS lb")
    return (
        a.join(b, F.col("media_a") < F.col("media_b"))
        .selectExpr(
            "media_a", "media_b",
            "CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS INT)"
            " AS hamming",
        )
        .selectExpr(
            "media_a", "media_b", "hamming",
            f"hamming <= {_AHASH_DUP_BITS} AS is_dup",
        )
        .orderBy("media_a", "media_b")
    )


def _ahash_oracle() -> str:
    rows = ", ".join(
        f"({i}, {a}, {b}, {inv})"
        for i, (a, b, inv) in enumerate(_AHASH_COEFFS)
    )
    return f"""
    WITH params(i, a, b, inv) AS (VALUES {rows}),
    px AS (
      SELECT i, x, y,
             CASE WHEN inv = 1 AND x < 4 AND y < 2
                  THEN 255 - 255 * (((x * a + y * b) // 8) % 2)
                  ELSE 255 * (((x * a + y * b) // 8) % 2) END AS v
      FROM params,
           unnest(generate_series(0, {_AHASH_W} - 1)) AS gx(x),
           unnest(generate_series(0, {_AHASH_H} - 1)) AS gy(y)
    ),
    blocks AS (
      SELECT i, (y // 2) * 8 + (x // 4) AS blk,
             CAST(sum(v) AS BIGINT) AS bs,
             CAST(sum(sum(v)) OVER (PARTITION BY i) AS BIGINT) AS total
      FROM px GROUP BY i, (y // 2) * 8 + (x // 4)
    ),
    fp AS (
      SELECT i AS media_id,
             CAST(sum(CASE WHEN blk >= 32 AND bs * 64 > total
                  THEN (CAST(1 AS BIGINT) << (blk - 32)) ELSE 0 END)
               AS BIGINT) AS hash_hi,
             CAST(sum(CASE WHEN blk < 32 AND bs * 64 > total
                  THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END)
               AS BIGINT) AS hash_lo
      FROM blocks GROUP BY i
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                + bit_count(xor(a.hash_lo, b.hash_lo)) AS INT) AS hamming,
           (bit_count(xor(a.hash_hi, b.hash_hi))
            + bit_count(xor(a.hash_lo, b.hash_lo))) <= {_AHASH_DUP_BITS}
             AS is_dup
    FROM fp a JOIN fp b ON a.media_id < b.media_id
    ORDER BY media_a, media_b
    """




# ------------------------------------------------ DCT perceptual hash
# pHash (DCT perceptual hash) near-duplicate detection — the
# frequency-domain upgrade of dedup_image_ahash: aHash thresholds
# 8x8 block means against the global mean, so a nonlinear brightness
# edit (gamma) that moves near-mean flat regions across the global
# mean flips a large fraction of its bits while leaving the image
# perceptually identical; pHash instead ranks the 8x8 LOW-FREQUENCY
# 2-D DCT coefficients of the 32x32 luma (bit = coefficient among the
# per-image top-32 by (value, position) order — the median-threshold
# form with a deterministic tiebreak), whose dominant-structure signs
# a monotone point edit barely moves.  The planted fixture pair
# (image 0 -> gamma edit 1) measures Hamming 2 under pHash and 32
# under aHash — the miss the round-14 verdict named, pinned by
# tests/test_round15_ops.py.
#
# ALL-INTEGER DCT: the 8x32 DCT-II basis is rounded to 2^14-scaled
# integers ONCE at import (math.cos in this process feeds BOTH the
# Arrow kernel's matrices and the oracle's literal VALUES table, so
# the engines share identical constants and every coefficient is an
# exact int64 — |coeff| <= 255 * 2^28 * 1024 < 2^63; the float-cosine
# cross-engine ulp hazard never enters).
#
# 100 TB shape: fingerprints are one Arrow mapInPandas pass (decode ->
# 32x32 luma -> two integer matmuls -> rank mask); the pair stage is
# BANDED, not all-pairs — 8 bands x 8 bits, so any pair at Hamming
# <= 7 shares a band by pigeonhole (threshold 3 << 7), and the join
# meets on (band, value) keys exactly like the MinHash LSH banding.
_PHASH_N = 8
_PHASH_DUP_BITS = 3
_PHASH_BANDS = 8
_PHASH_DCT = [
    [
        round(math.cos(math.pi * (2 * x + 1) * u / 64) * (1 << 14))
        for x in range(32)
    ]
    for u in range(8)
]


def _phash_gray(i: int):
    """Closed-form 32x32 fixture luma (shared verbatim with the oracle
    SQL): stripe/checker/ramp bases; images 1 and 5 are integer-gamma
    (v*v)//255 edits of bases 0 and 2."""
    import numpy as np

    yy, xx = np.mgrid[0:32, 0:32]
    fam = {0: 0, 1: 0, 2: 2, 5: 2}.get(i, i)
    if fam == 0:
        g = np.where(xx < 16, np.where((xx // 4) % 2 == 1, 220, 20), 128)
    elif fam == 2:
        g = np.where((yy // 4) % 2 == 1, 200, 40) + 0 * xx
    elif i == 3:
        g = np.where((xx // 8) % 2 == 1, 230, 25) + 0 * yy
    elif i == 4:
        g = 255 * (((xx // 16) + (yy // 16)) % 2)
    elif i == 6:
        g = ((xx + yy) * 255) // 62
    else:
        g = 255 - ((xx + yy) * 255) // 62
    g = g.astype(np.int64)
    if i in (1, 5):
        g = (g * g) // 255
    return g.astype(np.uint8)


def _phash_payload(i: int) -> bytes:
    return _gray_tga(_phash_gray(i), i)


def _phash_stats(mid: int, payload: bytes) -> list:
    """Decode a TGA payload and compute the 64-bit DCT pHash as two
    32-bit BIGINT halves (bit pos = u*8 + v over the low 8x8 DCT
    block; bit = 1 iff the coefficient ranks in the per-image top 32
    under ascending (coeff, pos) order — row_number() > 32 in the
    oracle's window form)."""
    import numpy as np

    basis = np.array(_PHASH_DCT, dtype=np.int64)
    _w, _h, _ch, arr = decode_tga(payload)
    g = arr[:, :, 0].astype(np.int64)
    c = (basis @ g @ basis.T).flatten()
    order = np.lexsort((np.arange(64), c))
    bits = np.zeros(64, dtype=np.int64)
    bits[order[32:]] = 1
    lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
    hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
    return [(mid, hi, lo)]


def _phash_pairs(fps: DataFrame) -> DataFrame:
    from dblab_ece_trino_spark.session import materialize

    fps = materialize(fps)
    # 8 bands x 8 bits: any pair at Hamming <= 7 shares a band
    band_expr = (
        "transform(sequence(0, {b} - 1), b -> named_struct("
        "'band', b, 'bv', CASE WHEN b < 4"
        " THEN shiftright(hash_lo, 8 * b) & 255"
        " ELSE shiftright(hash_hi, 8 * (b - 4)) & 255 END))"
    ).format(b=_PHASH_BANDS)
    banded = fps.select(
        "media_id", F.explode(F.expr(band_expr)).alias("bk")
    ).select("media_id", "bk.band", "bk.bv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
        )
        .distinct()
    )
    fa = fps.selectExpr("media_id AS media_a", "hash_hi ha", "hash_lo la")
    fb = fps.selectExpr("media_id AS media_b", "hash_hi hb", "hash_lo lb")
    return (
        cand.join(fa, "media_a")
        .join(fb, "media_b")
        .selectExpr(
            "media_a", "media_b",
            "CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS INT)"
            " AS hamming",
        )
        .selectExpr(
            "media_a", "media_b", "hamming",
            f"hamming <= {_PHASH_DUP_BITS} AS is_dup",
        )
        .orderBy("media_a", "media_b")
    )


def _phash_oracle() -> str:
    basis_rows = ", ".join(
        f"({u}, {x}, {c})"
        for u, row in enumerate(_PHASH_DCT)
        for x, c in enumerate(row)
    )
    return f"""
    WITH basis(u, x, c) AS (VALUES {basis_rows}),
    raw AS (
      SELECT i, x, y,
             CASE
               WHEN i IN (0, 1) THEN
                 CASE WHEN x < 16 THEN
                   CASE WHEN (x // 4) % 2 = 1 THEN 220 ELSE 20 END
                 ELSE 128 END
               WHEN i IN (2, 5) THEN
                 CASE WHEN (y // 4) % 2 = 1 THEN 200 ELSE 40 END
               WHEN i = 3 THEN
                 CASE WHEN (x // 8) % 2 = 1 THEN 230 ELSE 25 END
               WHEN i = 4 THEN 255 * (((x // 16) + (y // 16)) % 2)
               WHEN i = 6 THEN ((x + y) * 255) // 62
               ELSE 255 - ((x + y) * 255) // 62
             END AS v0
      FROM unnest(generate_series(0, {_PHASH_N} - 1)) AS gi(i),
           unnest(generate_series(0, 31)) AS gx(x),
           unnest(generate_series(0, 31)) AS gy(y)
    ),
    px AS (
      SELECT i, x, y,
             CASE WHEN i IN (1, 5) THEN (v0 * v0) // 255 ELSE v0 END AS v
      FROM raw
    ),
    co AS (
      SELECT px.i, bv.u * 8 + bu.u AS pos,
             sum(CAST(px.v AS BIGINT) * bu.c * bv.c) AS coeff
      FROM px
      JOIN basis bu ON bu.x = px.x
      JOIN basis bv ON bv.x = px.y
      GROUP BY px.i, bv.u * 8 + bu.u
    ),
    bits AS (
      SELECT i, pos,
             CASE WHEN row_number() OVER (
               PARTITION BY i ORDER BY coeff, pos) > 32
             THEN 1 ELSE 0 END AS bit
      FROM co
    ),
    fp AS (
      SELECT i AS media_id,
             CAST(sum(CASE WHEN pos >= 32 AND bit = 1
                  THEN (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END)
               AS BIGINT) AS hash_hi,
             CAST(sum(CASE WHEN pos < 32 AND bit = 1
                  THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END)
               AS BIGINT) AS hash_lo
      FROM fp_src GROUP BY i
    ),
    bands AS (
      SELECT media_id, b,
             CASE WHEN b < 4 THEN (hash_lo >> (8 * b)) & 255
                  ELSE (hash_hi >> (8 * (b - 4))) & 255 END AS bv
      FROM fp, unnest(generate_series(0, {_PHASH_BANDS} - 1)) AS gb(b)
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bv = b.bv AND a.media_id < b.media_id
    )
    SELECT c.media_a, c.media_b,
           CAST(bit_count(xor(fa.hash_hi, fb.hash_hi))
                + bit_count(xor(fa.hash_lo, fb.hash_lo)) AS INT)
             AS hamming,
           (bit_count(xor(fa.hash_hi, fb.hash_hi))
            + bit_count(xor(fa.hash_lo, fb.hash_lo)))
             <= {_PHASH_DUP_BITS} AS is_dup
    FROM cand c
    JOIN fp fa ON fa.media_id = c.media_a
    JOIN fp fb ON fb.media_id = c.media_b
    ORDER BY media_a, media_b
    """.replace("FROM fp_src", "FROM bits")




# ------------------------------------------------ histogram equalization
_HIST_EQ_SCHEMA = (
    "media_id bigint, width int, height int, in_sum bigint, eq_sum bigint,"
    " eq_min bigint, eq_max bigint, eq_ysum bigint"
)


def _hist_eq_stats(mid: int, payload: bytes) -> list:
    """Histogram equalization (the textbook global contrast transform —
    Gonzalez & Woods ch. 3; the standard normalization pass before
    classical feature extraction) over a decoded TGA payload, channel 0:

        eq(v) = (cdf(v) - cdf_min) * 255 // (n_px - cdf_min)

    — the integer form of the classic formula, all arithmetic exact so
    both engines replay it bit-identically.  Emits per-image input/
    output sums, the equalized min/max (a correct equalization
    stretches the fixture family to the full [0, 255] range), and the
    y-weighted output sum (the anti-cancellation column: a row-order
    bug moves it, plain sums don't).

    100 TB shape: decode + equalize + stats in ONE Arrow mapInPandas
    pass (per-file work, no shuffle); the oracle replays the transform
    relationally — histogram GROUP BY, one cumulative window over the
    <=256-row value frame per image, remap join.
    """
    import numpy as np

    w, h, _ch, arr = decode_tga(payload)
    g = arr[:, :, 0].astype(np.int64)
    npx = w * h
    hist = np.bincount(g.flatten(), minlength=256)
    cdf = hist.cumsum()
    cdfmin = int(cdf[np.nonzero(hist)[0][0]])
    if npx == cdfmin:
        # Constant-valued channel: every pixel is one value, so cdf_min
        # == n_px and the classic denominator is zero.  Equalization of
        # a constant image is the identity up to an arbitrary level;
        # emit 0 (the same exact-zero-guard discipline as the moments
        # profile's constant-series NULLs).
        eq = np.zeros(256, dtype=np.int64)
    else:
        eq = (cdf - cdfmin) * 255 // (npx - cdfmin)
    o = eq[g]
    yw = np.arange(h, dtype=np.int64)[:, None]
    return [
        (mid, w, h, int(g.sum()), int(o.sum()), int(o.min()), int(o.max()),
         int((o * yw).sum()))
    ]


def _hist_eq_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h})"
        for i, (w, h, _ch, _rle, _td) in enumerate(_TGA_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, x, y,
             CASE
               WHEN (4 * x) // w = 0 THEN (23 * media_id) % 256
               WHEN (4 * x) // w = 1
                 THEN ((x % 2) * 90 + 5 * media_id) % 256
               WHEN (4 * x) // w = 2
                 THEN (2 * x + 3 * y + 8 * media_id) % 256
               ELSE (7 * x + 13 * media_id) % 256
             END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y)
    ),
    hist AS (
      SELECT media_id, v, CAST(count(*) AS BIGINT) AS n
      FROM px GROUP BY media_id, v
    ),
    cdf AS (
      SELECT media_id, v,
             CAST(sum(n) OVER (PARTITION BY media_id ORDER BY v)
               AS BIGINT) AS c,
             CAST(sum(n) OVER (PARTITION BY media_id) AS BIGINT) AS npx
      FROM hist
    ),
    remap AS (
      -- min of the cumulative counts over present values IS cdf at the
      -- first present value (windows cannot nest, so second pass)
      SELECT media_id, v,
             (c - min(c) OVER (PARTITION BY media_id)) * 255
               // (npx - min(c) OVER (PARTITION BY media_id)) AS eq
      FROM cdf
    )
    SELECT p.media_id,
           CAST(any_value(p.w) AS INT) AS width,
           CAST(any_value(p.h) AS INT) AS height,
           CAST(sum(p.v) AS BIGINT) AS in_sum,
           CAST(sum(r.eq) AS BIGINT) AS eq_sum,
           CAST(min(r.eq) AS BIGINT) AS eq_min,
           CAST(max(r.eq) AS BIGINT) AS eq_max,
           CAST(sum(p.y * r.eq) AS BIGINT) AS eq_ysum
    FROM px p JOIN remap r ON r.media_id = p.media_id AND r.v = p.v
    GROUP BY p.media_id
    ORDER BY p.media_id
    """




# --------------------------------------------------- audio decimation
_RATE_OUT_SCHEMA = (
    "media_id bigint, rate_out int, n_out bigint, sum_out bigint,"
    " sumsq_out bigint, min_out bigint, max_out bigint, jsum_out bigint"
)


def _audio_decimate_stats(mid: int, payload: bytes) -> list:
    """Decimate-by-2 with a 2-tap boxcar pre-filter (the standard
    cheap anti-alias downsampling stage: average each sample pair, halve
    the rate) over a decoded WAV payload — the audio TRANSFORM entry
    beyond decode, the hist-equalize analog.

    EXACT-INTEGER output: y_j = (s_2j + s_2j+1 + 4096) div 2 - 2048 —
    the +4096 offset (samples are bounded by |s| <= 1600 in the fixture
    family) keeps the numerator nonnegative so truncating and flooring
    division agree, sidestepping the Spark-div vs DuckDB-// negative
    semantics divergence entirely.  Emits per-clip output rate/count,
    exact sum / sum-of-squares / min / max, and the j-weighted sum
    (anti-cancellation: a pair-alignment bug moves it).

    100 TB shape: decode + decimate + stats in ONE Arrow mapInPandas
    pass (per-file work, no shuffle); the oracle derives everything
    from the shared sawtooth closed form and never sees a byte.
    """
    import numpy as np

    rate, s = decode_wav(payload)
    s64 = s.astype("int64")
    m = len(s64) // 2
    if m <= 0:
        # single-sample clip: no output pairs — the oracle omits the
        # row (empty generate_series), match it
        return []
    y = (s64[: 2 * m : 2] + s64[1 : 2 * m : 2] + 4096) // 2 - 2048
    jw = np.arange(m, dtype="int64")
    return [
        (mid, int(rate) // 2, m, int(y.sum()), int((y * y).sum()),
         int(y.min()), int(y.max()), int((y * jw).sum()))
    ]


def _audio_decimate_oracle() -> str:
    rows = ", ".join(
        f"({i}, {64 + 16 * (i % 4)}, {50 + 7 * i}, {1000 + 100 * (i % 7)})"
        for i in range(_N_WAV)
    )
    return f"""
    WITH params(media_id, n_samp, step, amp) AS (VALUES {rows}),
    y AS (
      SELECT media_id,
             jj,
             (((2 * jj * step) % (2 * amp) - amp)
              + (((2 * jj + 1) * step) % (2 * amp) - amp)
              + 4096) // 2 - 2048 AS v
      FROM params,
           unnest(generate_series(0, n_samp // 2 - 1)) AS t(jj)
    )
    SELECT y.media_id,
           CAST({_WAV_RATE} // 2 AS INT) AS rate_out,
           CAST(count(*) AS BIGINT) AS n_out,
           CAST(sum(v) AS BIGINT) AS sum_out,
           CAST(sum(v * v) AS BIGINT) AS sumsq_out,
           CAST(min(v) AS BIGINT) AS min_out,
           CAST(max(v) AS BIGINT) AS max_out,
           CAST(sum(jj * v) AS BIGINT) AS jsum_out
    FROM y
    GROUP BY y.media_id
    ORDER BY y.media_id
    """




# ----------------------------------------------------------- PCX codec
# ZSoft PCX (public spec: ZSoft PCX File Format Technical Reference,
# rev 5) — the thirteenth native codec: 128-byte header, byte-oriented
# RLE (top two bits set => 6-bit run count + value byte), 24-bit images
# as three 8-bit planes (R, G, B) stored per scanline with each plane
# row padded to an even bytes-per-line.  Reference parity: decode
# surface beyond the reference (its loader moves bytes; SURVEY §2.10).

def encode_pcx(img) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a version-5 24-bit PCX.

    Spec-faithful RLE per plane row: runs capped at 63, a literal byte
    with both top bits set MUST be written as a length-1 run (0xC1 v),
    bytes-per-line rounded up to even (pad byte encodes as part of the
    row stream).
    """
    import struct

    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError("encode_pcx writes 24-bit RGB only")
    bpl = w + (w & 1)
    hdr = struct.pack(
        "<BBBBHHHHHH",
        0x0A, 5, 1, 8,           # magic, version 5, RLE, 8 bits/plane
        0, 0, w - 1, h - 1,       # xmin, ymin, xmax, ymax
        72, 72,                   # dpi
    )
    hdr += bytes(48)              # EGA palette (unused at 24-bit)
    hdr += struct.pack("<BBHH", 0, 3, bpl, 1)  # reserved, planes, bpl, color
    hdr += bytes(128 - len(hdr))
    out = bytearray(hdr)
    for y in range(h):
        for c in range(3):
            row = arr[y, :, c].tolist()
            if w & 1:
                row.append(0)
            i = 0
            while i < len(row):
                v = row[i]
                run = 1
                while i + run < len(row) and row[i + run] == v and run < 63:
                    run += 1
                if run > 1 or v >= 0xC0:
                    out.append(0xC0 | run)
                    out.append(v)
                else:
                    out.append(v)
                i += run
    return bytes(out)


def decode_pcx(payload: bytes) -> "tuple":
    """Decode a version-5 24-bit RLE PCX; returns (w, h, 3, ndarray).

    Spec checks with loud errors: magic/version/encoding/depth/planes,
    dimension plausibility, RLE stream truncation (a run that overruns
    its scanline block is clamped per spec — runs never cross the
    bytes-per-line * planes boundary of one scanline in well-formed
    files, but the decoder tolerates writers that let the final pad
    byte of a run spill, matching common practice).
    """
    import struct

    import numpy as np

    if len(payload) < 128:
        raise ValueError("truncated PCX header")
    (magic, version, encoding, bpp, xmin, ymin, xmax, ymax) = struct.unpack(
        "<BBBBHHHH", payload[:12]
    )
    if magic != 0x0A:
        raise ValueError(f"bad PCX magic byte 0x{magic:02x}")
    if encoding != 1:
        raise ValueError(f"unsupported PCX encoding {encoding} (only RLE)")
    if bpp != 8:
        raise ValueError(f"unsupported PCX depth {bpp} bits/plane (only 8)")
    nplanes = payload[65]
    (bpl,) = struct.unpack("<H", payload[66:68])
    if nplanes != 3:
        raise ValueError(
            f"unsupported PCX plane count {nplanes} (only 24-bit RGB)"
        )
    w = xmax - xmin + 1
    h = ymax - ymin + 1
    if w <= 0 or h <= 0 or w * h > 50_000_000:
        raise ValueError(f"implausible PCX dimensions {w}x{h}")
    if bpl < w:
        raise ValueError(f"PCX bytes-per-line {bpl} < width {w}")
    need = bpl * nplanes * h
    dec = np.empty(need, dtype=np.uint8)
    pos = 128
    k = 0
    n = len(payload)
    while k < need:
        if pos >= n:
            raise ValueError(
                f"truncated PCX RLE stream: decoded {k} of {need} bytes"
            )
        b = payload[pos]
        pos += 1
        if b >= 0xC0:
            if pos >= n:
                raise ValueError("PCX run byte without a value byte")
            run = b & 0x3F
            v = payload[pos]
            pos += 1
            end = min(k + run, need)
            dec[k:end] = v
            k = end
        else:
            dec[k] = b
            k += 1
    if pos != n:
        raise ValueError(f"{n - pos} trailing bytes after PCX pixel data")
    rows = dec.reshape(h, nplanes, bpl)
    arr = np.ascontiguousarray(
        rows[:, :3, :w].transpose(0, 2, 1)
    )
    return w, h, 3, arr


_PCX_PARAMS = [
    # (width, height): odd widths exercise the even bytes-per-line pad
    (43, 17),
    (28, 24),
    (51, 12),
    (21, 30),
    (37, 19),
    (64, 9),
]
_N_PCX = len(_PCX_PARAMS)


def _pcx_pixel(i: int, x, y, c, w: int, h: int):
    """Shared fixture formula (numpy-vectorizable AND SQL-replayable):
    horizontal thirds — a constant band (long RLE runs), a coarse
    4-pixel stripe band (short runs), a high-frequency gradient band
    (mostly literals) — so every RLE code path carries real weight."""
    band0 = (41 * i + 13 * c) % 256
    band1 = ((x // 4) * 17 + 9 * c + i) % 256
    band2 = (5 * x + 3 * y + 11 * c + 7 * i) % 256
    b = (3 * y) // h
    import numpy as np

    return np.where(b == 0, band0, np.where(b == 1, band1, band2))


def _pcx_payload(i: int) -> bytes:
    import numpy as np

    w, h = _PCX_PARAMS[i]
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        img[:, :, c] = _pcx_pixel(i, xx, yy, c, w, h).astype(np.uint8)
    return encode_pcx(img)


def _pcx_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h})" for i, (w, h) in enumerate(_PCX_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, x, y, c,
             CASE (3 * y) // h
               WHEN 0 THEN (41 * media_id + 13 * c) % 256
               WHEN 1 THEN ((x // 4) * 17 + 9 * c + media_id) % 256
               ELSE (5 * x + 3 * y + 11 * c + 7 * media_id) % 256
             END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y),
           unnest(generate_series(0, 2)) AS gc(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(255 * any_value(w) * any_value(h) AS BIGINT) AS sum_a,
           CAST(sum(CASE WHEN c = 1 THEN y * v ELSE 0 END) AS BIGINT)
             AS ysum_g,
           CAST(sum(CASE WHEN c = 2 THEN x * v ELSE 0 END) AS BIGINT)
             AS xsum_b
    FROM px
    GROUP BY media_id
    ORDER BY media_id
    """




# ----------------------------------------------- ViT-style patch tiling
_TILE = 8


def _image_tile_stats(mid: int, payload: bytes) -> list:
    """Patch tiling for vision-training pipelines (the ViT / CLIP
    preprocessing shape): decode, split into _TILE x _TILE patches
    (edge patches truncated, never padded — the per-patch pixel count
    column carries the true size), and emit exact integer per-patch
    statistics: pixel count, RGB sum, and the min/max of the per-pixel
    channel total.  Decode + tile + reduce run in ONE Arrow
    ``mapInPandas`` pass (per-file work, no shuffle); the output frame
    is |patches| rows — the unit a downstream patch-embedding or
    patch-dedup stage consumes.

    100 TB shape: identical to the codec entries — patch extraction is
    numpy slicing inside the Arrow batch, never per-row Python.
    """
    import numpy as np

    tile = _TILE
    w, h, _ch, arr = decode_pcx(payload)
    s = arr.astype(np.int64).sum(axis=2)  # per-pixel r+g+b
    out = []
    for ty in range((h + tile - 1) // tile):
        for tx in range((w + tile - 1) // tile):
            blk = s[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            out.append(
                (mid, ty, tx, int(blk.size), int(blk.sum()), int(blk.min()),
                 int(blk.max()))
            )
    return out


_TILE_SCHEMA = (
    "media_id bigint, tile_y int, tile_x int, n_px bigint,"
    " sum_rgb bigint, min_px bigint, max_px bigint"
)


def _image_tile_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h})" for i, (w, h) in enumerate(_PCX_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h) AS (VALUES {rows}),
    px AS (
      SELECT media_id, x, y,
             (CASE (3 * y) // h
                WHEN 0 THEN (41 * media_id + 13 * 0) % 256
                WHEN 1 THEN ((x // 4) * 17 + 9 * 0 + media_id) % 256
                ELSE (5 * x + 3 * y + 11 * 0 + 7 * media_id) % 256 END
              + CASE (3 * y) // h
                WHEN 0 THEN (41 * media_id + 13 * 1) % 256
                WHEN 1 THEN ((x // 4) * 17 + 9 * 1 + media_id) % 256
                ELSE (5 * x + 3 * y + 11 * 1 + 7 * media_id) % 256 END
              + CASE (3 * y) // h
                WHEN 0 THEN (41 * media_id + 13 * 2) % 256
                WHEN 1 THEN ((x // 4) * 17 + 9 * 2 + media_id) % 256
                ELSE (5 * x + 3 * y + 11 * 2 + 7 * media_id) % 256 END
             ) AS s
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(y // 8 AS INT) AS tile_y,
           CAST(x // 8 AS INT) AS tile_x,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(s) AS BIGINT) AS sum_rgb,
           CAST(min(s) AS BIGINT) AS min_px,
           CAST(max(s) AS BIGINT) AS max_px
    FROM px
    GROUP BY media_id, y // 8, x // 8
    ORDER BY media_id, tile_y, tile_x
    """




# --------------------------------------------- audio peak normalization
_NORM_TARGET = 30000


_NORM_SCHEMA = (
    "media_id bigint, n_samp bigint, peak_in bigint, gain_ppm bigint,"
    " peak_out bigint, sum_out bigint, sumsq_out bigint"
)


def _audio_normalize_stats(mid: int, payload: bytes) -> list:
    """Peak normalization — the standard loudness-alignment pass before
    audio feature extraction: per file, gain_ppm = floor(target * 1e6 /
    peak_abs) and every sample maps to sign(s) * (|s| * gain_ppm div
    1e6) (absolute-value form so floor == truncation on both engines —
    negative floor division differs between them).  Decode + normalize
    + stats in ONE Arrow pass; emits the gain, the exact post-gain
    peak (<= target by construction, pinned in pytest), and post-gain
    sum / sum-of-squares (the RMS numerator) as exact integers.

    100 TB shape: per-file Arrow work, no shuffle; the gain is a
    per-file scalar so the pass never materializes a second copy of
    the sample frame.
    """
    import numpy as np

    _rate, samples = decode_wav(payload)
    s = samples.astype(np.int64)
    peak = int(np.abs(s).max())
    if peak == 0:
        return [(mid, len(s), 0, 0, 0, 0, 0)]
    gain = _NORM_TARGET * 1_000_000 // peak
    norm = np.sign(s) * (np.abs(s) * gain // 1_000_000)
    return [
        (mid, len(s), peak, int(gain), int(np.abs(norm).max()),
         int(norm.sum()), int((norm * norm).sum()))
    ]


def _audio_normalize_oracle() -> str:
    rows = ", ".join(
        f"({i}, {64 + 16 * (i % 4)}, {50 + 7 * i}, {1000 + 100 * (i % 7)})"
        for i in range(_N_WAV)
    )
    return f"""
    WITH params(media_id, n_samp, step, amp) AS (VALUES {rows}),
    s AS (
      SELECT media_id, j, (j * step) % (2 * amp) - amp AS v
      FROM params, unnest(generate_series(0, n_samp - 1)) AS t(j)
    ),
    g AS (
      SELECT media_id, CAST(max(abs(v)) AS BIGINT) AS peak,
             CAST(CAST({_NORM_TARGET} AS BIGINT) * 1000000
                  // max(abs(v)) AS BIGINT)
               AS gain
      FROM s GROUP BY media_id
    ),
    norm AS (
      SELECT s.media_id, g.peak, g.gain,
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END
               * (abs(v) * g.gain // 1000000) AS nv
      FROM s JOIN g ON g.media_id = s.media_id
    )
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_samp,
           CAST(any_value(peak) AS BIGINT) AS peak_in,
           CAST(any_value(gain) AS BIGINT) AS gain_ppm,
           CAST(max(abs(nv)) AS BIGINT) AS peak_out,
           CAST(sum(nv) AS BIGINT) AS sum_out,
           CAST(sum(nv * nv) AS BIGINT) AS sumsq_out
    FROM norm
    GROUP BY media_id
    ORDER BY media_id
    """




# ----------------------------------------------------- Sun Raster codec
# Sun Rasterfile (public spec: Sun OS rasterfile(5) man page; the
# fourteenth native codec): eight BIG-ENDIAN int32 header words (magic
# 0x59a66a95, width, height, depth, length, type, maptype, maplength),
# 24-bit pixels in BGR order, every row padded to a 16-bit boundary,
# and the RT_BYTE_ENCODED (type 2) RLE: 0x80 n v emits n+1 copies of v,
# 0x80 0x00 emits a literal 0x80 byte, anything else is a literal.

_RAS_MAGIC = 0x59A66A95


def encode_sunras(img, rle: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit Sun Raster
    (RT_STANDARD, or RT_BYTE_ENCODED when ``rle``)."""
    import struct

    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError("encode_sunras writes 24-bit RGB only")
    row_len = 3 * w + (3 * w) % 2
    body = bytearray()
    for y in range(h):
        row = arr[y, :, ::-1].reshape(-1).tolist()  # BGR
        if (3 * w) % 2:
            row.append(0)
        body.extend(row)
    if rle:
        out = bytearray()
        i, n = 0, len(body)
        while i < n:
            v = body[i]
            run = 1
            while i + run < n and body[i + run] == v and run < 256:
                run += 1
            if run >= 3 or (v == 0x80 and run >= 2):
                out += bytes([0x80, run - 1, v])
                i += run
            elif v == 0x80:
                out += bytes([0x80, 0x00])
                i += 1
            else:
                out.append(v)
                i += 1
        data, rtype = bytes(out), 2
    else:
        data, rtype = bytes(body), 1
    hdr = struct.pack(
        ">8i", _RAS_MAGIC, w, h, 24, len(data), rtype, 0, 0
    )
    assert row_len * h == len(body)
    return hdr + data


def decode_sunras(payload: bytes) -> "tuple":
    """Decode a 24-bit RT_STANDARD / RT_BYTE_ENCODED Sun Raster;
    returns (w, h, 3, ndarray in RGB).  Loud spec checks: magic,
    depth, colormap, truncation, trailing bytes."""
    import struct

    import numpy as np

    if len(payload) < 32:
        raise ValueError("truncated Sun Raster header")
    magic, w, h, depth, length, rtype, maptype, maplen = struct.unpack(
        ">8i", payload[:32]
    )
    if magic != _RAS_MAGIC:
        raise ValueError(f"bad Sun Raster magic 0x{magic & 0xffffffff:08x}")
    if depth != 24:
        raise ValueError(f"unsupported Sun Raster depth {depth} (only 24)")
    if maptype != 0 or maplen != 0:
        raise ValueError("colormapped Sun Raster is not supported")
    if rtype not in (1, 2):
        raise ValueError(f"unsupported Sun Raster type {rtype}")
    if w <= 0 or h <= 0 or w * h > 50_000_000:
        raise ValueError(f"implausible Sun Raster dimensions {w}x{h}")
    row_len = 3 * w + (3 * w) % 2
    need = row_len * h
    data = payload[32:]
    if len(data) != length:
        raise ValueError(
            f"Sun Raster length field {length} != {len(data)} data bytes"
        )
    if rtype == 1:
        if len(data) != need:
            raise ValueError(
                f"truncated Sun Raster pixels: need {need}, have {len(data)}"
            )
        dec = np.frombuffer(data, dtype=np.uint8)
    else:
        out = np.empty(need, dtype=np.uint8)
        i, k, n = 0, 0, len(data)
        while k < need:
            if i >= n:
                raise ValueError(
                    f"truncated Sun Raster RLE: decoded {k} of {need}"
                )
            b = data[i]
            i += 1
            if b == 0x80:
                if i >= n:
                    raise ValueError("Sun Raster RLE flag without count")
                cnt = data[i]
                i += 1
                if cnt == 0:
                    out[k] = 0x80
                    k += 1
                else:
                    if i >= n:
                        raise ValueError("Sun Raster RLE run without value")
                    v = data[i]
                    i += 1
                    end = min(k + cnt + 1, need)
                    out[k:end] = v
                    k = end
            else:
                out[k] = b
                k += 1
        if i != n:
            raise ValueError(
                f"{n - i} trailing bytes after Sun Raster pixel data"
            )
        dec = out
    rows = dec.reshape(h, row_len)[:, : 3 * w].reshape(h, w, 3)
    return w, h, 3, np.ascontiguousarray(rows[:, :, ::-1])


_RAS_PARAMS = [
    # (width, height, rle): odd widths exercise the 16-bit row pad
    (33, 21, True),
    (48, 14, False),
    (27, 25, True),
    (40, 18, True),
    (19, 29, False),
    (56, 11, True),
]
_N_RAS = len(_RAS_PARAMS)


def _ras_pixel(i: int, x, y, c, w: int, h: int):
    """Fixture formula (vectorizable AND SQL-replayable): vertical
    quarters — constant band (long runs incl. 0x80-valued pixels),
    2-px stripes (short runs), diagonal gradient, fine checker."""
    import numpy as np

    band0 = (0x80 if i % 2 == 0 else (37 * i + 11 * c) % 256)
    band1 = ((y // 2) * 23 + 7 * c + 3 * i) % 256
    band2 = (4 * x + 5 * y + 13 * c + 9 * i) % 256
    band3 = ((x + y) % 2) * 191 + 6 * c + i
    b = (4 * x) // w
    return np.where(
        b == 0, band0,
        np.where(b == 1, band1, np.where(b == 2, band2, band3 % 256)),
    )


def _ras_payload(i: int) -> bytes:
    import numpy as np

    w, h, rle = _RAS_PARAMS[i]
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        img[:, :, c] = _ras_pixel(i, xx, yy, c, w, h).astype(np.uint8)
    return encode_sunras(img, rle=rle)


def _sunras_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h})" for i, (w, h, _rle) in enumerate(_RAS_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, x, y, c,
             CASE (4 * x) // w
               WHEN 0 THEN CASE WHEN media_id % 2 = 0 THEN 128
                                ELSE (37 * media_id + 11 * c) % 256 END
               WHEN 1 THEN ((y // 2) * 23 + 7 * c + 3 * media_id) % 256
               WHEN 2 THEN (4 * x + 5 * y + 13 * c + 9 * media_id) % 256
               ELSE (((x + y) % 2) * 191 + 6 * c + media_id) % 256
             END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y),
           unnest(generate_series(0, 2)) AS gc(c)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(255 * any_value(w) * any_value(h) AS BIGINT) AS sum_a,
           CAST(sum(CASE WHEN c = 1 THEN y * v ELSE 0 END) AS BIGINT)
             AS ysum_g,
           CAST(sum(CASE WHEN c = 2 THEN x * v ELSE 0 END) AS BIGINT)
             AS xsum_b
    FROM px
    GROUP BY media_id
    ORDER BY media_id
    """




# --------------------------------------------- ICO container codec (r12)
def encode_ico(images) -> bytes:
    """Assemble a Windows ICO container (the FIFTEENTH native format;
    ICONDIR + ICONDIRENTRY table per the Win32 resource layout): each
    element of ``images`` is (kind, width, height, pixel_fn) with kind
    'bmp' (classic icon: BITMAPINFOHEADER with DOUBLED biHeight, XOR
    pixel block bottom-up BGR with 4-byte row stride, then the 1-bpp
    AND mask with 32-bit row stride — all zeros == fully opaque) or
    'png' (the Vista+ embedding: a complete PNG file as the entry
    blob, the form modern 256px icons use)."""
    import struct

    blobs = []
    for kind, w, h, fn in images:
        if kind == "png":
            blobs.append(encode_png(w, h, fn))
            continue
        xor_stride = (3 * w + 3) // 4 * 4
        and_stride = (w + 31) // 32 * 4
        hdr = struct.pack(
            "<IiiHHIIiiII", 40, w, 2 * h, 1, 24, 0,
            xor_stride * h + and_stride * h, 0, 0, 0, 0,
        )
        rows = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for x in range(w):
                r, g, b = fn(x, y)
                row += bytes((b, g, r))  # BGR
            row += bytes(xor_stride - len(row))
            rows += row
        rows += bytes(and_stride * h)  # opaque AND mask
        blobs.append(bytes(hdr) + bytes(rows))
    out = bytearray(struct.pack("<HHH", 0, 1, len(blobs)))
    offset = 6 + 16 * len(blobs)
    for (kind, w, h, _fn), blob in zip(images, blobs):
        out += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 24, len(blob), offset
        )
        offset += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)


def parse_ico_dir(payload: bytes) -> list:
    """ICONDIR walk: [(width, height, size, offset, is_png)] with the
    0-means-256 byte convention resolved.  Truncation and a non-icon
    type byte error loudly (the TIFF/QOI contract)."""
    import struct

    if len(payload) < 6:
        raise ValueError("truncated ICO header")
    reserved, rtype, count = struct.unpack("<HHH", payload[:6])
    if reserved != 0 or rtype != 1 or count == 0:
        raise ValueError(
            f"not an ICO payload (reserved={reserved} type={rtype} "
            f"count={count})"
        )
    if len(payload) < 6 + 16 * count:
        raise ValueError("truncated ICONDIR entry table")
    out = []
    for k in range(count):
        bw, bh, _c, _r, _planes, _bpp, size, off = struct.unpack(
            "<BBBBHHII", payload[6 + 16 * k : 6 + 16 * (k + 1)]
        )
        if off + size > len(payload):
            raise ValueError(f"ICO entry {k} overruns the payload")
        w, h = bw or 256, bh or 256
        is_png = payload[off : off + 8] == b"\x89PNG\r\n\x1a\n"
        out.append((w, h, size, off, is_png))
    return out


def decode_ico(payload: bytes):
    """Decode the LARGEST entry of an ICO container (the selection a
    thumbnailer makes): returns (width, height, 3, HxWx3 uint8 RGB,
    n_entries, png_embedded).  Classic entries parse the embedded
    BITMAPINFOHEADER (biHeight is the DOUBLED XOR+AND height — the
    format's one trap), reuse the BMP row discipline (bottom-up, BGR,
    4-byte stride), and validate the AND-mask block is present; PNG
    entries delegate to decode_png.  Citing reference behavior only
    for scope (queries/*.sql has no media path): this is beyond-parity
    surface per SURVEY §2.10."""
    import struct

    import numpy as np

    entries = parse_ico_dir(payload)
    w, h, size, off, is_png = max(
        enumerate(entries), key=lambda kv: (kv[1][0] * kv[1][1], -kv[0])
    )[1]
    blob = payload[off : off + size]
    if is_png:
        pw, ph, arr = decode_png(blob)
        return pw, ph, 3, arr[:, :, :3], len(entries), True
    if len(blob) < 40:
        raise ValueError("truncated ICO BITMAPINFOHEADER")
    (hdr_size, bw, bh2, _planes, bpp, comp) = struct.unpack(
        "<IiiHHI", blob[:20]
    )
    if hdr_size < 40:
        raise ValueError(f"unsupported ICO DIB header size {hdr_size}")
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"only uncompressed 24-bit ICO entries supported, got "
            f"{bpp}bpp/c{comp}"
        )
    if bh2 % 2 != 0:
        raise ValueError("ICO biHeight must be the doubled XOR+AND height")
    bh = bh2 // 2
    xor_stride = (3 * bw + 3) // 4 * 4
    and_stride = (bw + 31) // 32 * 4
    need = hdr_size + xor_stride * bh + and_stride * bh
    if len(blob) < need:
        raise ValueError(
            f"truncated ICO entry: need {need} bytes, have {len(blob)}"
        )
    raw = np.frombuffer(
        blob, dtype=np.uint8, count=xor_stride * bh, offset=hdr_size
    )
    rows = raw.reshape(bh, xor_stride)[:, : 3 * bw].reshape(bh, bw, 3)
    return bw, bh, 3, rows[::-1][:, :, ::-1], len(entries), False


_ICO_SCHEMA = (
    "media_id bigint NOT NULL, n_entries int, png_embedded boolean,"
    " width int, height int, sum_r bigint, sum_g bigint, sum_b bigint,"
    " ysum_r bigint"
)

_N_ICO = 18


def _ico_payload(i: int) -> bytes:
    """Two-entry icon i: a small classic entry plus a LARGE entry that
    is PNG-embedded every 6th icon — decode must pick the large entry
    and route its format correctly."""

    def fn(x, y):
        return (
            (x * 11 + y * 5 + i) % 256,
            (x * 3 + y * 13 + 2 * i) % 256,
            (x * 9 + y * 7 + 3 * i) % 256,
        )

    big_kind = "png" if i % 6 == 0 else "bmp"
    return encode_ico(
        [("bmp", 8 + i % 3, 6 + i % 2, fn), (big_kind, 17 + i % 4, 9 + i % 3, fn)]
    )


def _ico_stats(mid: int, payload: bytes) -> list:
    """Largest-entry pixel statistics of an ICO payload."""
    import numpy as np

    w, h, _ch, arr, n_entries, is_png = decode_ico(payload)
    sums = arr.reshape(-1, 3).sum(axis=0, dtype="int64")
    ys = np.arange(h, dtype="int64")
    ysum_r = int((arr[:, :, 0].sum(axis=1, dtype="int64") * ys).sum())
    return [
        (mid, n_entries, bool(is_png), w, h,
         int(sums[0]), int(sums[1]), int(sums[2]), ysum_r)
    ]


_ICO_ORACLE = f"""
    WITH dims AS (
      SELECT i, 17 + i % 4 AS w, 9 + i % 3 AS h
      FROM range({_N_ICO}) t(i)
    ),
    px AS (
      SELECT i, w, h, x, y
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) tx,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ty
    )
    SELECT i AS media_id, CAST(2 AS INT) AS n_entries,
           i % 6 = 0 AS png_embedded,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum((x * 11 + y * 5 + i) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 3 + y * 13 + 2 * i) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x * 9 + y * 7 + 3 * i) % 256) AS BIGINT) AS sum_b,
           CAST(sum(y * ((x * 11 + y * 5 + i) % 256)) AS BIGINT) AS ysum_r
    FROM px
    GROUP BY i, w, h
    ORDER BY media_id
    """


# ------------------------------------------- stereo downmix codec (r12)
def encode_stereo_wav(left, right, rate: int = _WAV_RATE) -> bytes:
    """RIFF/PCM WAV with TWO interleaved 16-bit channels — the stereo
    sibling of encode_wav (same header layout, channels=2, block
    align 4)."""
    import struct

    import numpy as np

    l = np.asarray(left, dtype="<i2")
    r = np.asarray(right, dtype="<i2")
    if l.shape != r.shape:
        raise ValueError("left/right length mismatch")
    inter = np.empty(l.size * 2, dtype="<i2")
    inter[0::2] = l
    inter[1::2] = r
    data = inter.tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, rate, rate * 4, 4, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_stereo_wav(payload: bytes):
    """Parse a RIFF/PCM STEREO WAV: returns (rate, left, right) int16
    arrays — the decode_wav chunk walk with channels=2 demanded."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16 or len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:
                raise ValueError(f"not PCM (format {fmt})")
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated data chunk")
            data = body
        pos += 8 + size + (size % 2)
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if channels != 2 or bits != 16:
        raise ValueError(f"expected stereo/16-bit, got {channels}ch/{bits}bit")
    inter = np.frombuffer(data, dtype="<i2")
    if inter.size % 2:
        raise ValueError("stereo data chunk has an odd sample count")
    return rate, inter[0::2], inter[1::2]


def downmix_stereo(payload: bytes):
    """Stereo -> mono downmix: (rate, int16 samples) with
    mono = (L + R) >> 1 in int32 space — the arithmetic-shift FLOOR
    (matches Python's // on negatives; pinned in pytest), never the
    int16-overflowing naive (L+R)/2."""
    import numpy as np

    rate, left, right = decode_stereo_wav(payload)
    mono = (left.astype(np.int32) + right.astype(np.int32)) >> 1
    return rate, mono.astype(np.int16)


_DOWNMIX_SCHEMA = (
    "media_id bigint NOT NULL, sample_rate int, n_samples bigint,"
    " sum_mono bigint, min_mono int, max_mono int, ksum_mono bigint"
)

_N_DOWNMIX = 16
_DOWNMIX_LEN = 600


def _stereo_payload(i: int) -> bytes:
    """Stereo fixture i built as L = s + d, R = s - d (sum/diff
    construction: L + R = 2s exactly, so the downmix equals the
    closed-form s(k) and the oracle never touches floor semantics —
    the odd-sum floor path is pinned separately in pytest)."""
    import numpy as np

    k = np.arange(_DOWNMIX_LEN, dtype=np.int64)
    s = ((k * 7 + i * 13) % 401) - 200
    d = ((k * 5 + i * 3) % 101) - 50
    return encode_stereo_wav(
        (s + d).astype("<i2"), (s - d).astype("<i2"), rate=8000 + 100 * i
    )


def _downmix_stats(mid: int, payload: bytes) -> list:
    """Downmix + amplitude statistics; ksum_mono is the index-weighted
    anti-cancellation column (a sample-order bug moves it, the plain
    sum doesn't)."""
    import numpy as np

    rate, mono = downmix_stereo(payload)
    m = mono.astype(np.int64)
    k = np.arange(m.size, dtype=np.int64)
    return [
        (mid, int(rate), int(m.size), int(m.sum()), int(m.min()),
         int(m.max()), int((k * m).sum()))
    ]


_DOWNMIX_ORACLE = f"""
    WITH s AS (
      SELECT i, k, ((k * 7 + i * 13) % 401) - 200 AS mono
      FROM range({_N_DOWNMIX}) t(i),
           LATERAL (SELECT unnest(generate_series(0, {_DOWNMIX_LEN} - 1))
                    AS k) tk
    )
    SELECT i AS media_id, CAST(8000 + 100 * i AS INT) AS sample_rate,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(mono) AS BIGINT) AS sum_mono,
           CAST(min(mono) AS INT) AS min_mono,
           CAST(max(mono) AS INT) AS max_mono,
           CAST(sum(k * mono) AS BIGINT) AS ksum_mono
    FROM s
    GROUP BY i
    ORDER BY media_id
    """


# ------------------------------------------------- REAL Sun AU codec (r12)
# Sixteenth native format, second audio CONTAINER: the Sun/NeXT .au
# (".snd") file — the big-endian counterpart of RIFF.  Where WAV is a
# little-endian chunk list, AU is a fixed big-endian header whose DATA
# OFFSET field must be honored (real files carry an annotation block
# between header and data; a decoder that assumes offset 24 reads
# garbage).  Encoding dispatch inside one container: 1 = G.711 mu-law
# (reuses the byte-exact tables above), 2 = 8-bit linear PCM (signed),
# 3 = 16-bit linear PCM big-endian.  Parity anchor: the reference's
# data model treats media as opaque typed payloads (SURVEY §2.10); the
# codec itself is beyond-parity pipeline surface.
AU_MAGIC = b".snd"
AU_ULAW, AU_PCM8, AU_PCM16 = 1, 2, 3
_AU_CODEC_NAMES = {AU_ULAW: "ulaw", AU_PCM8: "pcm8", AU_PCM16: "pcm16be"}


def encode_au(
    samples, rate: int, encoding: int, annotation: bytes = b"spark-au"
) -> bytes:
    """Build a real Sun AU payload: 24-byte big-endian header, the
    annotation block (zero-padded to an 8-byte multiple, as the spec
    recommends), then sample data in the chosen encoding."""
    import struct

    import numpy as np

    ann = annotation + b"\x00" * ((8 - len(annotation) % 8) % 8)
    s = np.asarray(samples, dtype=np.int64)
    if encoding == AU_ULAW:
        data = bytes(ulaw_encode_sample(int(v)) for v in s)
    elif encoding == AU_PCM8:
        if s.min() < -128 or s.max() > 127:
            raise ValueError("pcm8 samples out of int8 range")
        data = s.astype(">i1").tobytes()
    elif encoding == AU_PCM16:
        if s.min() < -32768 or s.max() > 32767:
            raise ValueError("pcm16 samples out of int16 range")
        data = s.astype(">i2").tobytes()
    else:
        raise ValueError(f"unsupported AU encoding {encoding}")
    hdr = struct.pack(
        ">4sIIIII", AU_MAGIC, 24 + len(ann), len(data), encoding, rate, 1
    )
    return hdr + ann + data


def decode_au(payload: bytes):
    """Parse a Sun AU payload: returns (rate, codec_name, int64 numpy
    samples).  Honors the header's data-offset field (annotation block
    skipped by offset, never by assumption), accepts the 0xFFFFFFFF
    unknown-size convention, and validates declared size against the
    actual byte count so truncation raises instead of yielding garbage."""
    import struct

    import numpy as np

    if len(payload) < 24 or payload[:4] != AU_MAGIC:
        raise ValueError("not a Sun AU payload")
    _m, offset, size, enc, rate, channels = struct.unpack(
        ">4sIIIII", payload[:24]
    )
    if offset < 24 or offset > len(payload):
        raise ValueError(f"bad AU data offset {offset}")
    if channels != 1:
        raise ValueError(f"expected mono AU, got {channels} channels")
    body = payload[offset:]
    if size != 0xFFFFFFFF:
        if len(body) < size:
            raise ValueError(
                f"truncated AU data: need {size} bytes, have {len(body)}"
            )
        body = body[:size]
    if enc == AU_ULAW:
        s = np.array([ulaw_decode_byte(b) for b in body], dtype=np.int64)
    elif enc == AU_PCM8:
        s = np.frombuffer(body, dtype=">i1").astype(np.int64)
    elif enc == AU_PCM16:
        if len(body) % 2:
            raise ValueError("odd byte count in 16-bit AU data")
        s = np.frombuffer(body, dtype=">i2").astype(np.int64)
    else:
        raise ValueError(f"unsupported AU encoding {enc}")
    return rate, _AU_CODEC_NAMES[enc], s


_AU_PARAMS = [
    # (n_samp, rate, encoding): all three encodings, odd lengths,
    # mixed rates; pcm8 clips use int8-range amplitudes
    (40, 8000, AU_PCM16), (33, 8000, AU_ULAW), (64, 16000, AU_PCM8),
    (25, 8000, AU_PCM16), (101, 8000, AU_ULAW), (48, 11025, AU_PCM8),
    (77, 8000, AU_ULAW), (56, 22050, AU_PCM16), (90, 8000, AU_PCM8),
    (17, 8000, AU_ULAW), (120, 16000, AU_PCM16), (63, 8000, AU_ULAW),
]
_N_AU = len(_AU_PARAMS)


def _au_signal(i: int, n: int, encoding: int):
    """Deterministic sawtooth (the WAV/G.711 fixture family): amplitude
    shrinks to the int8 grid for pcm8 clips."""
    import numpy as np

    k = np.arange(n, dtype=np.int64)
    if encoding == AU_PCM8:
        amp = 90 + 3 * (i % 7)
        step = 5 + i
    else:
        amp = 9000 + 900 * (i % 7)
        step = 350 + 71 * i
    return (k * step) % (2 * amp) - amp


def _au_payload(i: int) -> bytes:
    n_samp, rate, enc = _AU_PARAMS[i]
    return encode_au(_au_signal(i, n_samp, enc), rate, enc)


def _au_stats(mid: int, payload: bytes) -> list:
    """Decode a Sun AU payload; the G.711 stats shape (ksum guards
    sample ORDER — a byte-order bug on the 16-bit clips flips it
    loudly; sum_abs separates the mu-law grid from the linear ones)."""
    rate, codec, s = decode_au(payload)
    return [_sample_row(mid, rate, codec, s)]


# Pinned per-clip statistics — generated ONCE by the independent
# reference decoder in scripts/gen_au_expected.py (table-built mu-law
# from the G.711 closed forms, its own big-endian header walk) and
# re-derived there on every pytest run.
# Regenerate: PYTHONPATH=. python3 scripts/gen_au_expected.py
_AU_EXPECTED = [
    (0, 8000, 'pcm16be', 40, -87000, 153500, 169000, 4650),
    (1, 8000, 'ulaw', 33, -104484, 138412, -415064, 3516),
    (2, 16000, 'pcm8', 64, -672, 3250, -12576, -39),
    (3, 8000, 'pcm16be', 25, -123600, 131340, -751300, 1812),
    (4, 8000, 'ulaw', 101, -137552, 633152, -4368416, 396),
    (5, 11025, 'pcm8', 48, -690, 2690, -10090, -55),
    (6, 8000, 'ulaw', 77, -17948, 573100, 5318296, -12924),
    (7, 22050, 'pcm16be', 56, -45620, 245868, -625940, 1585),
    (8, 8000, 'pcm8', 90, -387, 4293, -9792, -52),
    (9, 8000, 'ulaw', 17, -49272, 80176, 12180, 5116),
    (10, 16000, 'pcm16be', 120, -36600, 714200, -653800, -2560),
    (11, 8000, 'ulaw', 63, -46732, 383156, 316900, 7164),
]

_AU_ORACLE = _pinned_oracle(_G711_SCHEMA, _AU_EXPECTED)



# ------------------------------------------------- REAL XBM codec (r12)
# Seventeenth native format, the first ASCII-SOURCE image: X BitMap —
# a C fragment (#define width/height + an unsigned char array) that X11
# consumes directly.  Exercises the parsing half no binary codec does:
# tokenizing declarations, hex literals, comments and arbitrary line
# breaks — plus LSB-FIRST bit order (the opposite of every other 1-bit
# raster here) and the X10 variant whose array is unsigned SHORT with
# two little-endian bytes per word.  Monochrome: decode returns a
# (h, w) 0/1 array.
def encode_xbm(bits, name: str = "img", x10: bool = False) -> bytes:
    """Build a real XBM C fragment from a (h, w) 0/1 array: LSB-first
    packed rows, byte stride (w+7)//8; x10=True writes the unsigned
    short variant (two bytes per word, low byte first)."""
    import numpy as np

    a = np.asarray(bits, dtype=np.uint8)
    h, w = a.shape
    stride = (w + 7) // 8
    padded = np.zeros((h, stride * 8), dtype=np.uint8)
    padded[:, :w] = a
    # LSB-first: bit k of byte j is pixel x = 8*j + k
    weights = np.array([1, 2, 4, 8, 16, 32, 64, 128], dtype=np.uint8)
    by = (padded.reshape(h, stride, 8) * weights).sum(axis=2).astype(np.uint8)
    flat = by.reshape(-1)
    lines = [f"/* generated fixture: {name} */",
             f"#define {name}_width {w}",
             f"#define {name}_height {h}"]
    if x10:
        if len(flat) % 2:
            flat = np.append(flat, np.uint8(0))
        words = [int(flat[j]) | (int(flat[j + 1]) << 8)
                 for j in range(0, len(flat), 2)]
        body = ", ".join(f"0x{v:04x}" for v in words)
        lines.append(f"static unsigned short {name}_bits[] = {{")
    else:
        body = ", ".join(f"0x{v:02x}" for v in flat)
        lines.append(f"static unsigned char {name}_bits[] = {{")
    # wrap the body at 72 columns like real xbm writers
    out, line = [], "  "
    for tok in body.split(", "):
        cand = tok if line == "  " else line + ", " + tok
        if len(cand) > 72 and line != "  ":
            out.append(line + ",")
            line = "  " + tok
        else:
            line = cand if line != "  " else "  " + tok
    out.append(line + "};")
    lines.extend(out)
    return ("\n".join(lines) + "\n").encode("ascii")


def decode_xbm(payload: bytes):
    """Parse an XBM C fragment: returns (w, h, (h, w) uint8 0/1 array).
    Tolerates comments and arbitrary whitespace, accepts hex/decimal
    literals, handles both the char and the X10 unsigned-short array
    forms, and validates the element count against the declared
    geometry (truncation raises, never yields a short raster)."""
    import re

    import numpy as np

    text = payload.decode("ascii", errors="strict")
    text = re.sub(r"/\*.*?\*/", " ", text, flags=re.S)
    mw = re.search(r"#define\s+\w*?_?width\s+(\d+)", text)
    mh = re.search(r"#define\s+\w*?_?height\s+(\d+)", text)
    if not mw or not mh:
        raise ValueError("XBM: missing width/height #define")
    w, h = int(mw.group(1)), int(mh.group(1))
    decl = re.search(
        r"static\s+unsigned\s+(char|short)\s+\w+\s*\[\s*\]\s*=\s*\{(.*?)\}",
        text, flags=re.S,
    )
    if not decl:
        raise ValueError("XBM: missing bits array")
    kind, body = decl.group(1), decl.group(2)
    vals = [int(t, 0) for t in re.findall(r"0[xX][0-9a-fA-F]+|\d+", body)]
    if kind == "short":
        by = []
        for v in vals:
            by.append(v & 0xFF)
            by.append((v >> 8) & 0xFF)
    else:
        by = vals
    stride = (w + 7) // 8
    need = stride * h
    if len(by) < need:
        raise ValueError(
            f"XBM: need {need} bytes for {w}x{h}, have {len(by)}"
        )
    arr = np.array(by[:need], dtype=np.uint8).reshape(h, stride)
    bits = ((arr[:, :, None] >> np.arange(8)[None, None, :]) & 1).reshape(
        h, stride * 8
    )
    return w, h, bits[:, :w].astype(np.uint8)


_XBM_PARAMS = [
    # (width, height, x10): widths cross byte boundaries (w % 8 =
    # 1, 0, 3, 7, 1, 4); two clips use the X10 short variant
    (9, 11, False),
    (16, 6, False),
    (19, 7, True),
    (7, 13, False),
    (25, 5, True),
    (12, 9, False),
]
_N_XBM = len(_XBM_PARAMS)


def _xbm_bit(i: int, x, y):
    """Fixture formula (vectorizable AND SQL-replayable)."""
    return ((3 * x + 5 * y + 11 * i) % 13) < 6


def _xbm_payload(i: int) -> bytes:
    import numpy as np

    w, h, x10 = _XBM_PARAMS[i]
    yy, xx = np.mgrid[0:h, 0:w]
    bits = _xbm_bit(i, xx, yy).astype(np.uint8)
    return encode_xbm(bits, f"img{i}", x10=x10)


_XBM_SCHEMA = (
    "media_id bigint, width int, height int, n_set bigint,"
    " xsum_set bigint, ysum_set bigint, first_row_set bigint"
)


def _xbm_stats(mid: int, payload: bytes) -> list:
    """Decode an XBM payload; exact set-bit statistics.  xsum guards the
    LSB-first bit order (an MSB-first bug mirrors each byte and shifts
    the x centroid loudly), ysum the row order, first_row_set the
    stride arithmetic."""
    import numpy as np

    w, h, bits = decode_xbm(payload)
    b = bits.astype(np.int64)
    yw = np.arange(h, dtype=np.int64)[:, None]
    xw = np.arange(w, dtype=np.int64)[None, :]
    return [
        (mid, w, h, int(b.sum()), int((b * xw).sum()), int((b * yw).sum()),
         int(b[0, :].sum()))
    ]


def _xbm_oracle() -> str:
    rows = ", ".join(
        f"({i}, {w}, {h})" for i, (w, h, _x10) in enumerate(_XBM_PARAMS)
    )
    return f"""
    WITH params(media_id, w, h) AS (VALUES {rows}),
    px AS (
      SELECT media_id, w, h, x, y,
             CASE WHEN (3 * x + 5 * y + 11 * media_id) % 13 < 6
                  THEN 1 ELSE 0 END AS v
      FROM params,
           unnest(generate_series(0, w - 1)) AS gx(x),
           unnest(generate_series(0, h - 1)) AS gy(y)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS n_set,
           CAST(sum(x * v) AS BIGINT) AS xsum_set,
           CAST(sum(y * v) AS BIGINT) AS ysum_set,
           CAST(sum(CASE WHEN y = 0 THEN v ELSE 0 END) AS BIGINT)
             AS first_row_set
    FROM px
    GROUP BY media_id
    ORDER BY media_id
    """




# ------------------------------------------------ REAL AIFF codec (r12)
# Eighteenth native format, third audio container: Apple/EA IFF AIFF —
# the big-endian chunked sibling of RIFF (FORM/AIFF instead of
# RIFF/WAVE) whose COMM chunk stores the sample rate as an 80-bit IEEE
# 754 EXTENDED float (sign + 15-bit exponent + explicit-leading-bit
# 64-bit mantissa) — the one numeric format no other codec here
# parses.  SSND carries its own offset/blockSize prelude that must be
# honored like the AU data offset.  Chunk order is NOT fixed by the
# spec; the decoder collects chunks first (one fixture puts SSND
# before COMM to pin that).
def _encode_extended80(value: int) -> bytes:
    """Integer -> 80-bit IEEE extended (the only case AIFF needs:
    sample rates are positive integers)."""
    import struct

    if value <= 0:
        raise ValueError("extended80 encoder handles positive ints only")
    b = value.bit_length()
    exponent = 16383 + b - 1
    mantissa = value << (64 - b)  # explicit leading 1 at bit 63
    return struct.pack(">HQ", exponent, mantissa)


def _decode_extended80(raw: bytes) -> int:
    """80-bit IEEE extended -> integer sample rate (rounds the
    fractional part; AIFF writers emit exact integers here)."""
    import struct

    se, mantissa = struct.unpack(">HQ", raw)
    sign, exponent = se >> 15, se & 0x7FFF
    if sign or mantissa == 0:
        raise ValueError("invalid AIFF sample rate")
    if exponent == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    # value = mantissa * 2^(exponent - 16383 - 63)
    shift = exponent - 16383 - 63
    if shift >= 0:
        return mantissa << shift
    half = 1 << (-shift - 1)
    return (mantissa + half) >> (-shift)


def encode_aiff(samples, rate: int, ssnd_offset: int = 0,
                comm_first: bool = True) -> bytes:
    """Build a real mono 16-bit AIFF payload; ssnd_offset > 0 plants
    pad bytes the SSND offset field must skip, comm_first=False swaps
    chunk order (spec-legal)."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype=">i2").tobytes()
    n = len(data) // 2
    comm = b"COMM" + struct.pack(">I", 18) + struct.pack(
        ">hIh", 1, n, 16
    ) + _encode_extended80(rate)
    body = struct.pack(">II", ssnd_offset, 0) + b"\x00" * ssnd_offset + data
    if len(body) % 2:
        body += b"\x00"  # IFF chunks are word-aligned
    ssnd = b"SSND" + struct.pack(">I", len(body)) + body
    chunks = comm + ssnd if comm_first else ssnd + comm
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFF" + chunks


def decode_aiff(payload: bytes):
    """Parse an AIFF payload: returns (rate, int64 numpy samples).
    Collects chunks before interpreting (COMM/SSND order is free),
    honors the SSND offset prelude, validates numSampleFrames and
    mono/16-bit, and raises on truncation."""
    import struct

    import numpy as np

    if (
        len(payload) < 12
        or payload[:4] != b"FORM"
        or payload[8:12] != b"AIFF"
    ):
        raise ValueError("not a FORM/AIFF payload")
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack(">I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated AIFF chunk {cid!r}: need {size} bytes, "
                f"have {len(body)}"
            )
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + size + (size % 2)
    if comm is None or ssnd is None:
        raise ValueError("missing COMM or SSND chunk")
    if len(comm) < 18:
        raise ValueError("COMM chunk too short")
    channels, n_frames, bits = struct.unpack(">hIh", comm[:8])
    rate = _decode_extended80(comm[8:18])
    if channels != 1 or bits != 16:
        raise ValueError(f"expected mono/16-bit, got {channels}ch/{bits}bit")
    offset, _block = struct.unpack(">II", ssnd[:8])
    data = ssnd[8 + offset :]
    if len(data) < 2 * n_frames:
        raise ValueError(
            f"truncated SSND data: need {2 * n_frames} bytes, "
            f"have {len(data)}"
        )
    s = np.frombuffer(data[: 2 * n_frames], dtype=">i2").astype(np.int64)
    return rate, s


_AIFF_PARAMS = [
    # (n_samp, rate, ssnd_offset, comm_first): non-power-of-two rates
    # exercise the extended-float mantissa, one nonzero SSND offset,
    # one SSND-before-COMM chunk order, odd lengths for the pad byte
    (40, 8000, 0, True),
    (33, 11025, 0, True),
    (64, 44100, 4, True),
    (25, 22050, 0, False),
    (101, 48000, 0, True),
    (17, 11025, 8, False),
]
_N_AIFF = len(_AIFF_PARAMS)


def _aiff_payload(i: int) -> bytes:
    """Sawtooth clip i (the WAV fixture family: s_k = (k*step) % (2A)
    - A, closed form shared with the oracle)."""
    import numpy as np

    n_samp, rate, off, cf = _AIFF_PARAMS[i]
    step = 60 + 13 * i
    amp = 1100 + 150 * (i % 5)
    k = np.arange(n_samp, dtype="int64")
    s = (k * step) % (2 * amp) - amp
    return encode_aiff(s, rate, ssnd_offset=off, comm_first=cf)


def _aiff_oracle() -> str:
    rows = ", ".join(
        f"({i}, {n}, {r}, {60 + 13 * i}, {1100 + 150 * (i % 5)})"
        for i, (n, r, _o, _cf) in enumerate(_AIFF_PARAMS)
    )
    return f"""
    WITH params(media_id, n_samp, rate, step, amp) AS (VALUES {rows}),
    samp AS (
      SELECT media_id, rate, n_samp, k,
             (k * step) % (2 * amp) - amp AS s,
             ((k + 1) * step) % (2 * amp) - amp AS s_next
      FROM params,
           LATERAL (SELECT unnest(generate_series(0, n_samp - 1)) AS k) tk
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(rate) AS INT) AS sample_rate,
           CAST(any_value(n_samp) AS BIGINT) AS n_samples,
           CAST(sum(s) AS BIGINT) AS sum_amp,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN k < n_samp - 1 AND s < 0 AND s_next >= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS rising_crossings
    FROM samp
    GROUP BY media_id
    ORDER BY media_id
    """




# ------------------------------------------------ REAL FLAC codec (r13)
# Nineteenth native format, fourth audio container and the first
# *compressed lossless* audio path: native FLAC (RFC 9639 layout, the
# format the reference's media tables would carry for archival audio).
# This brings the entropy-coding depth of the GIF/JPEG decoders to the
# audio column: fixed/LPC linear prediction, Rice/Rice2-coded residual
# partitions (with the escape-to-verbatim case), wasted-bits shifting,
# UTF-8-style coded frame numbers, CRC-8 header and CRC-16 frame
# integrity checks, and the three stereo decorrelation modes
# (left/side, right/side, mid/side) with their bps+1 side channel.
# Bit-exact output means the closed-form sawtooth oracle discipline
# used by every other audio codec here still applies unchanged.
class _FlacBitWriter:
    """MSB-first bit accumulator (FLAC has no byte-stuffing)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        """q zero bits then a terminating one bit (FLAC unary)."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def write_signed(self, value: int, nbits: int) -> None:
        self.write(value & ((1 << nbits) - 1), nbits)

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)

    def bytes(self) -> bytes:
        if self._n:
            raise ValueError("bit writer not byte-aligned")
        return bytes(self.buf)


class _FlacBitReader:
    """MSB-first bit reader over a byte payload with byte-position
    tracking (frame headers and footers are byte-aligned)."""

    def __init__(self, payload: bytes, pos: int = 0) -> None:
        self.payload = payload
        self.pos = pos  # byte position of the NEXT unread byte
        self._acc = 0
        self._n = 0

    def read(self, nbits: int) -> int:
        while self._n < nbits:
            if self.pos >= len(self.payload):
                raise ValueError("truncated FLAC bitstream")
            self._acc = (self._acc << 8) | self.payload[self.pos]
            self.pos += 1
            self._n += 8
        self._n -= nbits
        out = (self._acc >> self._n) & ((1 << nbits) - 1)
        self._acc &= (1 << self._n) - 1
        return out

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        if nbits and v >= (1 << (nbits - 1)):
            v -= 1 << nbits
        return v

    def align(self) -> None:
        # FLAC frame padding bits are spec-required to be zero
        # (RFC 9639 §9.1.5); rejecting nonzero padding keeps the
        # decoder as strict here as on reserved header bits.
        if self._acc:
            raise ValueError("nonzero FLAC frame padding bits")
        self._n = 0
        self._acc = 0

    def byte_pos(self) -> int:
        if self._n % 8:
            raise ValueError("bit reader not byte-aligned")
        return self.pos - self._n // 8


def _crc8_flac(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0, MSB-first — the FLAC
    frame-header CRC.  Catalog check value: crc8(b"123456789") = 0xF4."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0, MSB-first — the
    FLAC whole-frame CRC.  Catalog check (CRC-16/UMTS): 0xFEE8."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _flac_coded_number_encode(v: int) -> bytes:
    """FLAC's extended-UTF-8 coded number (frame/sample index): the
    UTF-8 byte pattern stretched to 7 bytes / 36 bits."""
    if v < 0:
        raise ValueError("coded number must be non-negative")
    if v < 0x80:
        return bytes([v])
    for n_cont in range(1, 7):
        head_bits = 8 - (n_cont + 2) if n_cont < 6 else 0
        if v.bit_length() <= head_bits + 6 * n_cont:
            break
    else:
        raise ValueError("coded number exceeds 36 bits")
    out = bytearray()
    head_prefix = (0xFF << (8 - (n_cont + 1))) & 0xFF
    head_data = (v >> (6 * n_cont)) & ((1 << head_bits) - 1) if head_bits else 0
    out.append(head_prefix | head_data)
    for i in range(n_cont - 1, -1, -1):
        out.append(0x80 | ((v >> (6 * i)) & 0x3F))
    return bytes(out)


def _flac_coded_number_read(br: "_FlacBitReader") -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    ones = 0
    while ones < 8 and (b0 << ones) & 0x80:
        ones += 1
    if ones < 2 or ones > 7:
        raise ValueError("invalid FLAC coded-number head byte")
    n_cont = ones - 1
    head_bits = 8 - (ones + 1) if ones < 7 else 0
    v = b0 & ((1 << head_bits) - 1) if head_bits else 0
    for _ in range(n_cont):
        cb = br.read(8)
        if cb & 0xC0 != 0x80:
            raise ValueError("invalid FLAC coded-number continuation byte")
        v = (v << 6) | (cb & 0x3F)
    return v


def _flac_zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else (-(r << 1) - 1)


def _flac_unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# Fixed-predictor coefficients, order 0..4 (RFC 9639 §9.2.5): the
# polynomial predictors every FLAC implementation shares.
_FLAC_FIXED_COEFFS = (
    (),
    (1,),
    (2, -1),
    (3, -3, 1),
    (4, -6, 4, -1),
)

# Common sample-rate table (frame-header code -> Hz); 0 = streaminfo,
# 12/13/14 = explicit field at header end, 15 = invalid.
_FLAC_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
# Common block-size table (frame-header code -> samples); 6/7 =
# explicit 8-/16-bit field at header end, 0 = reserved.
_FLAC_BLOCKSIZES = {1: 192}
_FLAC_BLOCKSIZES.update({c: 576 << (c - 2) for c in range(2, 6)})
_FLAC_BLOCKSIZES.update({c: 256 << (c - 8) for c in range(8, 16)})
_FLAC_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# One LPC parameterization is enough for the encoder (the decoder
# handles any order/precision/shift): order 2, qlp precision 5 bits,
# shift 1 — pred = (3*s[i-1] - s[i-2]) >> 1, a damped slope follower.
_FLAC_LPC2 = (5, 1, (3, -1))


def _flac_rice_param(vals, rice2: bool) -> int:
    cap = 30 if rice2 else 14
    if not vals:
        return 0
    mean = sum(_flac_zigzag(v) for v in vals) // len(vals)
    return min(max(mean.bit_length() - 1, 0), cap)


def _flac_write_residuals(
    bw: "_FlacBitWriter", residuals, blocksize: int, order: int,
    partition_order: int, rice2: bool, escape: bool,
) -> None:
    if blocksize % (1 << partition_order):
        raise ValueError("block size not divisible by partition count")
    bw.write(1 if rice2 else 0, 2)
    bw.write(partition_order, 4)
    pbits = 5 if rice2 else 4
    esc_code = (1 << pbits) - 1
    part_len = blocksize >> partition_order
    if part_len <= order and partition_order:
        raise ValueError("first partition would be empty")
    for p in range(1 << partition_order):
        lo = (p * part_len - order) if p else 0
        hi = (p + 1) * part_len - order
        vals = residuals[lo:hi]
        if escape:
            bw.write(esc_code, pbits)
            width = max(
                (
                    (v.bit_length() if v >= 0 else (-v - 1).bit_length()) + 1
                    for v in vals
                ),
                default=0,
            )
            bw.write(width, 5)
            for v in vals:
                bw.write_signed(v, width)
        else:
            k = _flac_rice_param(vals, rice2)
            bw.write(k, pbits)
            for v in vals:
                u = _flac_zigzag(v)
                bw.write_unary(u >> k)
                bw.write(u & ((1 << k) - 1), k)


def _flac_read_residuals(
    br: "_FlacBitReader", blocksize: int, order: int,
):
    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual coding method {method}")
    partition_order = br.read(4)
    if blocksize % (1 << partition_order):
        raise ValueError("block size not divisible by partition count")
    pbits = 5 if method else 4
    esc_code = (1 << pbits) - 1
    part_len = blocksize >> partition_order
    out = []
    for p in range(1 << partition_order):
        n = part_len - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC partition shorter than predictor order")
        k = br.read(pbits)
        if k == esc_code:
            width = br.read(5)
            out.extend(
                br.read_signed(width) if width else 0 for _ in range(n)
            )
        else:
            for _ in range(n):
                q = br.read_unary()
                u = (q << k) | (br.read(k) if k else 0)
                out.append(_flac_unzigzag(u))
    return out


def _flac_write_subframe(
    bw: "_FlacBitWriter", block, bps: int, mode: str,
    partition_order: int, rice2: bool, escape: bool, wasted: int,
) -> None:
    vals = [int(v) for v in block]
    if wasted:
        if any(v % (1 << wasted) for v in vals):
            raise ValueError("wasted-bits fixture needs divisible samples")
        vals = [v >> wasted for v in vals]
    eff = bps - wasted
    if mode == "constant":
        if any(v != vals[0] for v in vals):
            raise ValueError("constant subframe over non-constant block")
        type_code, order = 0, 0
    elif mode == "verbatim":
        type_code, order = 1, 0
    elif mode.startswith("fixed"):
        order = int(mode[5:])
        if not 0 <= order <= 4 or order >= len(vals):
            raise ValueError(f"bad fixed order for block: {mode}")
        type_code = 8 + order
    elif mode == "lpc2":
        order = 2
        type_code = 32 + (order - 1)
    else:
        raise ValueError(f"unknown subframe mode {mode}")
    bw.write(0, 1)
    bw.write(type_code, 6)
    if wasted:
        bw.write(1, 1)
        bw.write_unary(wasted - 1)
    else:
        bw.write(0, 1)
    if mode == "constant":
        bw.write_signed(vals[0], eff)
    elif mode == "verbatim":
        for v in vals:
            bw.write_signed(v, eff)
    elif mode.startswith("fixed"):
        for v in vals[:order]:
            bw.write_signed(v, eff)
        coeffs = _FLAC_FIXED_COEFFS[order]
        residuals = [
            vals[i] - sum(c * vals[i - 1 - j] for j, c in enumerate(coeffs))
            for i in range(order, len(vals))
        ]
        _flac_write_residuals(
            bw, residuals, len(vals), order, partition_order, rice2, escape
        )
    else:  # lpc2
        precision, shift, coeffs = _FLAC_LPC2
        for v in vals[:order]:
            bw.write_signed(v, eff)
        bw.write(precision - 1, 4)
        bw.write(shift, 5)
        for c in coeffs:
            bw.write_signed(c, precision)
        residuals = [
            vals[i]
            - (sum(c * vals[i - 1 - j] for j, c in enumerate(coeffs)) >> shift)
            for i in range(order, len(vals))
        ]
        _flac_write_residuals(
            bw, residuals, len(vals), order, partition_order, rice2, escape
        )


def _flac_read_subframe(br: "_FlacBitReader", blocksize: int, bps: int):
    if br.read(1):
        raise ValueError("nonzero FLAC subframe padding bit")
    type_code = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("wasted bits exceed sample size")
    if type_code == 0:
        v = br.read_signed(eff)
        vals = [v] * blocksize
    elif type_code == 1:
        vals = [br.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= type_code <= 12:
        order = type_code - 8
        warm = [br.read_signed(eff) for _ in range(order)]
        residuals = _flac_read_residuals(br, blocksize, order)
        coeffs = _FLAC_FIXED_COEFFS[order]
        vals = list(warm)
        for r in residuals:
            pred = sum(c * vals[-1 - j] for j, c in enumerate(coeffs))
            vals.append(pred + r)
    elif type_code >= 32:
        order = (type_code & 0x1F) + 1
        if order > blocksize:
            raise ValueError("LPC order exceeds block size")
        warm = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("invalid FLAC qlp precision code")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC qlp shift")
        coeffs = [br.read_signed(precision) for _ in range(order)]
        residuals = _flac_read_residuals(br, blocksize, order)
        vals = list(warm)
        for r in residuals:
            pred = sum(c * vals[-1 - j] for j, c in enumerate(coeffs)) >> shift
            vals.append(pred + r)
    else:
        raise ValueError(f"reserved FLAC subframe type {type_code}")
    if wasted:
        vals = [v << wasted for v in vals]
    return vals


def _flac_streaminfo(
    block_size: int, rate: int, channels: int, bps: int, total: int
) -> bytes:
    bw = _FlacBitWriter()
    bw.write(block_size, 16)
    bw.write(block_size, 16)
    bw.write(0, 24)
    bw.write(0, 24)
    bw.write(rate, 20)
    bw.write(channels - 1, 3)
    bw.write(bps - 1, 5)
    bw.write(total, 36)
    body = bw.bytes() + b"\x00" * 16  # MD5 unset (spec: unknown)
    return body


def _flac_frame_header(
    frame_index: int, bs: int, rate: int, ch_assign: int,
    bs8: bool, rate_in_frame,
) -> bytes:
    bw = _FlacBitWriter()
    bw.write(0b11111111111110, 14)
    bw.write(0, 1)  # reserved
    bw.write(0, 1)  # fixed-blocksize strategy
    if bs8:
        if bs > 256:
            raise ValueError("8-bit block size field needs bs <= 256")
        bw.write(0b0110, 4)
    else:
        bw.write(0b0111, 4)
    if rate_in_frame == "khz8":
        if rate % 1000 or rate // 1000 > 255:
            raise ValueError("khz8 rate field needs a kHz-multiple rate")
        bw.write(0b1100, 4)
    elif rate_in_frame == "hz16":
        if rate > 65535:
            raise ValueError("hz16 rate field needs rate < 65536")
        bw.write(0b1101, 4)
    elif rate_in_frame == "dahz16":
        if rate % 10 or rate // 10 > 65535:
            raise ValueError("dahz16 rate field needs a 10-Hz-multiple rate")
        bw.write(0b1110, 4)
    else:
        bw.write(0b0000, 4)  # rate from STREAMINFO
    bw.write(ch_assign, 4)
    bw.write(0b100, 3)  # 16-bit samples
    bw.write(0, 1)  # reserved
    hdr = bytearray(bw.bytes())
    hdr += _flac_coded_number_encode(frame_index)
    if bs8:
        hdr.append(bs - 1)
    else:
        hdr += bytes([(bs - 1) >> 8, (bs - 1) & 0xFF])
    if rate_in_frame == "khz8":
        hdr.append(rate // 1000)
    elif rate_in_frame == "hz16":
        hdr += bytes([rate >> 8, rate & 0xFF])
    elif rate_in_frame == "dahz16":
        hdr += bytes([(rate // 10) >> 8, (rate // 10) & 0xFF])
    hdr.append(_crc8_flac(bytes(hdr)))
    return bytes(hdr)


def encode_flac(
    samples, rate: int, block_size: int = 32, mode: str = "fixed2",
    partition_order: int = 0, rice2: bool = False, escape: bool = False,
    pad_block: bool = False, bs8: bool = False, rate_in_frame=None,
    wasted: int = 0,
) -> bytes:
    """Build a real mono 16-bit FLAC payload (fixed-blocksize strategy).

    ``mode`` picks the subframe type per frame (constant / verbatim /
    fixed0..fixed4 / lpc2); ``partition_order``/``rice2``/``escape``
    steer the residual coding; ``pad_block`` inserts PADDING+APPLICATION
    metadata blocks the decoder must skip; ``bs8``/``rate_in_frame``
    exercise the explicit block-size/sample-rate header fields;
    ``wasted`` shifts out k guaranteed-zero low bits.  The final frame
    may be shorter than ``block_size`` (spec-legal for the last frame);
    partitioned residual modes require every frame to divide evenly, so
    fixtures pair ``partition_order > 0`` with divisible lengths."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if len(s) == 0:
        raise ValueError("empty FLAC sample stream")
    if s.min() < -32768 or s.max() > 32767:
        raise ValueError("samples out of int16 range")
    out = bytearray(b"fLaC")
    last_flag = 0x00 if pad_block else 0x80
    info = _flac_streaminfo(block_size, rate, 1, 16, len(s))
    out += bytes([last_flag | 0]) + len(info).to_bytes(3, "big") + info
    if pad_block:
        out += bytes([0x01]) + (8).to_bytes(3, "big") + b"\x00" * 8
        app = b"sprk" + b"\x01\x02"
        out += bytes([0x80 | 2]) + len(app).to_bytes(3, "big") + app
    for fi, start in enumerate(range(0, len(s), block_size)):
        blk = s[start : start + block_size]
        bs = len(blk)
        frame = bytearray(
            _flac_frame_header(fi, bs, rate, 0, bs8, rate_in_frame)
        )
        bw = _FlacBitWriter()
        fmode = mode
        order = (
            int(mode[5:]) if mode.startswith("fixed")
            else 2 if mode == "lpc2" else 0
        )
        if mode != "constant" and bs <= order:
            fmode, order = "verbatim", 0  # tail too short to warm predictor
        po = partition_order
        while po and (bs % (1 << po) or (bs >> po) <= order):
            po -= 1  # spec: first partition must keep > 0 residuals
        _flac_write_subframe(bw, blk, 16, fmode, po, rice2, escape, wasted)
        bw.align()
        frame += bw.bytes()
        frame += _crc16_flac(bytes(frame)).to_bytes(2, "big")
        out += frame
    return bytes(out)


def encode_flac_stereo(left, right, rate: int, assign: str) -> bytes:
    """Stereo FLAC with one verbatim frame; ``assign`` picks the
    decorrelation (independent / left_side / right_side / mid_side) —
    the encoder-side inverse of the decoder's reconstruction, used to
    pin the bps+1 side-channel path."""
    import numpy as np

    l = np.asarray(left, dtype=np.int64)
    r = np.asarray(right, dtype=np.int64)
    if len(l) != len(r) or len(l) == 0:
        raise ValueError("stereo FLAC needs equal nonempty channels")
    side = l - r
    if assign == "independent":
        ch_assign, chans, widths = 1, (l, r), (16, 16)
    elif assign == "left_side":
        ch_assign, chans, widths = 8, (l, side), (16, 17)
    elif assign == "right_side":
        ch_assign, chans, widths = 9, (side, r), (17, 16)
    elif assign == "mid_side":
        mid = (l + r) >> 1
        ch_assign, chans, widths = 10, (mid, side), (16, 17)
    else:
        raise ValueError(f"unknown stereo assignment {assign}")
    out = bytearray(b"fLaC")
    info = _flac_streaminfo(len(l), rate, 2, 16, len(l))
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info
    frame = bytearray(
        _flac_frame_header(0, len(l), rate, ch_assign, False, None)
    )
    bw = _FlacBitWriter()
    for ch, width in zip(chans, widths):
        bw.write(0, 1)
        bw.write(1, 6)  # verbatim
        bw.write(0, 1)
        for v in ch:
            bw.write_signed(int(v), width)
    bw.align()
    frame += bw.bytes()
    frame += _crc16_flac(bytes(frame)).to_bytes(2, "big")
    out += frame
    return bytes(out)


def decode_flac_full(payload: bytes):
    """Parse a FLAC payload: returns (rate, n_channels, int64 samples
    of shape (n, channels)).  Verifies the sync code, reserved bits,
    header CRC-8 and frame CRC-16, resolves block-size / sample-rate /
    sample-size codes (common tables, STREAMINFO fallback, and the
    explicit end-of-header fields), decodes constant / verbatim /
    fixed / LPC subframes with Rice, Rice2 and escaped residual
    partitions plus wasted bits, undoes stereo decorrelation, and
    cross-checks the STREAMINFO total-sample count when set."""
    import numpy as np

    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos, info, last = 4, None, False
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata block header")
        b0 = payload[pos]
        last, btype = bool(b0 & 0x80), b0 & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("truncated FLAC metadata block body")
        if info is None and btype != 0:
            raise ValueError("first FLAC metadata block must be STREAMINFO")
        if btype == 0:
            if length != 34:
                raise ValueError("STREAMINFO must be 34 bytes")
            info = body
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type 127")
        pos += 4 + length
    br0 = _FlacBitReader(info)
    br0.read(16)  # min block size
    br0.read(16)  # max block size
    br0.read(24)  # min frame size (0 = unknown)
    br0.read(24)  # max frame size
    si_rate = br0.read(20)
    channels = br0.read(3) + 1
    bps = br0.read(5) + 1
    total = br0.read(36)
    out_rate = None
    per_ch: list = [[] for _ in range(channels)]
    while pos < len(payload):
        frame_start = pos
        br = _FlacBitReader(payload, pos)
        if br.read(14) != 0b11111111111110:
            raise ValueError("bad FLAC frame sync code")
        if br.read(1):
            raise ValueError("nonzero FLAC frame reserved bit")
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("nonzero FLAC frame reserved bit")
        _flac_coded_number_read(br)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code 0")
        elif bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        else:
            bs = _FLAC_BLOCKSIZES[bs_code]
        if sr_code == 0:
            rate = si_rate
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code 15")
        else:
            rate = _FLAC_RATES[sr_code]
        if ss_code == 0:
            frame_bps = bps
        elif ss_code == 3:
            raise ValueError("reserved FLAC sample size code 3")
        else:
            frame_bps = _FLAC_SAMPLE_SIZES[ss_code]
        if ch_code <= 7:
            nch, side_mode = ch_code + 1, None
        elif ch_code in (8, 9, 10):
            nch, side_mode = 2, ch_code
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        if nch != channels:
            raise ValueError("frame channel count differs from STREAMINFO")
        hdr_end = br.byte_pos()
        crc8 = br.read(8)
        if crc8 != _crc8_flac(payload[frame_start:hdr_end]):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        subs = []
        for ch in range(nch):
            ch_bps = frame_bps
            if (side_mode == 8 and ch == 1) or (side_mode == 9 and ch == 0) \
                    or (side_mode == 10 and ch == 1):
                ch_bps += 1  # the side channel carries one extra bit
            subs.append(_flac_read_subframe(br, bs, ch_bps))
        br.align()
        body_end = br.byte_pos()
        crc16 = br.read(16)
        if crc16 != _crc16_flac(payload[frame_start:body_end]):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = body_end + 2
        if side_mode == 8:  # left/side: right = left - side
            left, side = subs
            subs = [left, [a - b for a, b in zip(left, side)]]
        elif side_mode == 9:  # right/side: left = side + right
            side, right = subs
            subs = [[a + b for a, b in zip(side, right)], right]
        elif side_mode == 10:  # mid/side
            mid, side = subs
            subs_l = [(((m << 1) | (sd & 1)) + sd) >> 1 for m, sd in zip(mid, side)]
            subs_r = [(((m << 1) | (sd & 1)) - sd) >> 1 for m, sd in zip(mid, side)]
            subs = [subs_l, subs_r]
        for ch in range(channels):
            per_ch[ch].extend(subs[ch])
        if out_rate is None:
            out_rate = rate
        elif out_rate != rate:
            raise ValueError("FLAC frames disagree on sample rate")
    if out_rate is None:
        raise ValueError("FLAC payload contains no frames")
    n = len(per_ch[0])
    if total and total != n:
        raise ValueError(
            f"STREAMINFO declares {total} samples, frames carry {n}"
        )
    arr = np.stack(
        [np.asarray(c, dtype=np.int64) for c in per_ch], axis=1
    )
    return out_rate, channels, arr


def decode_flac(payload: bytes):
    """Mono convenience wrapper: (rate, int64 samples); raises on
    multichannel payloads (callers needing stereo use
    decode_flac_full)."""
    rate, channels, arr = decode_flac_full(payload)
    if channels != 1:
        raise ValueError(f"expected mono FLAC, got {channels} channels")
    return rate, arr[:, 0]


_FLAC_PARAMS = [
    # (n_samp, rate, block_size, mode, partition_order, step, amp,
    #  extra-kwargs) — sawtooth clips s_k = (k*step) % (2*amp) - amp,
    # the closed form every audio oracle here shares.  The fixtures
    # jointly cover: multi-frame streams with a short tail frame,
    # every subframe family (constant / verbatim / fixed / LPC),
    # Rice + Rice2 + escaped residual partitions at orders 0-2, the
    # explicit 8-bit block-size and kHz/Hz/daHz sample-rate header
    # fields, PADDING/APPLICATION metadata skipping, and wasted bits
    # (step/amp divisible by 4 so every sample has 2 zero low bits).
    (96, 8000, 32, "fixed2", 1, 60, 1100, {}),
    (70, 44100, 32, "verbatim", 0, 73, 1250, {}),
    (128, 22050, 32, "fixed3", 2, 86, 1400, {"rice2": True}),
    (60, 16000, 16, "fixed1", 0, 99, 1550,
     {"escape": True, "rate_in_frame": "khz8"}),
    (100, 48000, 32, "lpc2", 1, 112, 1700, {"rate_in_frame": "dahz16"}),
    (48, 11025, 16, "fixed4", 0, 125, 1100,
     {"pad_block": True, "bs8": True}),
    (80, 32000, 32, "fixed2", 1, 64, 1200, {"wasted": 2}),
    (64, 22050, 64, "constant", 0, 2000, 1000, {"rate_in_frame": "hz16"}),
]
_N_FLAC = len(_FLAC_PARAMS)


def _flac_payload(i: int) -> bytes:
    """Sawtooth clip i FLAC-encoded with its fixture's subframe mode
    (bit-exact lossless decode makes the closed-form sawtooth oracle
    apply unchanged)."""
    import numpy as np

    n_samp, rate, bs, mode, po, step, amp, kw = _FLAC_PARAMS[i]
    k = np.arange(n_samp, dtype="int64")
    s = (k * step) % (2 * amp) - amp
    return encode_flac(
        s, rate, block_size=bs, mode=mode, partition_order=po, **kw
    )


def _flac_oracle() -> str:
    rows = ", ".join(
        f"({i}, {n}, {r}, {step}, {amp})"
        for i, (n, r, _bs, _m, _po, step, amp, _kw) in enumerate(_FLAC_PARAMS)
    )
    return f"""
    WITH params(media_id, n_samp, rate, step, amp) AS (VALUES {rows}),
    samp AS (
      SELECT media_id, rate, n_samp, k,
             (k * step) % (2 * amp) - amp AS s,
             ((k + 1) * step) % (2 * amp) - amp AS s_next
      FROM params,
           LATERAL (SELECT unnest(generate_series(0, n_samp - 1)) AS k) tk
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(any_value(rate) AS INT) AS sample_rate,
           CAST(any_value(n_samp) AS BIGINT) AS n_samples,
           CAST(sum(s) AS BIGINT) AS sum_amp,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN k < n_samp - 1 AND s < 0 AND s_next >= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS rising_crossings
    FROM samp
    GROUP BY media_id
    ORDER BY media_id
    """




# --------------------------- fractional audio resampling (round 14)
_RS_UP = 8     # src rate / dst rate = 8/5 (8000 -> 5000 Hz), the
_RS_DOWN = 5   # non-integer-ratio case decimate-by-2 cannot express


def _audio_resample_stats(mid: int, payload: bytes) -> list:
    """Fractional-ratio linear-interpolation resampling (8000 ->
    5000 Hz) over a decoded WAV payload — the production ML
    preprocessing resampler (44.1k -> 16k is the canonical instance of
    a NON-integer ratio), where ``multimodal_audio_decimate`` covers
    only the integer-factor boxcar case.  Output sample j sits at
    input phase p_j = j*up/down; with num = j*up, idx = num div down,
    frac = num mod down, the 2-tap kernel is

      y_j = (s[idx]*(down-frac) + s[idx+1]*frac + 40000) div down - 8000

    EXACT-INTEGER by the decimate offset trick: |s| <= 1600 in the
    fixture family bounds the kernel numerator by +-8000, and +40000
    (a multiple of down, > 8000*down/..) keeps the dividend
    nonnegative so truncating and flooring division agree across
    engines.  j ranges over m = (down*(n-1)) div up samples so idx+1
    never reads past the clip.  Emits the family's standard exact
    stats projection (sum / sumsq / min / max / j-weighted sum — the
    jsum moves if the phase accumulator misaligns by even one tap).

    100 TB shape: decode + resample + stats in ONE Arrow mapInPandas
    pass (per-file work, no shuffle); the oracle derives every value
    from the shared sawtooth closed form and never sees a byte.
    """
    import numpy as np

    rate, s = decode_wav(payload)
    s64 = s.astype("int64")
    n = len(s64)
    m = (_RS_DOWN * (n - 1)) // _RS_UP
    if m <= 0:
        # a <=2-sample clip yields no output samples; the oracle's
        # empty generate_series omits the row, so skip it here too
        # instead of crashing on empty reductions
        return []
    j = np.arange(m, dtype="int64")
    num = _RS_UP * j
    idx = num // _RS_DOWN
    frac = num % _RS_DOWN
    v = s64[idx] * (_RS_DOWN - frac) + s64[idx + 1] * frac
    y = (v + 40000) // _RS_DOWN - 8000
    jw = np.arange(m, dtype="int64")
    return [
        (mid, int(rate) * _RS_DOWN // _RS_UP, m, int(y.sum()),
         int((y * y).sum()), int(y.min()), int(y.max()), int((y * jw).sum()))
    ]


def _audio_resample_oracle() -> str:
    rows = ", ".join(
        f"({i}, {64 + 16 * (i % 4)}, {50 + 7 * i}, {1000 + 100 * (i % 7)})"
        for i in range(_N_WAV)
    )
    up, down = _RS_UP, _RS_DOWN
    return f"""
    WITH params(media_id, n_samp, step, amp) AS (VALUES {rows}),
    y AS (
      SELECT media_id, jj,
             ((((({up} * jj) // {down}) * step) % (2 * amp) - amp)
                * ({down} - ({up} * jj) % {down})
              + (((({up} * jj) // {down} + 1) * step) % (2 * amp) - amp)
                * (({up} * jj) % {down})
              + 40000) // {down} - 8000 AS v
      FROM params,
           unnest(generate_series(
             0, ({down} * (n_samp - 1)) // {up} - 1)) AS t(jj)
    )
    SELECT y.media_id,
           CAST({_WAV_RATE} * {down} // {up} AS INT) AS rate_out,
           CAST(count(*) AS BIGINT) AS n_out,
           CAST(sum(v) AS BIGINT) AS sum_out,
           CAST(sum(v * v) AS BIGINT) AS sumsq_out,
           CAST(min(v) AS BIGINT) AS min_out,
           CAST(max(v) AS BIGINT) AS max_out,
           CAST(sum(jj * v) AS BIGINT) AS jsum_out
    FROM y
    GROUP BY y.media_id
    ORDER BY y.media_id
    """


# ------------------------------------------------------------ codec table
# One row per codec entry, in registration order.  Derived entries
# (histogram equalization, decimation, normalization, resampling,
# tiling) reuse their source codec's payload function; the two image
# hashes are fingerprint rows whose pair stage is the graded entry.
CODECS: dict[str, CodecSpec] = {
    spec.name: spec
    for spec in (
        CodecSpec("multimodal_ppm_decode", _N_PPM, _ppm_payload, _ppm_stats,
                  _PPM_SCHEMA, _PPM_ORACLE),
        CodecSpec("multimodal_wav_decode", _N_WAV, _wav_payload,
                  _pcm_stats(decode_wav), _WAV_SCHEMA, _WAV_ORACLE),
        CodecSpec("multimodal_bmp_decode", _N_BMP, _bmp_payload, _bmp_stats,
                  _BMP_SCHEMA, _BMP_ORACLE),
        CodecSpec("multimodal_png_decode", _N_PNG, _png_payload, _png_stats,
                  _PNG_SCHEMA, _PNG_ORACLE),
        CodecSpec("multimodal_y4m_frames", _N_Y4M, _y4m_payload, _y4m_stats,
                  _Y4M_SCHEMA, _Y4M_ORACLE, sort=("media_id", "frame_idx")),
        CodecSpec("multimodal_gif_decode", _N_GIF, _gif_payload, _gif_stats,
                  _GIF_SCHEMA, _GIF_ORACLE),
        CodecSpec("multimodal_jpeg_decode", _N_JPEG, _jpeg_payload,
                  _jpeg_stats, _JPEG_SCHEMA, _JPEG_ORACLE),
        CodecSpec("multimodal_adpcm_decode", _N_ADPCM, _adpcm_payload,
                  _adpcm_stats, _ADPCM_SCHEMA, _ADPCM_ORACLE),
        CodecSpec("multimodal_jpeg_ac_decode", _N_JPEG_AC, _jpeg_ac_payload,
                  _jpeg_ac_stats, _JPEG_SCHEMA, _JPEG_AC_ORACLE),
        CodecSpec("multimodal_g711_decode", _N_G711, _g711_payload,
                  _g711_stats, _G711_SCHEMA, _G711_ORACLE),
        CodecSpec("multimodal_scene_cut", _N_SCENE, _scene_payload,
                  _scene_stats, _SCENE_SCHEMA, _SCENE_ORACLE),
        CodecSpec("multimodal_audio_energy", _N_AUDIO_E, _audio_e_payload,
                  _audio_e_stats, _AUDIO_E_SCHEMA, _AUDIO_E_ORACLE),
        CodecSpec("multimodal_tiff_decode", _N_TIFF, _tiff_payload,
                  _tiff_stats, _TIFF_SCHEMA, _tiff_oracle()),
        CodecSpec("multimodal_qoi_decode", _N_QOI, _qoi_payload,
                  _rgba_stats(decode_qoi), _RGBA_SCHEMA, _qoi_oracle()),
        CodecSpec("multimodal_exif_parse", _N_JPEG, _exif_payload,
                  _exif_stats, _EXIF_SCHEMA, _exif_oracle()),
        CodecSpec("multimodal_tga_decode", _N_TGA, _tga_payload,
                  _rgba_stats(decode_tga), _RGBA_SCHEMA, _tga_oracle()),
        CodecSpec("dedup_image_ahash", len(_AHASH_COEFFS), _ahash_payload,
                  _ahash_stats, _FINGERPRINT_SCHEMA, _ahash_oracle(),
                  sort=(), pairs=_ahash_pairs),
        CodecSpec("dedup_image_phash", _PHASH_N, _phash_payload,
                  _phash_stats, _FINGERPRINT_SCHEMA, _phash_oracle(),
                  sort=(), pairs=_phash_pairs),
        CodecSpec("multimodal_hist_equalize", _N_TGA, _tga_payload,
                  _hist_eq_stats, _HIST_EQ_SCHEMA, _hist_eq_oracle()),
        CodecSpec("multimodal_audio_decimate", _N_WAV, _wav_payload,
                  _audio_decimate_stats, _RATE_OUT_SCHEMA,
                  _audio_decimate_oracle()),
        CodecSpec("multimodal_pcx_decode", _N_PCX, _pcx_payload,
                  _rgba_stats(decode_pcx), _RGBA_SCHEMA, _pcx_oracle()),
        CodecSpec("multimodal_image_tile", _N_PCX, _pcx_payload,
                  _image_tile_stats, _TILE_SCHEMA, _image_tile_oracle(),
                  sort=("media_id", "tile_y", "tile_x")),
        CodecSpec("multimodal_audio_normalize", _N_WAV, _wav_payload,
                  _audio_normalize_stats, _NORM_SCHEMA,
                  _audio_normalize_oracle()),
        CodecSpec("multimodal_sunras_decode", _N_RAS, _ras_payload,
                  _rgba_stats(decode_sunras), _RGBA_SCHEMA, _sunras_oracle()),
        CodecSpec("multimodal_ico_decode", _N_ICO, _ico_payload, _ico_stats,
                  _ICO_SCHEMA, _ICO_ORACLE),
        CodecSpec("multimodal_audio_downmix", _N_DOWNMIX, _stereo_payload,
                  _downmix_stats, _DOWNMIX_SCHEMA, _DOWNMIX_ORACLE),
        CodecSpec("multimodal_au_decode", _N_AU, _au_payload, _au_stats,
                  _G711_SCHEMA, _AU_ORACLE),
        CodecSpec("multimodal_xbm_decode", _N_XBM, _xbm_payload, _xbm_stats,
                  _XBM_SCHEMA, _xbm_oracle()),
        CodecSpec("multimodal_aiff_decode", _N_AIFF, _aiff_payload,
                  _pcm_stats(decode_aiff), _WAV_SCHEMA, _aiff_oracle()),
        CodecSpec("multimodal_flac_decode", _N_FLAC, _flac_payload,
                  _pcm_stats(decode_flac), _WAV_SCHEMA, _flac_oracle()),
        CodecSpec("multimodal_audio_resample", _N_WAV, _wav_payload,
                  _audio_resample_stats, _RATE_OUT_SCHEMA,
                  _audio_resample_oracle()),
    )
}


def _codec_entry(spec: CodecSpec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = codec_frame(spark, spec)
        return spec.pairs(df) if spec.pairs else df

    run.__name__ = f"query_{spec.name}"
    return run


for _spec in CODECS.values():
    register(_spec.name, _codec_entry(_spec), oracle=_spec.oracle)
