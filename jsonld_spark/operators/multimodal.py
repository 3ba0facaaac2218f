"""Multimodal columns: opaque binary media + typed metadata.

Media (image/audio/video) rides through the pipeline as an opaque
``binary`` column with a typed metadata struct — Spark never interprets
the bytes; decode/feature-extract runs per item through
``kernels.map_rows``, so the JVM↔Python boundary is crossed once per
Arrow batch, not per row.

The image/audio codec libraries are not available in this container, so
the decode step is STUBBED: ``decode_image`` raises
``NotImplementedError`` unless PIL is importable, and
``extract_media_features`` falls back to a deterministic fake feature
(derived from the md5 of the bytes) with the REAL Spark-side plumbing —
schema, batch shape, binary Arrow transfer — exercised end to end and
oracle-checked. Swapping in a real decoder changes only the inner
per-item function.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import map_rows

try:  # decode path gated behind an import-try (not in this container)
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except Exception:
    _HAS_PIL = False

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])),
])

FEATURE_DIM = 8

# the columns every media kernel reads
_MEDIA_COLS = ["doc_id", "media_ref", "content"]

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("content_hex", T.StringType()),
    T.StructField("feature", T.ArrayType(T.DoubleType())),
])


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic media table from the documents table:
    content = md5 digest bytes of the doc id (16 opaque bytes standing in
    for encoded media), metadata filled from doc fields. Pure column
    expressions — at real scale this stage is the Iceberg media scan."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("https://media.example/img/"),
                 F.col("doc_id").cast("string"), F.lit(".jpg"))
         .alias("media_ref"),
        F.unhex(F.md5(F.col("doc_id").cast("string"))).alias("content"),
        F.struct(F.lit("jpeg").alias("format"),
                 (F.col("n_chars") % 1024).cast("int").alias("width"),
                 (F.col("n_chars") % 768).cast("int").alias("height"))
         .alias("meta"),
    )


def decode_image(content: bytes):
    """Decode encoded image bytes. STUB: requires PIL, absent here."""
    if not _HAS_PIL:
        raise NotImplementedError(
            "image decode requires PIL — not available in this container; "
            "extract_media_features uses the deterministic fallback")
    import io
    return Image.open(io.BytesIO(content))


def _feature_from_bytes(content: bytes) -> list[float]:
    """Deterministic fake feature: first FEATURE_DIM bytes of
    md5(hex(content)) scaled to [0,1] — hex-string based so it is
    reproducible in SQL oracles (md5-over-blob isn't portable)."""
    d = hashlib.md5(content.hex().encode()).digest()
    return [d[i] / 255.0 for i in range(FEATURE_DIM)]


def extract_media_features(media: DataFrame) -> DataFrame:
    """binary content → (n_bytes, content_hex, feature[FEATURE_DIM]).

    One Python invocation per Arrow batch; the binary column arrives as
    bytes objects. The decode step would slot in per element here
    (vectorized libs like pillow-simd / torchvision batch decode when
    available)."""

    def extract(doc_id, media_ref, content):
        if _HAS_PIL:  # real decode path (unreachable here)
            img = decode_image(content)  # pragma: no cover
            feature = _feature_from_bytes(img.tobytes())
        else:
            feature = _feature_from_bytes(content)
        return [(doc_id, media_ref, len(content), content.hex(), feature)]

    return map_rows(media, extract, FEATURE_SCHEMA, _MEDIA_COLS)


RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("content_hex", T.StringType()),
])


def resize_media(media: DataFrame, width: int = 224,
                 height: int = 224) -> DataFrame:
    """Resize the media payload to (width, height) — the standard
    vision-model preprocessing stage. Real path: PIL decode → resize →
    re-encode per element inside the Arrow batch (absent here). Fake
    path: output bytes = md5 digest of (content_hex | WxH) — a pure
    content function with the same schema/batch shape, reproducible in
    the SQL oracle, so the distributed plumbing is exercised end to
    end and a real codec swaps in by replacing one inner function."""

    def resize(doc_id, media_ref, content):
        if _HAS_PIL:  # pragma: no cover - real decode+resize
            img = decode_image(content).resize((width, height))
            out_hex = img.tobytes().hex()
        else:
            out_hex = hashlib.md5(
                f"{content.hex()}|{width}x{height}".encode()).hexdigest()
        return [(doc_id, media_ref, width, height, out_hex)]

    return map_rows(media, resize, RESIZE_SCHEMA, _MEDIA_COLS)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_sig", T.StringType()),
])


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Uniform frame sampling from a video payload: ``n_frames`` rows
    per media item. Real path: a container demuxer seeks to frame
    i/n_frames and decodes (no codec libs here). Fake path: frame_sig =
    md5(content_hex | 'frame' | i) — deterministic per (content, index),
    SQL-reproducible. One input row fans out to n_frames output rows
    inside the Arrow batch, the exact shape a real sampler produces."""
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")

    def sample(doc_id, media_ref, content):
        hx = content.hex()
        return [(doc_id, media_ref, i,
                 hashlib.md5(f"{hx}|frame|{i}".encode()).hexdigest())
                for i in range(n_frames)]

    return map_rows(media, sample, FRAME_SCHEMA, _MEDIA_COLS)
