"""Multimodal column handling: image/audio/video as opaque binary columns.

The Spark-side plumbing — schema, partition sizing, Arrow batch shape,
mapInPandas signatures — and the codecs are both real:
``extract_media_features`` decodes PNG and RIFF-WAVE bytes with the
pure-stdlib codecs in ``operators/codecs.py`` (dimensions, channels,
sample rate, exact pixel/sample statistics) and RAISES on bytes it cannot
read. The md5-derived fake decode survives only behind an explicit
``codec="fake"`` opt-in (plumbing tests / SQL-oracle parity for arbitrary
bytes) — fakes never ship silently.

Scale notes: binary payloads dominate row size, so
- `spark.sql.files.maxPartitionBytes` governs scan parallelism (Spark's
  128 MiB default; ``tests/test_session.py`` pins it);
- feature extraction uses ``mapInPandas`` (Arrow batches, one Python worker
  per core, streaming iterator — no full-partition materialization);
- metadata is a typed struct column so filters on width/height/duration
  prune parquet row groups WITHOUT touching the blob column (columnar wins).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Typed metadata carried alongside every media blob.
MEDIA_META = StructType(
    [
        StructField("media_type", StringType()),   # image|audio|video
        StructField("format", StringType()),       # png|jpeg|wav|mp4|...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("size_bytes", LongType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", StringType()),      # md5 content digest
        StructField("n_bytes", LongType()),
        StructField("thumb_w", IntegerType()),
        StructField("thumb_h", IntegerType()),
    ]
)

MEDIA_FEATURES = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_bytes", LongType()),
        StructField("value_count", LongType()),
        StructField("value_sum", LongType()),
        StructField("value_min", IntegerType()),
        StructField("value_max", IntegerType()),
    ]
)


def fake_dims_from_hash(content: bytes) -> tuple[int, int]:
    """Deterministic FAKE dimensions from the content hash — only for
    exercising the distributed plumbing with arbitrary (non-media) bytes,
    and only ever reached via an explicit ``codec="fake"``."""
    h = hashlib.md5(content or b"").digest()
    return 64 + h[0] % 192, 64 + h[1] % 192  # (w, h) in [64, 256)


def extract_media_features(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """REAL media feature extraction: Arrow-batched mapInPandas over the
    blob column, decoding PNG/WAV bytes with the stdlib codecs
    (operators/codecs.py) into typed metadata + exact value statistics.
    Unrecognized or corrupt bytes raise (fail the task) rather than emit
    fabricated features. Iterator contract: memory stays at one Arrow
    batch regardless of partition size."""
    from etl_jetro_spark.operators.codecs import decode_media

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(content) if content is not None else b""
                meta = decode_media(blob)
                rows.append(
                    {
                        "media_id": int(mid),
                        "format": meta["format"],
                        "width": meta["width"],
                        "height": meta["height"],
                        "channels": meta["channels"],
                        "sample_rate": meta["sample_rate"],
                        "duration_ms": meta["duration_ms"],
                        "n_bytes": len(blob),
                        "value_count": meta["value_count"],
                        "value_sum": meta["value_sum"],
                        "value_min": meta["value_min"],
                        "value_max": meta["value_max"],
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(run, MEDIA_FEATURES)


def attach_meta(df: DataFrame, content_col: str = "content", media_type: str = "image") -> DataFrame:
    """Attach the typed metadata struct (cheap fields computed JVM-side;
    decode-dependent fields left NULL until extract_features)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(None).cast("string").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(content_col)).cast("long").alias("size_bytes"),
        ),
    )


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    codec: str = "strict",
) -> DataFrame:
    """Arrow-batched feature extraction over the blob column via mapInPandas.

    ``codec="strict"`` (default) decodes real media bytes (PNG/WAV) for the
    thumb dimensions and raises on anything else; ``codec="fake"`` derives
    dimensions from the content hash — an explicit opt-in for plumbing
    tests and SQL-oracle parity over arbitrary bytes, never a default.
    The iterator contract keeps memory at one Arrow batch regardless of
    partition size — the correct shape for multi-GB media partitions.
    """
    if codec not in ("strict", "fake"):
        raise ValueError(f"codec must be 'strict' or 'fake', got {codec!r}")
    if codec == "strict":
        from etl_jetro_spark.operators.codecs import decode_media

        def dims_of(blob: bytes) -> tuple[int, int]:
            m = decode_media(blob)
            return (m["width"] or 0, m["height"] or 0)

    else:
        dims_of = fake_dims_from_hash

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf[content_col]
            dims = [dims_of(bytes(c) if c is not None else b"") for c in content]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "feature": [
                        hashlib.md5(c if c is not None else b"").hexdigest()
                        for c in content
                    ],
                    "n_bytes": [len(c) if c is not None else 0 for c in content],
                    "thumb_w": [d[0] for d in dims],
                    "thumb_h": [d[1] for d in dims],
                }
            )

    return df.select(id_col, content_col).mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts) to
    extract, derived from duration metadata — the distribution-side half of
    frame sampling, with the actual decode behind the same stub boundary."""
    return (
        df.select("media_id", F.col("meta.duration_ms").alias("dur"))
        .filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("dur") - 1, F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


def image_patch_stats(
    df: DataFrame,
    grid_rows: int = 2,
    grid_cols: int = 2,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """ViT-style patch featurization over a binary image column: decode
    each grayscale PNG (operators/codecs.png_raster) inside an Arrow
    ``mapInPandas`` batch iterator and emit ONE ROW PER PATCH of a
    ``grid_rows x grid_cols`` tiling — ``(media_id, patch_id, px_count,
    px_sum, px_min, px_max)``. Pixel ``(x, y)`` belongs to patch
    ``(y*grid_rows)//h * grid_cols + (x*grid_cols)//w`` — the standard
    integer tiling that stays exact for any image size (no float
    resampling), so an oracle can recompute every stat analytically.

    Scale: the fan-out is grid-bounded (rows x cols per image); memory
    stays at one Arrow batch of blobs regardless of partition size, and
    partition sizing over the binary column is governed by
    ``maxPartitionBytes``. Color images raise (honest envelope: patching
    multi-channel rasters needs a channel policy the caller must pick)."""
    from etl_jetro_spark.operators.codecs import png_raster

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("patch_id", IntegerType(), False),
            StructField("px_count", LongType(), False),
            StructField("px_sum", LongType(), False),
            StructField("px_min", IntegerType(), False),
            StructField("px_max", IntegerType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                w, h, ch, px = png_raster(bytes(content))
                if ch != 1:
                    raise ValueError(
                        "image_patch_stats: grayscale rasters only"
                    )
                buckets: dict[int, list[int]] = {}
                for y in range(h):
                    prow = (y * grid_rows) // h
                    base = y * w
                    for x in range(w):
                        pid = prow * grid_cols + (x * grid_cols) // w
                        buckets.setdefault(pid, []).append(px[base + x])
                for pid in sorted(buckets):
                    vals = buckets[pid]
                    rows.append(
                        {
                            "media_id": int(mid),
                            "patch_id": pid,
                            "px_count": len(vals),
                            "px_sum": sum(vals),
                            "px_min": min(vals),
                            "px_max": max(vals),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(run, schema)


def wav_energy_windows(
    df: DataFrame,
    window_ms: int = 10,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Frame-level audio energy (the decode+window half of a VAD /
    silence-trim stage): decode each PCM WAV (operators/codecs.wav_pcm)
    inside Arrow ``mapInPandas`` and emit ONE ROW PER ENERGY WINDOW of
    ``window_ms`` — ``(media_id, window_id, n_samples, sumsq)``. The sum
    of squares stays an exact BIGINT (16-bit samples: 80 samples x
    32768^2 << 2^63) so callers derive RMS as ``sqrt(sumsq/n)`` with a
    single well-defined float op an oracle reproduces bit-for-bit.
    Multi-channel audio raises (a window policy per channel is the
    caller's choice). Fan-out is duration-bounded (n_samples/window),
    memory one Arrow batch."""
    from etl_jetro_spark.operators.codecs import wav_pcm

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("window_id", IntegerType(), False),
            StructField("n_samples", LongType(), False),
            StructField("sumsq", LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                rate, channels, vals = wav_pcm(bytes(content))
                if channels != 1:
                    raise ValueError("wav_energy_windows: mono only")
                win = max(1, (rate * window_ms) // 1000)
                for w0 in range(0, len(vals), win):
                    chunk = vals[w0 : w0 + win]
                    rows.append(
                        {
                            "media_id": int(mid),
                            "window_id": w0 // win,
                            "n_samples": len(chunk),
                            "sumsq": sum(s * s for s in chunk),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(run, schema)
