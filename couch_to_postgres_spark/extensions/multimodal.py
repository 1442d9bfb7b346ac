"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, shaped JVM-side.

``attach_binary`` wraps a text table as an asset table (the payload is
the deterministic stand-in for a media blob) and ``frame_sample``
explodes a payload into byte-window frames; a real decoder replaces
only the byte-window kernel. Metadata columns stay separate from the
payloads, so metadata-only queries never read the blobs (parquet column
pruning does the rest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_binary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Wrap a text table as a multimodal asset table: payload = utf-8 bytes
    (the deterministic fake for an image/audio blob), metadata computed
    JVM-side (``octet_length``/``md5`` — never a Python crossing)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.lit("application/fake").alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


def frame_sample(
    assets: DataFrame, every_n_bytes: int = 64, frame_bytes: int = 16
) -> DataFrame:
    """Frame sampling over an opaque video-like payload: emit one row per
    sampled frame (byte-window) with its offset. The Spark-side shape of
    video frame extraction — explode to (asset, frame_no) granularity with
    payload slices; a real decoder replaces the byte-window kernel.
    JVM-side: sequence + transform + substring on binary, no Python."""
    n_frames = F.greatest(
        (F.col("n_bytes") / F.lit(every_n_bytes)).cast("int"), F.lit(1)
    )
    frames = F.transform(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: F.struct(
            i.alias("frame_no"),
            (i * every_n_bytes).alias("offset"),
            F.substring(
                F.col("payload"), i * every_n_bytes + 1, frame_bytes
            ).alias("frame"),
        ),
    )
    return assets.select(
        "asset_id", F.explode(frames).alias("f")
    ).select(
        "asset_id",
        F.col("f.frame_no").alias("frame_no"),
        F.col("f.offset").alias("offset"),
        F.col("f.frame").alias("frame"),
        F.octet_length("f.frame").cast("long").alias("frame_bytes"),
    )
