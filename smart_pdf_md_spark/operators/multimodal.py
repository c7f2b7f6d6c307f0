"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are `binary` columns with a metadata struct. The
sandbox has no image/audio bytes, so `documents_as_media` stands document
text in for the payload; the metadata is derived scan-side from pure
expressions, so the payload column is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, media_type string, payload binary, "
    "meta struct<width:int, height:int, n_bytes:long>"
)

def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload (the sandbox
    stand-in for real image/audio bytes), with typed metadata derived
    scan-side (pure exprs)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("lang") == "en", "image/png").otherwise("audio/wav").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.pmod(F.xxhash64("doc_id"), F.lit(1920)).cast("int").alias("width"),
            F.pmod(F.xxhash64("doc_id", "doc_id"), F.lit(1080)).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
