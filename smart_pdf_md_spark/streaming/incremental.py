"""Structured-Streaming incremental extraction.

`readStream` over the repo_files directory (file source tracks processed
files in the checkpoint — the streaming analogue of the J4 anti-join), the
SAME extraction stage as batch (mapInArrow is streaming-compatible), and
`foreachBatch` so each micro-batch commits through the manifest protocol.

This gives exactly-once extraction over a growing corpus without any change
to the operator code — the batch/streaming split is only at the source/sink
boundary, which is the Spark-idiomatic shape for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

REPO_FILES_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])


def stream_mentions(spark: SparkSession, corpus_dir: str,
                    max_files_per_trigger: int = 64) -> DataFrame:
    """Streaming DataFrame of extracted mention/status rows."""
    from ..plans.pipeline import build_mentions

    stream = (
        spark.readStream.schema(REPO_FILES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(corpus_dir)
    )
    return build_mentions(spark, stream)


def run_incremental(spark: SparkSession, corpus_dir: str, out_dir: str,
                    checkpoint_dir: str, once: bool = True):
    """Start (and with once=True, drain) the incremental extraction query.

    Each micro-batch commits through the SAME snapshot protocol as batch
    runs (plans/manifests.commit_stage, mode='append'): the streamed
    mentions stage is readable via read_stage, carries per-batch row
    counts and digests, and a batch-mode run can resume on top of it.
    Exactly-once is two-layered — the streaming checkpoint stops a source
    file from being re-extracted across restarts, and the epoch-keyed
    batch id makes a REPLAYED foreachBatch (crash between sink write and
    checkpoint commit) idempotent: a replay overwrites its own immutable
    b_epochN dir instead of appending a duplicate. An epoch's commit costs O(micro-batch): its
    stats come from its own write job and the earlier epochs' stats carry
    forward in the marker. Each epoch adds one batch dir, which every
    later read opens (commit_stage states the bound) — size micro-batches
    accordingly via maxFilesPerTrigger.
    """
    from ..plans.manifests import _read_marker, commit_stage

    mentions = stream_mentions(spark, corpus_dir)

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        rid = f"epoch{epoch_id:06d}"
        prev = _read_marker(out_dir, "mentions")
        if prev and f"b_{rid}" in prev["batches"]:
            return  # replayed epoch already in the committed snapshot
        commit_stage(batch_df, out_dir, "mentions",
                     key_cols=["file_id", "kind", "name", "line"],
                     run_id=rid, mode="append")

    writer = (
        mentions.writeStream.outputMode("append")
        .foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
