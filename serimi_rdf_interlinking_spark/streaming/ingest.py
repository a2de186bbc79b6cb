"""Structured Streaming operators over incrementally landed parquet.

The reference is a batch CLI (SURVEY.md §2.9: no streaming operators).
Incremental crawls and event drops land as parquet files; every operator
here is one `replay_files` call: a file source, the operator's own
transform, and an append parquet sink whose checkpoint commits each
input file exactly once. Trigger.AvailableNow processes the files
present at start in bounded micro-batches, then stops.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.columns import norm_text


def replay_files(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    build,
    max_files_per_trigger: int,
    schema=None,
):
    """Parquet file stream over in_dir, at most `max_files_per_trigger`
    files per micro-batch → `build(stream)` → append parquet sink at
    out_dir, checkpointed at checkpoint_dir, Trigger.AvailableNow.
    A file stream cannot infer its schema, so `schema=None` takes the
    input files' own. Returns the StreamingQuery; callers use
    awaitTermination()."""
    if schema is None:
        schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )
    return (
        build(stream).writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(
    spark: SparkSession, docs_dir: str, out_dir: str, checkpoint_dir: str
):
    """Streaming exact dedup — the ingestion-time twin of the batch
    dedup_exact operator: keep the FIRST arrival of each normalized
    `text`, drop later duplicates whose `ts` lies within a 1-hour
    watermark horizon of it.

    Built on the engine-native dropDuplicatesWithinWatermark: state is
    one (key, first-seen-ts) row per distinct text inside the horizon,
    and the watermark EVICTS keys once no duplicate can still arrive —
    bounded state for an unbounded crawl, which a plain
    dropDuplicates() (state grows forever) cannot give. The dedup key
    is the same normalization as dedup_exact (lower, strip
    non-alphanumerics), md5'd so state carries a fixed-width key
    instead of the document text. Returns the StreamingQuery."""

    def dedup(docs):
        return (
            docs.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("dedup_key", F.md5(norm_text("text")))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["dedup_key"])
        )

    return replay_files(spark, docs_dir, out_dir, checkpoint_dir, dedup, 4)


def stream_time_buckets(
    spark: SparkSession, events_dir: str, out_dir: str, checkpoint_dir: str
):
    """Watermarked event-time windowed aggregation — the streaming form
    of the batch time_buckets query: 5-minute tumbling windows over
    event time, rows later than the 10-minute watermark dropped,
    finalized windows appended exactly once.

    Built entirely from Spark primitives (withWatermark + window +
    groupBy count/sum): state is one row per (window, event_type) and
    the watermark bounds it — the scale-correct shape for an unbounded
    event stream. Returns the StreamingQuery.
    """

    def buckets(events):
        return (
            # watermarks require TimestampType; events carry TIMESTAMP_NTZ
            # (cast is exact under the session's UTC timezone)
            events.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
            .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "v")
        )

    return replay_files(spark, events_dir, out_dir, checkpoint_dir, buckets, 4)


def stream_enrich(
    spark: SparkSession, events_dir: str, dim_df, out_dir: str, checkpoint_dir: str
):
    """Stream-static enrichment join: the unbounded event stream LEFT
    joined on user_id = c_custkey to a bounded customer dimension per
    micro-batch, appended exactly-once to the sink.

    Stateless (no watermark, no stream-stream buffering). The planner
    picks the join strategy from the static side's size estimate: a
    dimension under spark.sql.autoBroadcastJoinThreshold is broadcast,
    so each micro-batch is one map-side hash join, and a larger one is
    sort-merge joined instead of being shipped whole to every executor
    (the static side is re-resolved per batch, which is also what
    gives slowly-changing dimensions their freshness). Returns the
    StreamingQuery.
    """

    def enrich(events):
        return events.join(
            dim_df, events["user_id"] == dim_df["c_custkey"], "left"
        ).drop("c_custkey")

    return replay_files(spark, events_dir, out_dir, checkpoint_dir, enrich, 4)
