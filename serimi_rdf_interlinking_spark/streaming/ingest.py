"""Structured Streaming ingestion of the page corpus.

The reference is a batch CLI (SURVEY.md §2.9: no streaming operators);
its sequential chunk loop with offset resume maps to a foreachBatch
driver loop here. Incremental crawls land as parquet files; the stream
extracts triples per micro-batch and appends them exactly-once-per-file
(checkpointed by the streaming engine), with Trigger.AvailableNow
semantics for catch-up runs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..extract import extract_triples
from ..sources.triples import PAGE_SCHEMA


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """readStream(pages parquet) → mapInPandas extraction → append sink.

    Returns the StreamingQuery; callers use processAllAvailable()/stop()
    (tests) or awaitTermination() (deployments).
    """
    stream = (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    extracted = extract_triples(stream, from_html=False)

    writer = (
        extracted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_exact(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
    schema=None,
):
    """Streaming exact dedup — the ingestion-time twin of the batch
    dedup_exact operator: keep the FIRST arrival of each normalized
    text, drop later duplicates that arrive within the watermark
    horizon of each other.

    Built on the engine-native dropDuplicatesWithinWatermark: state is
    one (key, first-seen-ts) row per distinct text inside the horizon,
    and the watermark EVICTS keys once no duplicate can still arrive —
    bounded state for an unbounded crawl, which a plain
    dropDuplicates() (state grows forever) cannot give. The dedup key
    is the same normalization as dedup_exact (lower, strip
    non-alphanumerics), md5'd so state carries a fixed-width key
    instead of the document text. Returns the StreamingQuery."""
    from pyspark.sql import functions as F

    if schema is None:
        schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withColumn(
            "dedup_key",
            F.md5(
                F.lower(
                    F.trim(
                        F.regexp_replace(F.col(text_col), r"(?i)[^a-z0-9]+", " ")
                    )
                )
            ),
        )
    )
    deduped = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["dedup_key"]
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_time_buckets(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    schema=None,
):
    """Watermarked event-time windowed aggregation — the streaming form
    of the batch time_buckets query: tumbling windows over event time,
    late rows beyond the watermark dropped, finalized windows appended
    exactly once.

    Built entirely from Spark primitives (withWatermark + window +
    groupBy count/sum): state is one row per (window, event_type) and
    the watermark bounds it — the scale-correct shape for an unbounded
    event stream. Returns the StreamingQuery.
    """
    from pyspark.sql import functions as F

    if schema is None:
        schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
        # watermarks require TimestampType; events carry TIMESTAMP_NTZ
        # (cast is exact under the session's UTC timezone)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n",
            "v",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_enrich(
    spark: SparkSession,
    events_dir: str,
    dim_df,
    out_dir: str,
    checkpoint_dir: str,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    schema=None,
):
    """Stream-static enrichment join: the unbounded event stream LEFT
    joined to a bounded dimension frame per micro-batch, appended
    exactly-once to the sink.

    Stateless (no watermark, no stream-stream buffering). The planner
    picks the join strategy from the static side's size estimate: a
    dimension under spark.sql.autoBroadcastJoinThreshold is broadcast,
    so each micro-batch is one map-side hash join, and a larger one is
    sort-merge joined instead of being shipped whole to every executor
    (the static side is re-resolved per batch, which is also what
    gives slowly-changing dimensions their freshness). Returns the
    StreamingQuery.
    """
    if schema is None:
        schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )
    enriched = stream.join(
        dim_df, stream[stream_key] == dim_df[dim_key], "left"
    ).drop(dim_key)
    return (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
