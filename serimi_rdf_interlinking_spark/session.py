"""SparkSession factory tuned for the engine's workload.

Local-mode defaults match the sandbox (local[N] single JVM); on a real
cluster the same settings apply except master/memory come from
spark-submit. AQE is on so skewed candidate joins re-plan at runtime
(north_rule: explicit skew handling). `Checkpoints` is the one owner
of every eager localCheckpoint that is freed again.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "serimi_rdf_interlinking_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SERIMI_SHUFFLE_PARTITIONS", cpus))
    # Under spark-submit the JVM gateway already exists and --master was
    # decided on the command line (PYSPARK_GATEWAY_PORT is set by
    # PythonRunner); forcing .master() here would silently override the
    # submitted cluster manager. Only pin a master when launching the
    # JVM ourselves or when the caller asks explicitly.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    b = SparkSession.builder.appName(app_name)
    if master is not None or not under_submit:
        b = b.master(master or f"local[{cpus}]")
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SERIMI_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_override(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set session confs for the duration of a block. On exit, also on an
    exception, each key gets its previous value back, or is unset again
    if it was unset before."""
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class Checkpoints:
    """`ck(df)` checkpoints `df` eagerly and records it; `ck.add(df)`
    records a frame checkpointed elsewhere; `ck.release(keep)` frees
    every recorded frame but `keep`, forgets them all (`keep` passes to
    the caller; a later `release()` in a `finally` is a no-op) and
    returns `keep`."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.add(df.localCheckpoint(eager=True))

    def add(self, df: DataFrame) -> DataFrame:
        self._frames.append(df)
        return df

    def release(self, keep: DataFrame | None = None) -> DataFrame | None:
        # localCheckpoint blocks bypass the CacheManager (df.unpersist() is
        # a no-op on them): unpersist the LogicalRDD's RDD, silencing the
        # expected per-RDD "cannot be recomputed after unpersisting" WARN
        frames = [df for df in self._frames if df is not keep]
        self._frames = []
        rdd_logger = "org.apache.spark.rdd.MapPartitionsRDD"
        try:
            log4j = SparkContext._jvm.org.apache.logging.log4j
            prev_level = log4j.LogManager.getLogger(rdd_logger).getLevel()
            log4j.core.config.Configurator.setLevel(rdd_logger, log4j.Level.ERROR)
        except Exception:  # pragma: no cover - log tuning only
            prev_level = None
        try:
            for df in frames:
                try:
                    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
                except Exception:  # not a LogicalRDD, e.g. a parquet read
                    log.debug("checkpoint release failed", exc_info=True)
        finally:
            if prev_level is not None:
                log4j.core.config.Configurator.setLevel(rdd_logger, prev_level)
        return keep
