"""SparkSession factory tuned for the engine's workload.

Local-mode defaults match the sandbox (local[N] single JVM); on a real
cluster the same settings apply except master/memory come from
spark-submit. AQE is on so skewed candidate joins re-plan at runtime
(north_rule: explicit skew handling).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


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
