"""Adaptive input widening for scan-bound operators.

A DataFrame's per-row map work (shingling, md5 hashing, tokenizing,
scoring) runs in the SCAN's tasks. When the input is a small number of
files — a test fixture, or 3 files on a 1000-executor cluster — every
downstream per-row stage serializes behind those few tasks while the
rest of the cluster idles (measured: the whole sf0.1 dedup map phase in
1 task with 31 cores idle). `widen_to_cluster` repartitions UP to the
session's default parallelism only when the plan has fewer partitions;
on a properly-sized scan (the 100-TB case: thousands of splits) it is
a strict no-op — no shuffle is added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_to_cluster(df: DataFrame) -> DataFrame:
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()  # no Python RDD
    except Exception:  # pragma: no cover - planning edge
        return df
    if n < par:
        return df.repartition(par)
    return df
