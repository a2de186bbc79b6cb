"""stream_enrich (streaming/ingest.py): stream-static join parity
with the batch join, exactly-once re-run semantics, and the planner's
size-based choice of join strategy."""

import datetime as dt

import pandas as pd

from serimi_rdf_interlinking_spark.streaming.ingest import stream_enrich


def _fixture(spark, base):
    ev = pd.DataFrame(
        {
            "event_id": range(40),
            "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i) for i in range(40)],
            "user_id": [i % 7 for i in range(40)],  # 5,6 miss the dim
            "event_type": ["view", "click"] * 20,
            "value": [float(i) for i in range(40)],
        }
    )
    spark.createDataFrame(ev).coalesce(1).write.mode("overwrite").parquet(
        f"{base}/in"
    )
    # parquet-backed like the declared row's customer dimension: a
    # pandas-created frame carries no size statistics for the planner
    spark.createDataFrame(
        pd.DataFrame({"c_custkey": [0, 1, 2, 3, 4], "c_mktsegment": list("ABCDE")})
    ).write.mode("overwrite").parquet(f"{base}/dim")
    return ev, spark.read.parquet(f"{base}/dim")


def _executed_plan(q) -> str:
    return q._jsq.streamingQuery().lastExecution().executedPlan().toString()


def test_stream_enrich_matches_batch_join(spark, tmp_path):
    base = str(tmp_path)
    ev, dim = _fixture(spark, base)
    q = stream_enrich(spark, f"{base}/in", dim, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    out = spark.read.parquet(f"{base}/out").toPandas()
    assert len(out) == len(ev)  # left join preserves every event
    got = dict(zip(out["event_id"], out["c_mktsegment"]))
    for r in ev.itertuples():
        exp = "ABCDE"[r.user_id] if r.user_id < 5 else None
        assert got[r.event_id] == exp


def test_stream_enrich_rerun_is_exactly_once(spark, tmp_path):
    base = str(tmp_path)
    ev, dim = _fixture(spark, base)
    for _ in range(2):  # second run with same checkpoint: no new rows
        q = stream_enrich(
            spark, f"{base}/in", dim, f"{base}/out", f"{base}/ckpt"
        )
        q.awaitTermination()
    out = spark.read.parquet(f"{base}/out")
    assert out.count() == len(ev)


def test_stream_enrich_broadcasts_small_dimension(spark, tmp_path):
    base = str(tmp_path)
    _, dim = _fixture(spark, base)
    q = stream_enrich(spark, f"{base}/in", dim, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    plan = _executed_plan(q)
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan, plan


def test_stream_enrich_does_not_force_broadcast(spark, tmp_path):
    """With broadcasting disabled by the threshold, the dimension is
    sort-merge joined: stream_enrich adds no broadcast hint of its own."""
    from serimi_rdf_interlinking_spark.session import conf_override

    base = str(tmp_path)
    _, dim = _fixture(spark, base)
    with conf_override(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        q = stream_enrich(
            spark, f"{base}/in", dim, f"{base}/out", f"{base}/ckpt"
        )
        q.awaitTermination()
    plan = _executed_plan(q)
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan
