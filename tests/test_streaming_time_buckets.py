"""Watermarked event-time windowed aggregation: append-mode emissions
are FINAL (exactly the batch aggregate for their window) and every
window safely below the watermark is emitted."""

import math

import pandas as pd
import pytest


def test_stream_time_buckets_finalized_windows(spark, tmp_path):
    from serimi_rdf_interlinking_spark.streaming.ingest import (
        stream_time_buckets,
    )

    # file-stream sources need a DIRECTORY; the sf tables are single files
    src = str(tmp_path / "events_dir")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    out = str(tmp_path / "buckets")
    ckpt = str(tmp_path / "ckpt")
    q = stream_time_buckets(spark, src, out, ckpt)
    assert q.awaitTermination(300), "stream did not terminate in 300s"

    got = {
        (r.bucket_start, r.event_type): (r.n, r.v)
        for r in spark.read.parquet(out).collect()
    }
    assert got, "stream emitted nothing"

    ev = spark.read.parquet(src).toPandas()  # same rewritten dir
    us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ev["bucket"] = (us // 300_000_000) * 300_000_000
    batch = {}
    for (b, et), g in ev.groupby(["bucket", "event_type"]):
        batch[(pd.Timestamp(b * 1000).to_pydatetime(), et)] = (
            len(g),
            round(float(g["value"].sum()), 4),
        )

    # 1. every emitted row is FINAL: identical to the batch aggregate
    for key, (n, v) in got.items():
        bk = (key[0], key[1])
        assert bk in batch, f"spurious window {key}"
        bn, bv = batch[bk]
        assert n == bn and math.isclose(v, bv, abs_tol=1e-6), (key, (n, v), (bn, bv))

    # 2. completeness: all windows strictly below the final watermark
    # (max event time - 10 min) were flushed
    max_us = int(us.max())
    wm_us = max_us - 600_000_000
    expected_done = {
        k for k in batch if (k[0].timestamp() * 1e6) + 300_000_000 < wm_us
    }
    missing = expected_done - set(got)
    assert not missing, sorted(missing)[:5]


def test_stream_dedup_exact_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving in a LATER micro-batch
    (within the watermark horizon) are dropped; the first arrival and
    all distinct texts survive."""
    import time

    from serimi_rdf_interlinking_spark.streaming.ingest import (
        stream_dedup_exact,
    )

    src = str(tmp_path / "docs_dir")
    ts = pd.Timestamp(1_600_000_000, unit="s")
    f1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "ts": [ts, ts, ts],
            "text": ["alpha beta", "gamma delta", "ALPHA   beta!"],  # 3 ~ 1
        }
    )
    f2 = pd.DataFrame(
        {
            "doc_id": [4, 5],
            "ts": [ts + pd.Timedelta(minutes=5)] * 2,
            "text": ["alpha beta", "epsilon zeta"],  # 4 duplicates 1
        }
    )
    spark.createDataFrame(f1).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(f2).coalesce(1).write.mode("append").parquet(src)

    q = stream_dedup_exact(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    assert q.awaitTermination(300), "stream did not terminate in 300s"
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    keys = {r.dedup_key for r in rows}
    ids = sorted(r.doc_id for r in rows)
    # one survivor per distinct normalized text: {alpha beta},
    # {gamma delta}, {epsilon zeta}
    assert len(rows) == len(keys) == 3
    # doc 3 (same normalized text as 1) and doc 4 (cross-batch dup) drop
    assert 2 in ids and 5 in ids
    assert ids.count(3) == 0 and ids.count(4) + ids.count(1) == 1


@pytest.mark.parametrize(
    "query, columns",
    [
        ("q_stream_time_buckets", ["bucket", "event_type", "n", "v"]),
        ("q_stream_sessionize", ["user_id", "n_sessions", "n_events"]),
        ("q_stream_sessionize_ooo", ["user_id", "n_sessions", "n_events"]),
        ("q_stream_dedup_exact", ["dedup_key"]),
        ("q_stream_enrich", ["segment", "event_type", "n", "v"]),
    ],
    ids=[
        "q_stream_time_buckets", "q_stream_sessionize", "q_stream_sessionize_ooo",
        "q_stream_dedup_exact", "q_stream_enrich",
    ],
)
def test_stream_replay_empty_events(spark, tmp_path, query, columns):
    """An empty input table must yield an empty result (the batch
    aggregate is empty), not a TypeError from the flush-event math."""
    import __spark_entry__ as E

    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        [],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    out = getattr(E, query)(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == columns


@pytest.mark.parametrize(
    "query",
    [
        "q_stream_dedup_exact", "q_stream_time_buckets", "q_stream_sessionize",
        "q_stream_sessionize_ooo", "q_stream_enrich",
    ],
)
def test_stream_replay_holds_its_shuffle_width(spark, monkeypatch, query):
    """Each replay row plans its micro-batches at the replay's own
    shuffle width (8 at sf0.001, with the session at 4): the width must
    still be in force when the first batch is planned, which happens
    after the query starts. The session's own width comes back after."""
    import json

    import __spark_entry__ as E

    dirs = []
    scratch = E._stream_scratch

    def recording_scratch(name, sf_dir):
        dirs.append(scratch(name, sf_dir))
        return dirs[-1]

    monkeypatch.setattr(E, "_stream_scratch", recording_scratch)
    getattr(E, query)(spark, E.SF_DEFAULT)
    (base,) = dirs
    with open(f"{base}/ckpt/offsets/0") as f:
        batch0 = json.loads(f.read().splitlines()[1])
    assert batch0["conf"]["spark.sql.shuffle.partitions"] == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
