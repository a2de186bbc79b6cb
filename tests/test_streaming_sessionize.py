"""Custom stateful streaming operator (applyInPandasWithState):
bucketed event-time sessionization parity with the batch/oracle
semantics.

The stream emits CLOSED sessions; each user's final session stays open
in state when an AvailableNow run terminates, so expected output =
every session except each user's last — computed here independently in
pandas from the same events. Real-data parity of the declared replays
is checked by the stream_sessionize rows of test_oracle_compare.py.
"""

import pandas as pd
import pytest


def _expected_closed(pdf: pd.DataFrame, gap_us: int, last_closed=False):
    """All sessions by the batch gap rule, except each user's last
    unless ``last_closed``."""
    rows = []
    for uid, g in pdf.sort_values(["user_id", "us", "event_id"]).groupby(
        "user_id"
    ):
        sessions = []
        sid = 0
        start = last = None
        n = 0
        for t in g["us"]:
            t = int(t)
            if start is None:
                sid += 1
                start, last, n = t, t, 1
            elif t - last > gap_us:
                sessions.append((uid, sid, n, start, last))
                sid += 1
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        if last_closed:
            sessions.append((uid, sid, n, start, last))
        rows.extend(sessions)
    return sorted(rows)


def _assert_bucket_occupancy(spark, ev_dir, state_buckets):
    """2 buckets must put at least two users in one bucket, 64 buckets
    every user alone, by the operator's own pmod(xxhash64(user_id), n)
    keying over the input."""
    from pyspark.sql import functions as F

    users_per_bucket = [
        r.n
        for r in spark.read.parquet(ev_dir)
        .select("user_id").distinct()
        .groupBy(F.pmod(F.xxhash64("user_id"), F.lit(state_buckets)))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    if state_buckets == 2:
        assert max(users_per_bucket) >= 2
    else:
        assert max(users_per_bucket) == 1


@pytest.mark.parametrize("state_buckets", [2, 64])
def test_event_time_sessionize_out_of_order_cross_batch(
    spark, tmp_path, state_buckets
):
    """Watermarked event-time variant (round-2 verdict #8): an event
    arriving in a LATER micro-batch with an EARLIER event time (within
    the watermark delay) must fold in event-time order — emitted
    sessions equal the batch lag+cumsum rule on the union of both
    files, minus each user's final (still-open) session.

    Parametrized over the state bucket count (2 buckets put both users
    in one bucket, 64 give each user its own): the emitted session SET
    must not depend on it."""
    import time

    import pandas as pd

    from serimi_rdf_interlinking_spark.streaming.sessionize import (
        stream_sessionize_event_time,
    )

    ev_dir = str(tmp_path / "events")
    sec = lambda s: pd.Timestamp(s * 1_000_000_000)

    # batch 1: user 3 at 10s, 100s, then 10_000s (a later session);
    # user 2 at 50s. max ts -> watermark after batch 1 = 10_000s - delay.
    # (t=0 would be dropped: Spark's late filter discards ts <= the
    # current watermark, and the initial watermark is epoch 0.)
    # Users 2 and 3 hash to the same bucket of 2; users 1 and 2 do not.
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "user_id": [3, 3, 3, 2],
            "ts": [sec(10), sec(100), sec(10_000), sec(50)],
            "event_type": ["a"] * 4,
            "value": [1.0] * 4,
        }
    )
    # batch 2: user 3's out-of-order straggler at 9_200s (< 10_000s seen
    # in batch 1, but above the 8_200s watermark -> must be kept and
    # folded BEFORE the 10_000s event), plus far-future flush events
    # that push the watermark past every real session.
    f2 = pd.DataFrame(
        {
            "event_id": [5, 6, 7],
            "user_id": [3, 3, 2],
            "ts": [sec(9_200), sec(100_000), sec(100_000)],
            "event_type": ["a"] * 3,
            "value": [1.0] * 3,
        }
    )
    spark.createDataFrame(f1).coalesce(1).write.mode("append").parquet(ev_dir)
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    spark.createDataFrame(f2).coalesce(1).write.mode("append").parquet(ev_dir)
    _assert_bucket_occupancy(spark, ev_dir, state_buckets)

    out = str(tmp_path / "sessions")
    q = stream_sessionize_event_time(
        spark, ev_dir, out, str(tmp_path / "ckpt"),
        watermark_delay="30 minutes",
        max_files_per_trigger=1, state_buckets=state_buckets,
    )
    assert q.awaitTermination(300), "stream did not terminate in 300s"

    got = sorted(
        (
            int(r.user_id), int(r.session_id), int(r.n_events),
            int(r.start_us), int(r.end_us),
        )
        for r in spark.read.parquet(out).collect()
    )
    s = 1_000_000  # seconds -> microseconds
    assert got == [
        (2, 1, 1, 50 * s, 50 * s),
        (3, 1, 2, 10 * s, 100 * s),         # {10,100}
        (3, 2, 2, 9_200 * s, 10_000 * s),   # straggler folded in order
    ]
    # cross-check against the shared batch-rule helper on the union
    ev = spark.read.parquet(ev_dir).toPandas()
    ev["us"] = pd.to_datetime(ev["ts"]).astype("int64") // 1000
    assert got == _expected_closed(ev, gap_us=3600 * 1_000_000)


@pytest.mark.parametrize("state_buckets", [2, 64])
def test_event_time_sessionize_randomized_parity(
    spark, tmp_path, state_buckets
):
    """Seeded randomized stream: 3 users x ~10 events with bounded
    out-of-order arrival across 3 micro-batches (displacement kept
    well inside the 2-hour watermark delay), plus far-future flush
    events. Emitted sessions must equal the batch gap rule minus each
    user's final (open, flush-started) session. Parametrized over the
    state bucket count (a multi-user bucket at 2, one user per bucket
    at 64): same emitted set."""
    import random
    import time

    import pandas as pd

    from serimi_rdf_interlinking_spark.streaming.sessionize import (
        stream_sessionize_event_time,
    )

    rng = random.Random(29)
    events = []  # (event_id, user_id, t_seconds)
    eid = 1
    for uid in (1, 2, 3):
        t = rng.randrange(100, 1000)
        for _ in range(10):
            # gaps 1-90 min: some extend sessions (gap 3600s), some split
            t += rng.randrange(60, 5400)
            events.append((eid, uid, t))
            eid += 1
    # bounded shuffle: sort by event time, then swap within windows of
    # 3 — arrival displacement stays far below the 2h watermark delay
    events.sort(key=lambda e: e[2])
    for i in range(0, len(events) - 1, 3):
        j = min(i + rng.randrange(1, 3), len(events) - 1)
        events[i], events[j] = events[j], events[i]
    flush_t = max(t for _, _, t in events) + 90_000  # ~1 day later
    files = [events[0:10], events[10:20], events[20:30]]
    files[-1] = files[-1] + [(900 + u, u, flush_t) for u in (1, 2, 3)]

    ev_dir = str(tmp_path / "events")
    sec = lambda s: pd.Timestamp(s * 1_000_000_000)
    for chunk in files:
        pdf = pd.DataFrame(
            {
                "event_id": [e[0] for e in chunk],
                "user_id": [e[1] for e in chunk],
                "ts": [sec(e[2]) for e in chunk],
                "event_type": ["a"] * len(chunk),
                "value": [1.0] * len(chunk),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(ev_dir)
        time.sleep(1.1)
    _assert_bucket_occupancy(spark, ev_dir, state_buckets)

    q = stream_sessionize_event_time(
        spark, ev_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        watermark_delay="2 hours",
        max_files_per_trigger=1, state_buckets=state_buckets,
    )
    assert q.awaitTermination(300), "stream did not terminate in 300s"

    got = sorted(
        (
            int(r.user_id), int(r.session_id), int(r.n_events),
            int(r.start_us), int(r.end_us),
        )
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    ev = spark.read.parquet(ev_dir).toPandas()
    ev["us"] = pd.to_datetime(ev["ts"]).astype("int64") // 1000
    expected = _expected_closed(ev, gap_us=3600 * 1_000_000)
    assert len(expected) >= 6  # the gap distribution really splits
    assert got == expected


class _FakeState:
    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self._v = value
        self.hasTimedOut = timed_out
        self.watermark_ms = watermark_ms
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def remove(self):
        self.removed = True
        self._v = None

    def update(self, v):
        self.updated = v
        self._v = v

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms


def test_bucketed_sessionizer_buffers_then_folds_on_watermark():
    """Spark-free: below the watermark nothing folds and the bucket's
    events buffer in the packed state blob; once the watermark passes
    every event plus the gap, the buffered events fold by the batch gap
    rule and every session, each user's last included, closes."""
    import numpy as np

    from serimi_rdf_interlinking_spark.streaming.sessionize import (
        make_bucketed_event_time_sessionizer,
    )

    s = 1_000_000  # seconds -> microseconds
    gap_us = 3600 * s
    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5],
            "user_id": [7, 9, 7, 7, 9],
            "us": [100 * s, 50 * s, 10 * s, 10_000 * s, 60 * s],
        }
    )
    pdf = ev.assign(ts=pd.to_datetime(ev["us"], unit="us"))[
        ["event_id", "user_id", "ts"]
    ]
    fn = make_bucketed_event_time_sessionizer(gap_seconds=3600.0)

    st = _FakeState(watermark_ms=0)
    assert list(fn((0,), iter([pdf]), st)) == []
    blob = np.frombuffer(st.updated[5], dtype="<i8").reshape(3, -1)
    order = ev.sort_values(["user_id", "us", "event_id"])
    assert blob.tolist() == [
        order["user_id"].tolist(), order["us"].tolist(),
        order["event_id"].tolist(),
    ]
    assert st.timeout_set == int(ev["us"].min()) // 1000 + 1

    wm_ms = (int(ev["us"].max()) + gap_us) // 1000 + 1
    st2 = _FakeState(value=st.updated, timed_out=True, watermark_ms=wm_ms)
    out = pd.concat(list(fn((0,), iter(()), st2)))
    got = sorted(
        tuple(int(v) for v in r)
        for r in out[
            ["user_id", "session_id", "n_events", "start_us", "end_us"]
        ].itertuples(index=False)
    )
    assert got == _expected_closed(ev, gap_us, last_closed=True)
    assert st2.removed
