"""Custom stateful streaming operator: watermarked event-time
sessionization with applyInPandasWithState.

The batch analogue is __spark_entry__.q_sessionize (lag + gap cumsum;
DuckDB-oracled). A new session starts when the gap to the user's
previous event exceeds one hour. The operator emits one row per
CLOSED session: (user_id, session_id, n_events, start_us, end_us).

State is keyed on a hash bucket of user_id, so one state record and one
Python group call cover every user in the bucket. Events newer than the
current watermark are buffered in state (a straggler may still precede
them); events at or below it are final and fold into the gap rule in
event-time order. An event-time timeout closes a user's open session
once the watermark passes its end plus the gap. The only divergence
from the batch query is that events later than the watermark delay are
dropped by Spark's late filter; within the delay the emitted sessions
are the batch sessions, minus each user's session still open when the
stream stops.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from .ingest import replay_files

SESSION_OUTPUT_SCHEMA = (
    "user_id LONG, session_id LONG, n_events LONG, start_us LONG, "
    "end_us LONG"
)


BUCKET_EVENT_STATE_SCHEMA = (
    "su ARRAY<LONG>, ssid ARRAY<LONG>, sst ARRAY<LONG>, sla ARRAY<LONG>, "
    "sne ARRAY<LONG>, buf BINARY"
)


def make_bucketed_event_time_sessionizer(gap_seconds: float = 3600.0):
    """Builds the applyInPandasWithState function. State is keyed on a
    HASH BUCKET of user_id, so one group call (and one state ser/de
    round-trip) covers ~n_users/n_buckets users per micro-batch instead
    of one. The per-(group, micro-batch) Python dispatch is the measured
    wall of the sessionize replays (the framework charges a fixed
    ~0.3 ms per group call for Arrow setup + state codec, regardless of
    how few rows the group carries); inside the bucket the session math
    runs per user. gap_seconds is compared on microsecond-precision
    epochs (whole-second truncation diverges from the batch query).

    Why bucket keying emits the same sessions as keying state on the
    user itself: Spark's late-row filter (ts <= watermark drops before
    the operator) and the global watermark are key-independent, so
    every event folds under the same safety rule in both keyings; folds
    are MONOTONE (an event folded later always has a later timestamp
    than every event folded earlier, because late arrivals below the
    fold watermark never reach the operator), so folding a user's
    stream in bucket-paced increments yields byte-identical sessions to
    user-paced increments. Sessions may EMIT in an earlier micro-batch
    (a bucket is invoked whenever ANY of its users has data, which can
    fold a quiet co-bucketed user's now-safe buffer sooner than that
    user's own timeout would have), but the emitted session SET is
    identical, which is the operator's contract (append-mode sinks are
    order-free). The same argument makes the set independent of the
    bucket count.

    State layout: parallel arrays over the bucket's users (open
    sessions; sst == -1 encodes "no open session") plus the
    above-watermark (user, ts_us, event_id) buffer packed into ONE
    little-endian int64 BINARY blob: the first micro-batch of an
    AvailableNow replay buffers the whole file (watermark still 0), and
    the state codec round-trips a binary cell as a memcpy where an
    ARRAY<LONG> converts element-by-element — the measured wall of the
    large batches. The event-time timeout is the min over users'
    individual wake-up times, clamped above the current watermark."""
    import numpy as np

    gap_us = int(gap_seconds * 1_000_000)

    def sessionize(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state,
    ) -> Iterator[pd.DataFrame]:
        open_state: dict[int, list] = {}
        b_u: list = []
        b_t: list = []
        b_i: list = []
        if state.exists:
            su, ssid, sst, sla, sne, sbuf = state.get
            for i, uu in enumerate(su or ()):
                open_state[int(uu)] = [
                    int(ssid[i]), int(sst[i]), int(sla[i]), int(sne[i])
                ]
            if sbuf:
                packed = np.frombuffer(sbuf, dtype="<i8").reshape(3, -1)
                b_u.extend(packed[0].tolist())
                b_t.extend(packed[1].tolist())
                b_i.extend(packed[2].tolist())
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf):
                    ts = (
                        pdf["ts"].to_numpy()
                        .astype("datetime64[ns]").view("int64") // 1000
                    )
                    b_t.extend(ts.tolist())
                    b_i.extend(
                        pdf["event_id"].to_numpy().astype(np.int64).tolist()
                    )
                    b_u.extend(
                        pdf["user_id"].to_numpy().astype(np.int64).tolist()
                    )
        wm_us = state.getCurrentWatermarkMs() * 1000

        # user-major, then (t, id): each user's events fold in
        # event-time order, ties broken by event_id
        if b_u:
            order = np.lexsort(
                (np.asarray(b_i), np.asarray(b_t), np.asarray(b_u))
            )
            b_u = [b_u[j] for j in order]
            b_t = [b_t[j] for j in order]
            b_i = [b_i[j] for j in order]

        closed: list[tuple[int, int, int, int, int]] = []
        rem_u: list = []
        rem_t: list = []
        rem_i: list = []
        touched: set = set()

        def fold_user(u: int, evs_t: list, evs_i: list) -> None:
            # safe events (t <= wm) fold with the gap rule; the open
            # session closes once the watermark proves no extender can
            # arrive; the above-watermark remainder re-buffers
            rec = open_state.get(u)
            if rec is None:
                sid, start, last, ne = 0, -1, -1, 0
            else:
                sid, start, last, ne = rec
            for t, eid in zip(evs_t, evs_i):
                if t <= wm_us:
                    if start == -1:
                        sid += 1
                        start = last = t
                        ne = 1
                    elif t - last > gap_us:
                        closed.append((u, sid, ne, start, last))
                        sid += 1
                        start = last = t
                        ne = 1
                    else:
                        last = t
                        ne += 1
                else:
                    rem_u.append(u)
                    rem_t.append(t)
                    rem_i.append(eid)
            if start != -1 and wm_us > last + gap_us:
                closed.append((u, sid, ne, start, last))
                start, last, ne = -1, -1, 0
            if start == -1 and (not rem_u or rem_u[-1] != u):
                open_state.pop(u, None)
            else:
                open_state[u] = [sid, start, last, ne]

        i = 0
        n = len(b_u)
        while i < n:
            u = b_u[i]
            j = i
            while j < n and b_u[j] == u:
                j += 1
            fold_user(u, b_t[i:j], b_i[i:j])
            touched.add(u)
            i = j
        # users with an open session but no events this call: their
        # session may have become closeable by the advanced watermark
        for u in [u for u in open_state if u not in touched]:
            fold_user(u, (), ())

        # drop open_state entries that closed with no remainder
        has_rem = set(rem_u)
        live = {
            u: rec for u, rec in open_state.items()
            if rec[1] != -1 or u in has_rem
        }
        if not live and not rem_u:
            if state.exists:
                state.remove()
        else:
            users = sorted(live)
            state.update(
                (
                    users,
                    [live[u][0] for u in users],
                    [live[u][1] for u in users],
                    [live[u][2] for u in users],
                    [live[u][3] for u in users],
                    np.array([rem_u, rem_t, rem_i], dtype="<i8").tobytes(),
                )
            )
            # wake when the earliest open session becomes closeable or
            # the earliest buffered event becomes safe to fold
            nxt = None
            for u in users:
                rec = live[u]
                if rec[1] != -1:
                    w = rec[2] + gap_us
                    nxt = w if nxt is None else min(nxt, w)
            if rem_t:
                w = min(rem_t)
                nxt = w if nxt is None else min(nxt, w)
            if nxt is not None:
                state.setTimeoutTimestamp(
                    max(nxt // 1000 + 1, wm_us // 1000 + 1)
                )
        if closed:
            arr = np.asarray(closed, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "user_id": arr[:, 0],
                    "session_id": arr[:, 1],
                    "n_events": arr[:, 2],
                    "start_us": arr[:, 3],
                    "end_us": arr[:, 4],
                }
            )

    return sessionize


def stream_sessionize_event_time(
    spark,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark_delay: str,
    max_files_per_trigger: int,
    state_buckets: int,
):
    """File stream → withWatermark(ts) → groupBy(pmod(xxhash64(user_id),
    state_buckets)) applyInPandasWithState(EventTimeTimeout) → append
    sink, sessions split at gaps over one hour. Late events beyond
    `watermark_delay` are dropped (the documented divergence bound);
    everything else matches the batch sessionize query. Returns the
    StreamingQuery.

    ``state_buckets`` sets how many hash buckets key the state (see
    make_bucketed_event_time_sessionizer): the emitted sessions do not
    depend on it, the number of Python group calls per micro-batch
    does. Derive it from input scale (e.g. a small multiple of the
    state-store width), never a constant."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    def sessionize(events):
        return (
            events.withWatermark("ts", watermark_delay)
            .withColumn(
                "_bucket",
                F.pmod(F.xxhash64("user_id"), F.lit(int(state_buckets))),
            )
            .groupBy("_bucket")
            .applyInPandasWithState(
                make_bucketed_event_time_sessionizer(3600.0),
                outputStructType=SESSION_OUTPUT_SCHEMA,
                stateStructType=BUCKET_EVENT_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    return replay_files(
        spark, events_dir, out_dir, checkpoint_dir, sessionize,
        max_files_per_trigger,
    )
