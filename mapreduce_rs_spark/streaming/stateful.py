"""Custom stateful streaming operator: per-user session aggregation via
``applyInPandasWithState``.

This is the Structured Streaming twin of the batch sessionization in
operators/events.py — but instead of window functions over a complete
dataset, state lives in the streaming state store keyed by user_id:
each micro-batch folds its events into the open session, emits sessions
closed by the gap timeout, and lets processing-time timeouts flush
sessions for users who go quiet. The reference's coordinator kept its
state in a WAL with a stubbed recovery (``src/mr/coordinator.rs:202-224``);
here the state store checkpoint IS the recovery story, for free.

Scale notes: state is partitioned by the group key across executors;
per-key state is O(1) (running aggregates, not the event list), so a
billion users cost a billion small state rows, spill-backed by RocksDB
when configured — the design you need when 100 TB/day flows through.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SEC = 30 * 60

# (session_start_epoch, last_ts_epoch, n_events, sum_value)
STATE_SCHEMA = "start double, last double, n bigint, total double"
OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)


def _sessionize_group(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState, *, use_timeout: bool = False
) -> Iterator[pd.DataFrame]:
    """Fold one user's micro-batch events into session state; emit every
    session closed by gap (and by timeout, when enabled). Event-at-a-time
    fold keeps the semantics identical to the batch lag/cumsum
    formulation."""
    (user_id,) = key
    closed: list[tuple] = []

    if state.hasTimedOut:
        if state.exists:
            start, last, n, total = state.get
            closed.append((user_id, start, last, n, total))
            state.remove()
    else:
        events = pd.concat(list(batches)).sort_values(["ts", "event_id"])
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for ts, value in zip(events["ts"], events["value"]):
            epoch = ts.timestamp()
            if last is not None and epoch - last > SESSION_GAP_SEC:
                closed.append((user_id, start, last, n, total))
                start, n, total = epoch, 0, 0.0
            if start is None:
                start = epoch
            last = epoch
            n += 1
            total += float(value)
        state.update((start, last, n, total))
        if use_timeout:
            state.setTimeoutDuration(SESSION_GAP_SEC * 1000)

    if closed:
        out = pd.DataFrame(
            closed, columns=["user_id", "start", "last", "n_events", "sum_value"]
        )
        # Round float epochs to exact microseconds: raw float→ns gives
        # non-µs-aligned values that Arrow refuses to narrow to
        # timestamp[us] safely.
        def to_ts(epochs: pd.Series) -> pd.Series:
            return pd.to_datetime(
                (epochs * 1_000_000).round().astype("int64"), unit="us", utc=True
            )

        yield pd.DataFrame(
            {
                "user_id": out["user_id"],
                "session_start": to_ts(out["start"]),
                "session_end": to_ts(out["last"]),
                "n_events": out["n_events"],
                "sum_value": out["sum_value"],
            }
        )


def stateful_sessionize(stream: DataFrame, *, use_timeout: bool = False) -> DataFrame:
    """Attach the stateful sessionization to an events stream.

    ``use_timeout=True`` adds a processing-time timeout that flushes a
    user's trailing open session after the gap elapses with no events —
    the right setting for a continuously-running production stream. It
    defaults off because a timeout keeps even an ``availableNow`` drain
    re-triggering empty micro-batches until every timeout has fired
    (observed: hundreds of empty batches), which is wrong for bounded
    drains and tests; without it, termination is deterministic and open
    sessions simply remain in state for the next run."""

    def fold(key, batches, state):
        yield from _sessionize_group(key, batches, state, use_timeout=use_timeout)

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout if use_timeout else GroupStateTimeout.NoTimeout
            ),
        )
    )


def session_window_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The built-in alternative: ``session_window`` gap windows — prefer
    this when per-session aggregates are algebraic; the custom stateful
    op above is for logic session_window can't express."""
    from pyspark.sql import functions as F

    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# CDC latest-state compaction state: exact integer microseconds + the
# event_id tie-break — the SAME (ts, event_id) total order as the batch
# operator, kept as integers so cross-batch comparisons can never hit
# float epoch rounding.
LATEST_STATE_SCHEMA = "ts_us bigint, event_id bigint, event_type string"
LATEST_OUTPUT_SCHEMA = (
    "user_id long, ts timestamp, event_id long, event_type string"
)


def _latest_state_group(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's micro-batch into latest-wins state; emit the
    user's new current state whenever a batch advances it. Emissions
    are monotone in the (ts_us, event_id) total order by construction,
    so the newest emission per user IS the compacted state — replayed
    or reordered micro-batches can only re-emit equal-or-older rows,
    never corrupt the maintained maximum (the idempotency the
    reference's stubbed WAL recovery needed, coordinator.rs:202-224)."""
    (user_id,) = key
    if state.exists:
        ts_us, event_id, etype = state.get
    else:
        ts_us, event_id, etype = None, None, None
    changed = False
    for pdf in batches:
        for row_us, row_id, row_type in zip(
            pdf["ts_us"], pdf["event_id"], pdf["event_type"]
        ):
            cand = (int(row_us), int(row_id))
            if ts_us is None or cand > (ts_us, event_id):
                ts_us, event_id = cand
                etype = row_type
                changed = True
    if changed:
        state.update((ts_us, event_id, etype))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "ts": pd.to_datetime([ts_us], unit="us", utc=True),
                "event_id": [event_id],
                "event_type": [etype],
            }
        )


def stateful_latest_state(stream: DataFrame) -> DataFrame:
    """Streaming CDC latest-record-wins compaction — the incremental
    twin of the batch latest_event_state window (operators/events.py):
    per-user state is ONE row (O(1) per key, a billion users = a
    billion small state rows in the store), each micro-batch folds in
    and emits only users whose state advanced. At 100 TB/day this is
    the serving-table maintainer: the state store checkpoint is the
    recovery story, and emissions stream straight into a MERGE sink
    (run_foreach_batch_upsert is the companion write path)."""
    from pyspark.sql import functions as F

    # Epoch µs are derived JVM-side (unix_micros is timezone-safe: ts
    # is an instant) — pandas .value on the session-tz-rendered naive
    # timestamp would shift every emission under a non-UTC session
    # (review finding).
    prepared = stream.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _latest_state_group,
        outputStructType=LATEST_OUTPUT_SCHEMA,
        stateStructType=LATEST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Streaming quantile sketch: the SAME k-smallest-h64 uniform sample as
# the batch kmv_quantile_sketch (events.py), maintained incrementally —
# the sketch is mergeable (union + re-take the k smallest), so
# cross-batch state maintenance IS the merge. State is bounded at k
# rows per type FOREVER; no watermark needed (the sketch, not time,
# bounds it — the cms_counters/hll_registers discipline).
from mapreduce_rs_spark.operators.events import (  # noqa: E402
    QSKETCH_K as QSK_K,
    QSKETCH_QUANTILES_BP as QSK_QUANTILES_BP,
)
QSK_STATE_SCHEMA = (
    "n bigint, hs array<bigint>, ids array<bigint>, cs array<bigint>"
)
QSK_OUTPUT_SCHEMA = (
    "event_type string, n_seen bigint, "
    "est_p50_cents bigint, est_p95_cents bigint, est_p99_cents bigint"
)


def _quantile_sketch_group(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one type's micro-batch into the k-smallest-hash sample and
    emit the current quantile estimates with a MONOTONE n_seen counter
    — the newest emission per type (max n_seen) is the final sketch
    (the stateful_latest_state compaction rule). The sample membership
    rule (k smallest (h, event_id)) and the crossing rule
    (first sample rank with r·10⁴ ≥ q·n_sk, ties by (cents, event_id))
    mirror the batch operator token for token, so a drained stream's
    final emission equals the batch sketch EXACTLY."""
    (event_type,) = key
    if state.exists:
        n_seen, hs, ids, cs = state.get
        entries = list(zip(hs, ids, cs))
    else:
        n_seen, entries = 0, []
    new_rows = 0
    for pdf in batches:
        new_rows += len(pdf)
        entries.extend(
            zip(
                pdf["h"].astype("int64"),
                pdf["event_id"].astype("int64"),
                pdf["cents"].astype("int64"),
            )
        )
    if new_rows == 0:
        return
    n_seen += new_rows
    entries.sort(key=lambda e: (e[0], e[1]))
    entries = entries[:QSK_K]
    state.update(
        (
            n_seen,
            [int(e[0]) for e in entries],
            [int(e[1]) for e in entries],
            [int(e[2]) for e in entries],
        )
    )
    by_value = sorted(entries, key=lambda e: (e[2], e[1]))
    n_sk = len(by_value)
    ests = []
    for q_bp in QSK_QUANTILES_BP:
        est = next(
            e[2]
            for r, e in enumerate(by_value, start=1)
            if r * 10000 >= q_bp * n_sk
        )
        ests.append(int(est))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_seen": [n_seen],
            "est_p50_cents": [ests[0]],
            "est_p95_cents": [ests[1]],
            "est_p99_cents": [ests[2]],
        }
    )


def stateful_quantile_sketch(stream: DataFrame) -> DataFrame:
    """Streaming quantile estimates from bounded per-type state: each
    micro-batch folds its rows into the k-smallest-hash sample (the
    mergeable-sketch property makes the fold exact — identical to
    having seen all data at once, whatever the batch boundaries) and
    emits the updated P50/P95/P99. At 100 TB/day this is the live
    latency/value dashboard: k·|types| rows of state, forever."""
    from pyspark.sql import functions as F

    from mapreduce_rs_spark.functions.hashing import h64
    from mapreduce_rs_spark.operators.relational import money

    prepared = stream.select(
        "event_type",
        "event_id",
        (money("value") * 100).cast("long").alias("cents"),
        h64(F.col("event_id").cast("string")).alias("h"),
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        _quantile_sketch_group,
        outputStructType=QSK_OUTPUT_SCHEMA,
        stateStructType=QSK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
