"""Streaming <-> batch parity as ONE parametrized, hash-compared
family (round-4 verdict #5): every streaming/pipeline.py dataflow op is
drained through the real streaming engine (file source, availableNow,
checkpoint) and its output hashed against the IDENTICAL transformation
run in batch over the same input. The hash is bit-exact — floats are
compared by their IEEE bytes (struct.pack), not tolerance — which is
why the ops follow the repo's decimal-accumulation money rule: exact
sums are order-independent, so micro-batch boundaries cannot flip a
bit. Complements the op-specific behavior tests in test_streaming.py
(restart exactly-once, watermark late-data drops, replay dedup) and the
stateful trio's drain tests in test_stateful_streaming.py.
"""

from __future__ import annotations

import datetime
import hashlib
import struct

import pytest
from pyspark.sql import functions as F

from mapreduce_rs_spark.operators.relational import money, stable_sum
from mapreduce_rs_spark.operators.similarity import _ingest_report
from mapreduce_rs_spark.sources.catalog import load_table
from mapreduce_rs_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    run_foreach_batch_upsert,
    streaming_click_purchase_join,
    streaming_dedup,
    streaming_ohlc,
    streaming_sessions,
    streaming_tumbling_counts,
)


def frame_hash(df) -> str:
    """Order-insensitive bit-exact hash: rows sorted by their full
    repr, every float contributing its IEEE-754 bytes — a tolerance-free
    twin of the driver's value hash."""
    cols = sorted(df.columns)

    def cell(v):
        if isinstance(v, float):
            return struct.pack("<d", v).hex()
        return repr(v)

    rows = sorted(
        "|".join(cell(r[c]) for c in cols) for r in df.select(*cols).collect()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _drain(df_stream, outp: str, ckpt: str, mode: str = "append") -> None:
    (
        df_stream.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _finalized_windows(events, hours: int = 1, wm_hours: int = 2):
    """Append mode emits exactly the windows finalized at the terminal
    watermark (max event time - watermark): window_start + size <= wm.
    Derived from the data, not a magic slack."""
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - datetime.timedelta(hours=wm_hours)
    return final_wm - datetime.timedelta(hours=hours)


def _tumbling_case(spark, events, inp, tmp):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(inp)
    outp, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    _drain(streaming_tumbling_counts(stream), outp, ckpt)
    got = spark.read.parquet(outp)
    cutoff = _finalized_windows(events)
    batch = (
        events.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            stable_sum(money("value")).alias("sum_value"),
        )
        .where(F.col("window_start") <= F.lit(cutoff))
    )
    return got, batch


def _dedup_case(spark, events, inp, tmp):
    # the input was written TWICE (source replay); the batch twin is
    # plain exact dedup over the doubled input
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(inp)
    outp, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    _drain(streaming_dedup(stream), outp, ckpt)
    got = spark.read.parquet(outp)
    batch = spark.read.parquet(inp).dropDuplicates(["event_id"])
    return got, batch


def _join_case(spark, events, inp, tmp):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(inp)
    outp, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    _drain(
        streaming_click_purchase_join(
            stream.where(F.col("event_type") == "click"),
            stream.where(F.col("event_type") == "purchase"),
        ),
        outp,
        ckpt,
    )
    got = spark.read.parquet(outp)
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    batch = (
        events.where(F.col("event_type") == "purchase")
        .join(
            clicks,
            (F.col("user_id") == F.col("cu"))
            & (F.col("click_ts") <= F.col("ts"))
            & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
            "value",
        )
    )
    return got, batch


def _upsert_case(spark, events, inp, tmp):
    tgt, ckpt = str(tmp / "tgt"), str(tmp / "ckpt")
    run_foreach_batch_upsert(spark, inp, tgt, ckpt)
    got = spark.read.parquet(tgt)
    # update mode + idempotent key merge reaches EVERY window (no
    # append-mode holdback)
    batch = events.groupBy(
        F.window("ts", "1 hour").start.alias("window_start"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        stable_sum(money("value")).alias("sum_value"),
    )
    return got, batch


def _sessions_case(spark, events, inp, tmp):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(inp)
    outp, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    _drain(streaming_sessions(stream), outp, ckpt)
    got = spark.read.parquet(outp)
    cutoff = _finalized_windows(events, hours=0)
    batch = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            stable_sum(money("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        # a session is finalized when the watermark passes its
        # gap-extended end (session_window.end == last event + gap)
        .where(F.col("session_end") <= F.lit(cutoff))
    )
    return got, batch


def _ohlc_case(spark, events, inp, tmp):
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(inp)
    outp, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    _drain(streaming_ohlc(stream), outp, ckpt)
    got = spark.read.parquet(outp)
    cutoff = _finalized_windows(events)
    order_key = F.struct("ts", "event_id")
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window").start.alias("bucket_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
        .where(F.col("bucket_ts") <= F.lit(cutoff))
    )
    return got, batch


CASES = {
    "tumbling": (_tumbling_case, False),
    "dedup": (_dedup_case, True),  # input written twice (replay)
    "stream_stream_join": (_join_case, False),
    "foreach_batch_upsert": (_upsert_case, False),
    "sessions": (_sessions_case, False),
    "ohlc": (_ohlc_case, False),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_streaming_op_hash_matches_batch_twin(spark, sf_dir, tmp_path, case):
    build, replay = CASES[case]
    events = load_table(spark, sf_dir, "events")
    inp = str(tmp_path / "in")
    events.write.parquet(inp)
    if replay:
        events.write.mode("append").parquet(inp)
    got, batch = build(spark, events, inp, tmp_path)
    assert got.count() > 0, f"{case}: stream emitted nothing"
    assert sorted(got.columns) == sorted(batch.columns)
    assert frame_hash(got) == frame_hash(batch), f"{case}: hash mismatch"


# ---------------------------------------------------------------------------
# Late / out-of-order arrival family (r05 verdict #7): the 6-op family
# above replays ORDERED input. These cases force events to arrive out
# of order ACROSS micro-batches (one file per trigger, file mtimes pin
# the arrival order) and PAST the watermark, then hash-compare against
# the batch twin restricted to the non-late set — pinning exactly which
# rows the watermark contract drops, accepts, or (for dedup) re-emits
# after state eviction.
#
# Timeline shared by the agg cases (watermark delay = 2h, 1h windows):
#   arrival 0: events in hours 0-5 and hour 10, plus a clock-advancer at
#            h50 -> watermark after the drain = 48h; every window with
#            end <= 48h is emitted and EVICTED.
#   arrival 1: one row at h10:40 — its window (10,11] was evicted: must
#            be DROPPED; two rows at h49 — older than the stream's max
#            (out of order) but above the watermark: must be ACCEPTED
#            into the still-open (49,50] window.
#   arrival 2: advancer at h60 -> watermark 58h, flushing the windows
#            the arrival-1 rows touched.
#
# Arrival separation is enforced by draining availableNow ONCE PER
# ARRIVAL against the same checkpoint (a single drain may coalesce the
# files into one micro-batch, which would let the late row sneak in
# before the watermark ever advanced); the per-arrival restart also
# exercises watermark/state recovery from the checkpoint.
# ---------------------------------------------------------------------------

import os

H0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _h(hours: float) -> datetime.datetime:
    return H0 + datetime.timedelta(hours=hours)


def _ev_frame(spark, rows):
    # rows: (event_id, ts, user_id, event_type, value)
    return spark.createDataFrame(
        [(i, ts, u, et, float(v), "{}") for (i, ts, u, et, v) in rows],
        schema=EVENT_SCHEMA,
    )


def _drain_arrivals(spark, tmp_path, arrivals, op) -> "DataFrame":
    """Append each arrival batch to the source dir, then drain the op
    with availableNow against ONE persistent checkpoint — each arrival
    is processed as its own micro-batch run with the watermark state
    recovered from the previous drain."""
    inp = str(tmp_path / "in")
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(inp, exist_ok=True)
    for i, frame in enumerate(arrivals):
        frame.coalesce(1).write.mode("append").parquet(inp)
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(inp)
        _drain(op(stream), outp, ckpt)
    return spark.read.parquet(outp)


_B0 = [
    # hours 0-5: one event per hour (these windows finalize in batch 0)
    *[(i, None, i, "click", 10.50 + i) for i in range(6)],
    # hour 10: two on-time events the late straggler will target
    (20, 10.25, 20, "click", 7.25),
    (21, 10.50, 21, "click", 2.75),
    # clock advancer: watermark -> 48h after this batch
    (30, 50.0, 30, "view", 1.25),
]
_B0 = [
    (eid, _h(ts if ts is not None else eid + 0.5), u, et, v)
    for (eid, ts, u, et, v) in _B0
]
_B1 = [
    # LATE: window (10,11] was emitted+evicted at watermark 48h -> drop
    (40, _h(10.66), 40, "click", 100.0),
    # OUT OF ORDER but within watermark: window (49,50] still open
    (41, _h(49.10), 41, "click", 5.25),
    (42, _h(49.40), 42, "click", 6.75),
]
_B2 = [(50, _h(60.0), 50, "view", 0.25)]

# the one row the watermark contract must drop
_DROPPED_IDS = {40}
_FINAL_WM_H = 58  # 60h advancer - 2h delay


def _late_tumbling(spark, tmp_path):
    got = _drain_arrivals(
        spark,
        tmp_path,
        [_ev_frame(spark, b) for b in (_B0, _B1, _B2)],
        streaming_tumbling_counts,
    )
    kept = _ev_frame(spark, _B0 + _B1 + _B2).where(
        ~F.col("event_id").isin(list(_DROPPED_IDS))
    )
    batch = (
        kept.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            stable_sum(money("value")).alias("sum_value"),
        )
        .where(F.col("window_start") < F.lit(_h(_FINAL_WM_H)))
    )
    return got, batch


def _late_ohlc(spark, tmp_path):
    got = _drain_arrivals(
        spark,
        tmp_path,
        [_ev_frame(spark, b) for b in (_B0, _B1, _B2)],
        streaming_ohlc,
    )
    kept = _ev_frame(spark, _B0 + _B1 + _B2).where(
        ~F.col("event_id").isin(list(_DROPPED_IDS))
    )
    order_key = F.struct("ts", "event_id")
    batch = (
        kept.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window").start.alias("bucket_ts"),
            "event_type", "open", "high", "low", "close", "n_events",
        )
        .where(F.col("bucket_ts") < F.lit(_h(_FINAL_WM_H)))
    )
    return got, batch


def _late_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark eviction semantics, pinned: a key
    replayed WITHIN the watermark horizon is dropped even at a new ts; a
    key whose state the watermark already evicted RE-EMITS (the
    documented weaker-than-global contract); an input row below the
    watermark is dropped as late regardless of key."""
    b0 = [
        (100, _h(0.0), 1, "click", 3.25),   # state evicted once wm=48h
        (200, _h(50.0), 2, "view", 1.25),   # advancer; state alive till 52h
    ]
    b1 = [
        (100, _h(49.0), 1, "click", 3.25),  # evicted key -> RE-EMITS
        (200, _h(49.5), 2, "view", 1.25),   # live key -> dropped (dup)
        (300, _h(10.0), 3, "click", 9.50),  # below wm 48h -> late, dropped
    ]
    got = _drain_arrivals(
        spark, tmp_path, [_ev_frame(spark, b) for b in (b0, b1)], streaming_dedup
    )
    expected = _ev_frame(spark, b0 + [b1[0]])
    return got, expected


def _late_join(spark, tmp_path):
    """Stream-stream join late/eviction semantics (r06 verdict #8),
    pinned against the batch twin over the non-late set:

    * LATE INPUT below the global watermark is dropped on BOTH sides
      at ingest — verified empirically while building this case: a
      click at wm − 0.5h is discarded even though the engine's own
      state watermark (wm − 1h, derived from the join's time bound)
      would have tolerated it, so an on-time purchase whose bound
      covers that click emits NOTHING (the missed-join consequence of
      lateness, not just a missing row);
    * STATE EVICTION runs at the derived threshold: C1's click state
      (click_ts + 1h = 11h, far below wm 48h) is evicted, so a late
      purchase replaying its window emits nothing even where a
      just-in-time row once matched;
    * OUT OF ORDER but above the watermark is accepted: a click older
      than the stream's max-seen event time still enters state and
      joins a later on-time purchase.

    Advancer pitfall pinned while building this case: BOTH sides need
    an advancer OF THEIR OWN TYPE. The ``withWatermark`` nodes sit
    above the click/purchase filters, the global watermark is the MIN
    across the two nodes, and a row of a third type reaches neither —
    a "view" advancer advances nothing and every late row then joins
    as if on time.
    """
    b0 = [
        (1, _h(10.0), 1, "click", 1.25),    # joins P1 in-batch
        (2, _h(10.5), 1, "purchase", 9.50), # -> (P1, C1)
        # per-side advancers: global wm = min(48h, 48.2h) = 48h
        (3, _h(50.0), 99, "click", 0.25),
        (4, _h(50.2), 98, "purchase", 0.25),
    ]
    b1 = [  # processed at wm = 48h
        (11, _h(48.5), 5, "click", 2.75),   # out of order (< max 50h)
        #                                     but above wm: ACCEPTED
        (12, _h(47.5), 6, "click", 3.25),   # 0.5h below wm: DROPPED at
        #                                     ingest despite being
        #                                     inside P6's join bound
    ]
    b2 = [  # wm still 48h (b1 adds nothing above 50h)
        (10, _h(10.7), 1, "purchase", 8.25),  # LATE purchase: emits
        #                                       nothing (C1 evicted)
        (20, _h(49.2), 5, "purchase", 7.75),  # joins the accepted C5
        (21, _h(48.4), 6, "purchase", 6.25),  # on time, bound covers
        #                                       the dropped C6: NOTHING
        (22, _h(60.0), 97, "purchase", 0.25), # flush advancer
    ]

    def op(stream):
        return streaming_click_purchase_join(
            stream.where(F.col("event_type") == "click"),
            stream.where(F.col("event_type") == "purchase"),
        )

    got = _drain_arrivals(
        spark, tmp_path, [_ev_frame(spark, b) for b in (b0, b1, b2)], op
    )
    kept = _ev_frame(spark, b0 + b1 + b2).where(
        ~F.col("event_id").isin([10, 12])  # the two watermark drops
    )
    clicks = kept.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    batch = (
        kept.where(F.col("event_type") == "purchase")
        .join(
            clicks,
            (F.col("user_id") == F.col("cu"))
            & (F.col("click_ts") <= F.col("ts"))
            & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
            "value",
        )
    )
    return got, batch


def _late_sessions(spark, tmp_path):
    """Session-window late/merge semantics (r06 verdict #8):

    * a late event targeting a session the watermark already finalized
      and EVICTED is dropped — the session is not re-emitted and no
      spurious single-event session appears;
    * an out-of-order event WITHIN the watermark that lands in the gap
      between two still-open sessions MERGES them across micro-batch
      boundaries into one session (the state operation where session
      implementations actually break) — emitted once, finalized, with
      the exact merged extent, count and decimal sum the batch twin
      computes from the non-late set.
    """
    b0 = [
        # u1: one session [10.0, 10.2 + 30min gap) -> finalized at wm 48
        (1, _h(10.0), 1, "click", 1.25),
        (2, _h(10.2), 1, "click", 2.50),
        # u2: TWO open sessions — [49.0, 49.5) and [49.6, 50.1)
        (3, _h(49.0), 2, "click", 3.75),
        (4, _h(49.6), 2, "click", 4.25),
        (5, _h(50.0), 99, "view", 0.25),  # advancer: wm = 48h
    ]
    b1 = [
        (10, _h(10.4), 1, "click", 9.50),  # LATE: session evicted, drop
        (11, _h(49.3), 2, "click", 5.25),  # within wm: bridges u2's two
        #                                    open sessions -> MERGE
    ]
    b2 = [(20, _h(60.0), 98, "view", 0.25)]  # wm -> 58h: flush u2/u99

    got = _drain_arrivals(
        spark, tmp_path, [_ev_frame(spark, b) for b in (b0, b1, b2)],
        streaming_sessions,
    )
    kept = _ev_frame(spark, b0 + b1 + b2).where(~F.col("event_id").isin([10]))
    batch = (
        kept.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            stable_sum(money("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .where(F.col("session_end") <= F.lit(_h(_FINAL_WM_H)))
    )
    # the merge actually happened: u2 emits ONE 3-event session
    u2 = [r for r in got.collect() if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["n_events"] == 3, f"u2 sessions: {u2}"
    return got, batch


LATE_CASES = {
    "tumbling_late": _late_tumbling,
    "ohlc_late": _late_ohlc,
    "dedup_eviction": _late_dedup,
    "join_state_eviction": _late_join,
    "sessions_late_merge": _late_sessions,
}


@pytest.mark.parametrize("case", sorted(LATE_CASES))
def test_streaming_late_data_hash_matches_nonlate_batch_twin(
    spark, tmp_path, case
):
    got, batch = LATE_CASES[case](spark, tmp_path)
    assert got.count() > 0, f"{case}: stream emitted nothing"
    assert sorted(got.columns) == sorted(batch.columns)
    assert frame_hash(got) == frame_hash(batch), f"{case}: hash mismatch"


def test_streaming_ivf_maintenance_matches_batch_after_multibatch_drain(
    spark, sf_dir, tmp_path
):
    """r08 verdict #7: the IVF maintenance aggregate's streaming twin.
    The embeddings corpus arrives as FORCED multiple micro-batches
    (one file per trigger); the merged per-epoch integer partials must
    roll up to the batch ivf_index_maintenance output bit-for-bit
    (integer sums are batching-independent — the mergeability the
    sketch families already prove). A replayed epoch (sink wrote,
    offset commit lost) must overwrite its own partials, not
    double-count them."""
    from mapreduce_rs_spark.operators.similarity import ivf_index_maintenance
    from mapreduce_rs_spark.streaming.pipeline import (
        ivf_state_update,
        run_streaming_ivf_maintenance,
        streaming_ivf_state_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    # land the corpus as 4 files -> 4 micro-batches under
    # maxFilesPerTrigger=1 (multi-batch is the point of the test)
    emb.select("vec_id", "embedding").repartition(4).write.parquet(inp)
    run_streaming_ivf_maintenance(
        spark, inp, state, ckpt, max_files_per_trigger=1
    )
    import glob as _glob
    import os as _os

    epochs = _glob.glob(_os.path.join(state, "epoch=*"))
    assert len(epochs) >= 3, f"expected a multi-batch drain, got {epochs}"

    got = streaming_ivf_state_report(spark, state)
    batch = ivf_index_maintenance(emb)
    assert sorted(got.columns) == sorted(batch.columns)
    assert frame_hash(got) == frame_hash(batch)

    # restart idempotency 1: re-drain the same checkpoint with no new
    # files — no new epochs, report unchanged
    run_streaming_ivf_maintenance(
        spark, inp, state, ckpt, max_files_per_trigger=1
    )
    assert frame_hash(streaming_ivf_state_report(spark, state)) == frame_hash(batch)

    # restart idempotency 2: simulate the replay window (sink write
    # landed, offset commit lost) by re-running one epoch's update
    # directly with the exact file the checkpoint's file-source log
    # assigned it — the per-epoch OVERWRITE must land byte-identical
    # partials, leaving the merged report unmoved (the double-count
    # this guards against would shift every n_before/n_new)
    import json as _json

    src_log = _os.path.join(ckpt, "sources", "0", "0")
    with open(src_log) as fh:
        entries = [
            _json.loads(line)
            for line in fh
            if line.strip().startswith("{")
        ]
    epoch0_files = [e["path"] for e in entries]
    assert len(epoch0_files) == 1  # maxFilesPerTrigger=1
    ivf_state_update(spark.read.parquet(*epoch0_files), state, 0)
    assert frame_hash(streaming_ivf_state_report(spark, state)) == frame_hash(batch)

    # re-delivery idempotency (ADVICE r09): the SAME file path arrives
    # again in a LATER epoch (forced reprocess / re-picked-up input) —
    # the reader's latest-epoch-wins-per-src_file merge must read it as
    # ONE logical contribution; a blind sum would double-count every
    # n_before/n_new for that file's vectors
    ivf_state_update(spark.read.parquet(*epoch0_files), state, 99)
    assert frame_hash(streaming_ivf_state_report(spark, state)) == frame_hash(batch)


def test_ivf_state_update_accepts_non_file_backed_batch(spark, sf_dir, tmp_path):
    """r10 ADVICE #2a: a direct caller whose micro-batch is NOT
    file-backed (createDataFrame — no resolvable ``_metadata``) must get
    an epoch-qualified sentinel src_file, not an AnalysisException; two
    such epochs must BOTH survive the reader's latest-wins merge (the
    sentinels are epoch-unique) and roll up to the batch aggregate."""
    from mapreduce_rs_spark.operators.similarity import ivf_index_maintenance
    from mapreduce_rs_spark.streaming.pipeline import (
        ivf_state_update,
        streaming_ivf_state_report,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    half_a = spark.createDataFrame(
        emb.where(F.col("vec_id") % 2 == 0).toPandas(), schema=emb.schema
    )
    half_b = spark.createDataFrame(
        emb.where(F.col("vec_id") % 2 == 1).toPandas(), schema=emb.schema
    )
    state = str(tmp_path / "state")
    ivf_state_update(half_a, state, 0)
    ivf_state_update(half_b, state, 1)
    got = streaming_ivf_state_report(spark, state)
    batch = ivf_index_maintenance(load_table(spark, sf_dir, "embeddings"))
    assert frame_hash(got) == frame_hash(batch)


def test_ivf_state_report_reads_legacy_pre_provenance_state(
    spark, sf_dir, tmp_path
):
    """r10 ADVICE #2b: a state directory written by the pre-provenance
    code (epochs WITHOUT src_file) must still read — each legacy epoch
    backfills an epoch-unique sentinel, so latest-wins keeps every
    legacy epoch's partials (the old blind-sum semantics) while a NEW
    provenance-carrying epoch merges alongside. No silent upgrade
    incompatibility for persisted state."""
    import os as _os

    from mapreduce_rs_spark.operators.similarity import (
        ivf_index_maintenance,
        ivf_maintenance_partials,
    )
    from mapreduce_rs_spark.streaming.pipeline import (
        ivf_state_update,
        streaming_ivf_state_report,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    state = str(tmp_path / "state")
    # two LEGACY epochs: the exact pre-provenance writer shape (no
    # src_file column, no extra keys)
    for epoch, rem in ((0, 0), (1, 1)):
        ivf_maintenance_partials(
            emb.where(F.col("vec_id") % 3 == rem)
        ).write.mode("overwrite").parquet(_os.path.join(state, f"epoch={epoch}"))
    # one NEW epoch through the current writer (file-backed: provenance)
    new_in = str(tmp_path / "new_in")
    emb.where(F.col("vec_id") % 3 == 2).write.parquet(new_in)
    ivf_state_update(spark.read.parquet(new_in), state, 2)
    got = streaming_ivf_state_report(spark, state)
    batch = ivf_index_maintenance(load_table(spark, sf_dir, "embeddings"))
    assert frame_hash(got) == frame_hash(batch)


def test_streaming_graph_ingest_matches_batch_admission(spark, sf_dir, tmp_path):
    """The graph tier's continuous admission loop: micro-batched
    vectors beam-searched against the PERSISTED standing artifacts must
    produce the batch admission core's edges byte-for-byte (admissions
    read only standing state, so batching cannot move an edge), and a
    re-drain on the same checkpoint plus a simulated half-committed
    replay must not duplicate edge rows."""
    from mapreduce_rs_spark.streaming.pipeline import (
        admitted_edges_from_store,
        build_graph_store,
        graph_ingest_update,
        run_streaming_graph_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.where(F.col("vec_id") % 10 < 8)
    new = emb.where(F.col("vec_id") % 10 >= 8).select("vec_id", "embedding")
    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ck")
    build_graph_store(spark, standing, store)
    new.repartition(3).write.parquet(inp)
    run_streaming_graph_ingest(
        spark, inp, store, edges_dir, ckpt, max_files_per_trigger=1
    )
    from mapreduce_rs_spark.streaming.pipeline import read_admitted_edges

    # the reader contract: per-epoch directories merged latest-wins
    got = read_admitted_edges(spark, edges_dir)

    # batch twin: the SAME admission step over the whole new split at
    # once, against the same persisted artifacts
    batch = admitted_edges_from_store(new, store)
    assert got.count() == batch.count() > 0
    assert frame_hash(got) == frame_hash(batch)

    # re-drain, no new files: no new epochs, table unchanged
    run_streaming_graph_ingest(
        spark, inp, store, edges_dir, ckpt, max_files_per_trigger=1
    )
    assert frame_hash(read_admitted_edges(spark, edges_dir)) == frame_hash(batch)

    # simulated replay (sink write landed, offset commit lost): re-run
    # epoch 0's update with the exact file the checkpoint's source log
    # assigned it — the overwrite lands byte-identical edges and the
    # table must not move
    import json as _json
    import os as _os

    with open(_os.path.join(ckpt, "sources", "0", "0")) as fh:
        entries = [
            _json.loads(line) for line in fh if line.strip().startswith("{")
        ]
    assert len(entries) == 1  # maxFilesPerTrigger=1
    graph_ingest_update(
        spark.read.parquet(entries[0]["path"]), store, edges_dir, 0
    )
    assert frame_hash(read_admitted_edges(spark, edges_dir)) == frame_hash(batch)

    # upstream RE-DELIVERY (same vec_ids in a NEW file -> a new epoch):
    # the raw table now holds two epochs of those q_ids, but the reader
    # merges latest-wins, so the logical table is unchanged
    graph_ingest_update(spark.read.parquet(entries[0]["path"]), store, edges_dir, 99)
    raw = spark.read.parquet(edges_dir).select("q_id", "cand", "cs")
    assert raw.count() > batch.count()  # duplicates exist in the raw layout
    assert frame_hash(read_admitted_edges(spark, edges_dir)) == frame_hash(batch)


def test_first_batch_store_probe_swallows_only_missing_store(spark, tmp_path):
    """ADVICE r09: the near-dup loop's first-batch store probe must
    swallow ONLY the genuine empty-store conditions (PATH_NOT_FOUND,
    UNABLE_TO_INFER_SCHEMA on a created-but-empty dir) — any other
    AnalysisException (e.g. analysis failure over a corrupted or
    partially-written store) re-raises so the batch fails and the
    replay retries instead of silently admitting against an empty
    corpus view."""
    from pyspark.errors import AnalysisException

    from mapreduce_rs_spark.streaming.pipeline import _is_missing_store

    with pytest.raises(AnalysisException) as missing:
        spark.read.parquet(str(tmp_path / "nonexistent"))
    assert _is_missing_store(missing.value)

    empty = tmp_path / "created_but_empty"
    empty.mkdir()
    with pytest.raises(AnalysisException) as inferless:
        spark.read.parquet(str(empty))
    assert _is_missing_store(inferless.value)

    # a different analysis failure over a VALID store must not match
    good = str(tmp_path / "good")
    spark.range(3).write.parquet(good)
    with pytest.raises(AnalysisException) as other:
        spark.read.parquet(good).select("no_such_column").collect()
    assert not _is_missing_store(other.value)


def test_epoch_state_contract_without_a_stream(spark, tmp_path):
    """The shared epoch-state contract, default tier (every store-loop
    drain test is exhaustive-tier): tiny epoch directories written
    through ``_write_epoch`` and read back through the public readers,
    which apply ``_latest_epoch``. A key present in a later epoch reads
    only that epoch's rows, other keys are kept, and a same-epoch
    rewrite overwrites in place instead of appending."""
    from mapreduce_rs_spark.streaming.pipeline import (
        _write_epoch,
        read_admitted_edges,
        streaming_semdedup_ingest_report,
    )

    # edge table, keyed on q_id: q_id 1 is in epochs 0 and 1
    edges = str(tmp_path / "edges")
    e_schema = "q_id long, cand long, cs double"
    epoch1 = [(1, 12, 0.95), (3, 30, 0.6)]
    _write_epoch(
        spark.createDataFrame([(1, 10, 0.9), (1, 11, 0.8), (2, 20, 0.7)], e_schema),
        edges,
        0,
    )
    _write_epoch(spark.createDataFrame(epoch1, e_schema), edges, 1)
    want_edges = [(1, 12, 0.95), (2, 20, 0.7), (3, 30, 0.6)]
    assert sorted(map(tuple, read_admitted_edges(spark, edges).collect())) == want_edges

    # semdedup decisions, keyed on src_file: file "a" re-delivered in
    # epoch 1 counts once
    state = str(tmp_path / "state")
    d_schema = "vec_id long, cid int, is_dropped int, src_file string"
    redelivered = [(1, 0, 0, "a"), (2, 0, 1, "a")]
    _write_epoch(
        spark.createDataFrame(redelivered + [(3, 1, 0, "b")], d_schema), state, 0
    )
    _write_epoch(spark.createDataFrame(redelivered, d_schema), state, 1)

    def audit():
        return sorted(
            map(
                tuple,
                streaming_semdedup_ingest_report(spark, state)
                .select("centroid_id", "n_ingested", "n_dropped")
                .collect(),
            )
        )

    want_audit = [(0, 2, 1), (1, 1, 0)]
    assert audit() == want_audit

    # same-epoch rewrite (a replay): raw and merged row counts unchanged
    raw_edges = spark.read.parquet(edges).count()
    raw_state = spark.read.parquet(state).count()
    _write_epoch(spark.createDataFrame(epoch1, e_schema), edges, 1)
    _write_epoch(spark.createDataFrame(redelivered, d_schema), state, 1)
    assert spark.read.parquet(edges).count() == raw_edges == 5
    assert spark.read.parquet(state).count() == raw_state == 5
    assert sorted(map(tuple, read_admitted_edges(spark, edges).collect())) == want_edges
    assert audit() == want_audit


def test_streaming_decon_gate_matches_batch_operator(spark, sf_dir, tmp_path):
    """r10 verdict #5: semantic_decontaminate_fixed's streaming twin.
    The corpus arrives as forced micro-batches; every train vector
    scores against the PERSISTED fixed eval artifact per batch; the
    merged flag state must replay the batch operator's top-k report
    bit-for-bit (per-vector scores read only the vector + the fixed
    artifact, so batching cannot move a row). Re-drain, true same-epoch
    replay, and later-epoch re-delivery must all leave it unmoved."""
    import glob as _glob
    import json as _json
    import os as _os

    from mapreduce_rs_spark.operators.similarity import (
        semantic_decontaminate_fixed,
    )
    from mapreduce_rs_spark.streaming.pipeline import (
        build_decon_store,
        decon_state_update,
        run_streaming_decon_gate,
        streaming_decon_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "store")
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    build_decon_store(spark, emb, store)
    emb.select("vec_id", "embedding").repartition(4).write.parquet(inp)
    run_streaming_decon_gate(spark, inp, store, state, ckpt, max_files_per_trigger=1)
    epochs = _glob.glob(_os.path.join(state, "epoch=*"))
    assert len(epochs) >= 3, f"expected a multi-batch drain, got {epochs}"

    batch = semantic_decontaminate_fixed(emb)
    got = streaming_decon_report(spark, state)
    assert sorted(got.columns) == sorted(batch.columns)
    assert frame_hash(got) == frame_hash(batch)

    # restart idempotency: re-drain the same checkpoint, nothing moves
    run_streaming_decon_gate(spark, inp, store, state, ckpt, max_files_per_trigger=1)
    assert frame_hash(streaming_decon_report(spark, state)) == frame_hash(batch)

    # true same-epoch replay: re-run epoch 0 with the exact file its
    # checkpoint source log assigned it — byte-identical overwrite
    src_log = _os.path.join(ckpt, "sources", "0", "0")
    with open(src_log) as fh:
        entries = [
            _json.loads(line) for line in fh if line.strip().startswith("{")
        ]
    epoch0_files = [e["path"] for e in entries]
    assert len(epoch0_files) == 1
    decon_state_update(spark.read.parquet(*epoch0_files), store, state, 0)
    assert frame_hash(streaming_decon_report(spark, state)) == frame_hash(batch)

    # re-delivery: the SAME file in a LATER epoch reads as ONE logical
    # contribution (latest-wins per src_file)
    decon_state_update(spark.read.parquet(*epoch0_files), store, state, 99)
    assert frame_hash(streaming_decon_report(spark, state)) == frame_hash(batch)


def test_streaming_semdedup_ingest_matches_oneshot_gate(spark, sf_dir, tmp_path):
    """r10 verdict #5: semdedup_derived_k's ingest twin. The derived-k
    model is fit once on the STANDING corpus (the recluster cadence)
    and persisted; ingested vectors arrive as forced micro-batches and
    are admitted iff no standing member of their assigned cluster is
    within tau. Decisions read only persisted state, so the drained
    audit must equal the one-shot gate over the whole ingest split
    bit-for-bit; re-drain, true replay, and re-delivery leave it
    unmoved."""
    import glob as _glob
    import json as _json
    import os as _os

    from mapreduce_rs_spark.streaming.pipeline import (
        build_semdedup_store,
        run_streaming_semdedup_ingest,
        semdedup_admit_batch,
        semdedup_ingest_update,
        streaming_semdedup_ingest_report,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    standing = emb.where(F.col("vec_id") % 10 < 8)
    ingest = emb.where(F.col("vec_id") % 10 >= 8)
    store = str(tmp_path / "store")
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    build_semdedup_store(spark, standing, store)
    ingest.repartition(3).write.parquet(inp)
    run_streaming_semdedup_ingest(
        spark, inp, store, state, ckpt, max_files_per_trigger=1
    )
    epochs = _glob.glob(_os.path.join(state, "epoch=*"))
    assert len(epochs) >= 2, f"expected a multi-batch drain, got {epochs}"

    # the one-shot gate over the whole ingest split, rolled to the same
    # audit shape the report emits
    oneshot = semdedup_admit_batch(ingest, store)
    batch_audit = _ingest_report(oneshot)
    # the gate must be non-vacuous on the shipped corpus: some vectors
    # dropped, some admitted
    tot = oneshot.agg(
        F.sum("is_dropped").alias("d"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert 0 < tot["d"] < tot["n"], f"vacuous gate: {tot}"

    got = streaming_semdedup_ingest_report(spark, state)
    assert sorted(got.columns) == sorted(batch_audit.columns)
    assert frame_hash(got) == frame_hash(batch_audit)

    run_streaming_semdedup_ingest(
        spark, inp, store, state, ckpt, max_files_per_trigger=1
    )
    assert frame_hash(streaming_semdedup_ingest_report(spark, state)) == frame_hash(
        batch_audit
    )

    src_log = _os.path.join(ckpt, "sources", "0", "0")
    with open(src_log) as fh:
        entries = [
            _json.loads(line) for line in fh if line.strip().startswith("{")
        ]
    epoch0_files = [e["path"] for e in entries]
    assert len(epoch0_files) == 1
    semdedup_ingest_update(spark.read.parquet(*epoch0_files), store, state, 0)
    assert frame_hash(streaming_semdedup_ingest_report(spark, state)) == frame_hash(
        batch_audit
    )
    semdedup_ingest_update(spark.read.parquet(*epoch0_files), store, state, 99)
    assert frame_hash(streaming_semdedup_ingest_report(spark, state)) == frame_hash(
        batch_audit
    )


def test_semdedup_admit_batch_degenerate_corpus_matches_oneshot(spark, tmp_path):
    """r11 ADVICE #1: the admission gate must re-derive the plane count
    through the FIT's own chain (sdk_planes_for(ivf_k_for(|standing|))),
    never from the centroid ROW count — the fit's data-seeded init
    filters zero-norm seeds, so a standing corpus with fewer
    nonzero-norm vectors than k persists fewer than k centroid rows,
    and a row-count-derived bucket space silently diverges from the
    model's. This corpus makes those two derivations DIFFER (624
    standing -> k=20 -> p=3; only 16 nonzero-norm seeds -> 16 centroid
    rows -> p=2 under the old reconstruction) and pins bit-for-bit
    parity with the oracled one-shot audit."""
    import numpy as np

    from mapreduce_rs_spark.operators.similarity import (
        EMBED_DIM,
        ivf_k_for,
        semdedup_ingest_audit,
    )
    from mapreduce_rs_spark.streaming.pipeline import (
        EMB_SCHEMA,
        build_semdedup_store,
        semdedup_admit_batch,
    )

    rng = np.random.RandomState(712)
    standing_ids = [i for i in range(780) if i % 10 < 8]
    ingest_ids = [i for i in range(780) if i % 10 >= 8]
    nonzero_std = standing_ids[:16]
    rows = []
    std_vecs = {}
    for vid in standing_ids:
        if vid in nonzero_std:
            v = [round(float(x), 4) for x in rng.normal(size=EMBED_DIM)]
        else:
            v = [0.0] * EMBED_DIM
        std_vecs[vid] = v
        rows.append((vid, v))
    for j, vid in enumerate(ingest_ids):
        if j < 8:
            v = list(std_vecs[nonzero_std[j]])  # exact standing copy -> drop
        elif j < 12:
            v = [0.0] * EMBED_DIM  # zero-norm -> guard keeps it
        else:
            v = [round(float(x), 4) for x in rng.normal(size=EMBED_DIM)]
        rows.append((vid, v))
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    standing = emb.where(F.col("vec_id") % 10 < 8)
    ingest = emb.where(F.col("vec_id") % 10 >= 8)

    store = str(tmp_path / "store")
    build_semdedup_store(spark, standing, store)
    import os as _os

    cent_rows = spark.read.parquet(_os.path.join(store, "centroids")).count()
    k = ivf_k_for(len(standing_ids))
    assert cent_rows < k, (
        f"degenerate premise broken: {cent_rows} centroid rows vs k={k}"
    )

    decisions = semdedup_admit_batch(ingest, store)
    tot = decisions.agg(
        F.sum("is_dropped").alias("d"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert 0 < tot["d"] < tot["n"], f"vacuous gate: {tot}"

    audit = semdedup_ingest_audit(emb)
    assert frame_hash(_ingest_report(decisions)) == frame_hash(audit)


def test_ingest_updates_dedup_vec_id_delivered_twice_in_one_epoch(
    spark, sf_dir, tmp_path
):
    """r11 ADVICE #2: a vec_id delivered in TWO files within a single
    micro-batch must yield ONE decision row (deterministic min-src_file
    copy), not one per copy — otherwise the decon gate's per-vec_id
    aggregate double-counts its eval hits and the semdedup audit
    double-counts the vector, diverging from the batch operators that
    see each vec_id once. Both twins are driven with a direct batch
    that carries the same vectors under two src_file values."""
    from mapreduce_rs_spark.operators.similarity import (
        semantic_decontaminate_fixed,
    )
    from mapreduce_rs_spark.streaming.pipeline import (
        build_decon_store,
        build_semdedup_store,
        decon_state_update,
        semdedup_admit_batch,
        semdedup_ingest_update,
        streaming_decon_report,
        streaming_semdedup_ingest_report,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # --- semdedup ingest twin ---
    standing = emb.where(F.col("vec_id") % 10 < 8)
    ingest = emb.where(F.col("vec_id") % 10 >= 8)
    sd_store = str(tmp_path / "sd_store")
    sd_state = str(tmp_path / "sd_state")
    build_semdedup_store(spark, standing, sd_store)
    dup_batch = ingest.withColumn("src_file", F.lit("f1")).union(
        ingest.withColumn("src_file", F.lit("f2"))
    )
    semdedup_ingest_update(dup_batch, sd_store, sd_state, 0)
    oneshot = _ingest_report(semdedup_admit_batch(ingest, sd_store))
    got = streaming_semdedup_ingest_report(spark, sd_state)
    assert frame_hash(got) == frame_hash(oneshot)

    # --- decon gate twin ---
    dc_store = str(tmp_path / "dc_store")
    dc_state = str(tmp_path / "dc_state")
    build_decon_store(spark, emb, dc_store)
    dup_all = emb.withColumn("src_file", F.lit("f1")).union(
        emb.withColumn("src_file", F.lit("f2"))
    )
    decon_state_update(dup_all, dc_store, dc_state, 0)
    batch = semantic_decontaminate_fixed(load_table(spark, sf_dir, "embeddings"))
    assert frame_hash(streaming_decon_report(spark, dc_state)) == frame_hash(batch)


def test_streaming_refit_serve_matches_batch_knn(spark, sf_dir, tmp_path):
    """r11 verdict #3: knn_ivf_refit's streaming twin — the model
    lifecycle's serve step under streaming ingest. The swap persists
    the refit centroid state once; corpus micro-batches are assigned
    under the PERSISTED model into the serving index; the drained
    report must answer the capped query set exactly as the
    self-contained batch query does (same fit engine, same argmax,
    same re-rank — one definition each), bit-for-bit. Re-drain, true
    same-epoch replay, and later-epoch re-delivery leave it unmoved."""
    import glob as _glob
    import json as _json
    import os as _os

    from mapreduce_rs_spark.operators.similarity import knn_ivf_refit
    from mapreduce_rs_spark.streaming.pipeline import (
        build_refit_store,
        refit_state_update,
        run_streaming_refit_serve,
        streaming_refit_serve_report,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    store = str(tmp_path / "store")
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    build_refit_store(spark, emb, store)
    emb.repartition(4).write.parquet(inp)
    run_streaming_refit_serve(spark, inp, store, state, ckpt, max_files_per_trigger=1)
    epochs = _glob.glob(_os.path.join(state, "epoch=*"))
    assert len(epochs) >= 3, f"expected a multi-batch drain, got {epochs}"

    batch = knn_ivf_refit(emb)
    got = streaming_refit_serve_report(spark, state, store)
    assert sorted(got.columns) == sorted(batch.columns)
    assert frame_hash(got) == frame_hash(batch)

    # restart idempotency: re-drain the same checkpoint, nothing moves
    run_streaming_refit_serve(spark, inp, store, state, ckpt, max_files_per_trigger=1)
    assert frame_hash(streaming_refit_serve_report(spark, state, store)) == frame_hash(
        batch
    )

    # true same-epoch replay: re-run epoch 0 with the exact file its
    # checkpoint source log assigned it — byte-identical overwrite
    src_log = _os.path.join(ckpt, "sources", "0", "0")
    with open(src_log) as fh:
        entries = [
            _json.loads(line) for line in fh if line.strip().startswith("{")
        ]
    epoch0_files = [e["path"] for e in entries]
    assert len(epoch0_files) == 1
    refit_state_update(spark.read.parquet(*epoch0_files), store, state, 0)
    assert frame_hash(streaming_refit_serve_report(spark, state, store)) == frame_hash(
        batch
    )

    # re-delivery: the SAME file in a LATER epoch reads as ONE logical
    # contribution (latest-wins per src_file)
    refit_state_update(spark.read.parquet(*epoch0_files), store, state, 99)
    assert frame_hash(streaming_refit_serve_report(spark, state, store)) == frame_hash(
        batch
    )
