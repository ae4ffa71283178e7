"""Structured Streaming pipeline: real streaming engine (file source,
availableNow trigger), checked against the batch tumbling-window query
and for exactly-once restart semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_rs_spark.sources.catalog import load_table
from mapreduce_rs_spark.streaming import run_stream, streaming_tumbling_counts


@pytest.fixture(scope="module")
def stream_dirs(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp, outp, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    load_table(spark, sf_dir, "events").write.parquet(inp)
    run_stream(spark, streaming_tumbling_counts, inp, ckpt, path=outp)
    return inp, outp, ckpt


def test_stream_matches_batch_for_closed_windows(spark, sf_dir, stream_dirs):
    _, outp, _ = stream_dirs
    events = load_table(spark, sf_dir, "events")
    streamed = spark.read.parquet(outp)
    batch = (
        events
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    s = {(r["window_start"], r["event_type"]): r["n_events"] for r in streamed.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    # Append mode withholds exactly the windows NOT finalized at the
    # final watermark (max event time - 2h): a 1h window emits iff
    # window_start + 1h <= max(ts) - 2h. Derived, not a magic slack —
    # if the testdata's tail-hour distribution drifts, the expected set
    # drifts with it and the assertion stays exact.
    import datetime

    assert s
    assert all(b[k] == v for k, v in s.items())
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - datetime.timedelta(hours=2)
    emitted_expected = {
        k for k in b if k[0] + datetime.timedelta(hours=1) <= final_wm
    }
    assert set(s) == emitted_expected


def test_stream_restart_is_exactly_once(spark, stream_dirs):
    inp, outp, ckpt = stream_dirs
    before = spark.read.parquet(outp).count()
    # same checkpoint: no-op
    run_stream(spark, streaming_tumbling_counts, inp, ckpt, path=outp)
    assert spark.read.parquet(outp).count() == before


def test_foreach_batch_upsert_matches_batch(spark, sf_dir, tmp_path):
    from mapreduce_rs_spark.streaming.pipeline import run_foreach_batch_upsert

    inp, tgt, ckpt = str(tmp_path / "in"), str(tmp_path / "tgt"), str(tmp_path / "ck")
    load_table(spark, sf_dir, "events").write.parquet(inp)
    run_foreach_batch_upsert(spark, inp, tgt, ckpt)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(tgt).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").start.alias("ws"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    expected = {(r["ws"], r["event_type"]): r["n"] for r in batch.collect()}
    # update mode emits every window (no append-mode watermark holdback)
    assert got == expected
    # Idempotent rerun on the same checkpoint changes nothing.
    run_foreach_batch_upsert(spark, inp, tgt, ckpt)
    got2 = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(tgt).collect()
    }
    assert got2 == expected


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream inner join with watermarks + event-time bounds must
    emit exactly the batch interval-join result when the source drains
    in one availableNow pass (no cross-batch watermark races)."""
    from pyspark.sql import functions as F  # noqa: F811

    from mapreduce_rs_spark.streaming.pipeline import streaming_click_purchase_join

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    events.write.parquet(inp)

    def joined(stream):
        return streaming_click_purchase_join(
            stream.where(F.col("event_type") == "click"),
            stream.where(F.col("event_type") == "purchase"),
        )

    run_stream(spark, joined, inp, ckpt, path=outp)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(outp).collect()
    }

    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = events.where(F.col("event_type") == "purchase")
    expected = {
        (r["event_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") <= F.col("ts"))
            & (F.col("cts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_dedup_drops_replayed_events(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed batch (at-least-once
    source behavior) must not produce duplicate rows downstream, while
    state stays bounded by the watermark."""
    from mapreduce_rs_spark.streaming.pipeline import streaming_dedup

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events").limit(200)
    # Write the same events TWICE (simulated source replay).
    events.write.parquet(inp)
    events.write.mode("append").parquet(inp)

    run_stream(spark, streaming_dedup, inp, ckpt, path=outp)
    got = spark.read.parquet(outp)
    assert got.count() == 200
    assert got.select("event_id").distinct().count() == 200


def test_late_data_beyond_watermark_is_dropped(spark, sf_dir, tmp_path):
    """The late-data contract: rows older than max(event_time) -
    watermark arriving in a later batch must NOT resurrect or duplicate
    an already-finalized window."""
    import datetime

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    events.write.parquet(inp)
    run_stream(spark, streaming_tumbling_counts, inp, ckpt, path=outp)
    before = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(outp).collect()
    }

    # A straggler 10 days older than everything already processed —
    # far beyond the 2h watermark.
    late_ts = min(r["window_start"] for r in spark.read.parquet(outp).collect())
    straggler = spark.createDataFrame(
        [(999999, late_ts - datetime.timedelta(days=10), 1, "click", 1.0, "{}")],
        schema=events.schema,
    )
    straggler.write.mode("append").parquet(inp)
    run_stream(spark, streaming_tumbling_counts, inp, ckpt, path=outp)
    after = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(outp).collect()
    }
    assert all(after.get(k) == v for k, v in before.items())
    late_window_keys = [k for k in after if k[0] <= late_ts - datetime.timedelta(days=9)]
    assert not late_window_keys, "window from dropped-late straggler was emitted"


def test_streaming_ohlc_matches_batch(spark, sf_dir, tmp_path):
    from mapreduce_rs_spark.streaming.pipeline import streaming_ohlc

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    events = load_table(spark, sf_dir, "events")
    events.write.parquet(inp)
    run_stream(spark, streaming_ohlc, inp, ckpt, path=outp)
    streamed = spark.read.parquet(outp)
    order_key = F.struct("ts", "event_id")
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    key = lambda r: (r["bucket_ts"], r["event_type"])  # noqa: E731
    s = {key(r): (r["open"], r["high"], r["low"], r["close"], r["n_events"]) for r in streamed.collect()}
    b = {key(r): (r["open"], r["high"], r["low"], r["close"], r["n_events"]) for r in batch.collect()}
    assert s, "stream emitted nothing"
    assert all(b[k] == v for k, v in s.items())
    # Append mode withholds exactly the windows NOT yet finalized at the
    # final watermark (max event time - 2h watermark): a 1h window is
    # emitted iff window_end <= watermark, i.e. bucket_ts + 1h <=
    # max(ts) - 2h. Derived, not a magic slack constant — if the
    # testdata's tail-hour distribution drifts, the expected set drifts
    # with it and the assertion stays exact.
    import datetime

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - datetime.timedelta(hours=2)
    emitted_expected = {
        k for k in b if k[0] + datetime.timedelta(hours=1) <= final_wm
    }
    assert set(s) == emitted_expected


def test_streaming_sessions_match_batch(spark, sf_dir, tmp_path):
    """Native session_window through the REAL streaming engine must
    equal the batch operator (same groupBy expression, decimal sums)
    for every watermark-finalized session; the withheld set is derived
    from the final watermark, not a slack constant."""
    import datetime

    from mapreduce_rs_spark.operators.events import session_window_stats
    from mapreduce_rs_spark.streaming.pipeline import streaming_sessions

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    events = load_table(spark, sf_dir, "events")
    events.write.parquet(inp)
    run_stream(spark, streaming_sessions, inp, ckpt, path=outp)
    key = lambda r: (r["user_id"], r["session_start"])  # noqa: E731
    s = {
        key(r): (r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(outp).collect()
    }
    b = {
        key(r): (r["session_end"], r["n_events"], r["sum_value"])
        for r in session_window_stats({"events": events}).collect()
    }
    assert s, "stream emitted nothing"
    assert all(b[k] == v for k, v in s.items())
    # Append mode finalizes a session when the watermark passes its
    # gap-extended end: emitted iff session_end <= max(ts) - 2h.
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - datetime.timedelta(hours=2)
    emitted_expected = {k for k, v in b.items() if v[0] <= final_wm}
    assert set(s) == emitted_expected


def test_streaming_trend_state_matches_batch_bitwise(spark, sf_dir, tmp_path):
    """The streamed five-sum OLS state, drained across MULTIPLE
    micro-batches (input split into 4 files), must equal the batch
    trend fit BIT-FOR-BIT: the sums are exact decimals, so micro-batch
    boundaries cannot perturb them — the property that makes the
    closed-form fit incrementally maintainable online."""
    import struct as _struct

    from mapreduce_rs_spark.operators.events import (
        trend_from_sums,
        trend_sums,
        user_value_trend,
    )

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.parquet(inp)  # several input files
    run_stream(
        spark, trend_sums, inp, ckpt, query_name="trend_state", max_files_per_trigger=1
    )
    streamed_fit = trend_from_sums(spark.table("trend_state"))
    batch_fit = user_value_trend({"events": events})

    def bits(df):
        return sorted(
            tuple(
                _struct.pack("<d", v).hex() if isinstance(v, float) else v
                for v in row
            )
            for row in df.collect()
        )

    s, b = bits(streamed_fit), bits(batch_fit)
    assert s, "stream produced no state"
    assert s == b


def test_streaming_hll_registers_match_batch(spark, sf_dir, tmp_path):
    """The streamed HLL register table, drained across MULTIPLE
    micro-batches (input split into 4 files), must equal the batch
    registers EXACTLY: max(rank) is distributive, so cross-batch state
    maintenance IS the sketch merge and micro-batch boundaries cannot
    perturb a register. Register equality implies the derived estimate
    (a pure function of the registers) matches the batch sketch
    bit-for-bit — the oracle-checked hll_distinct_users covers that
    arithmetic."""
    from mapreduce_rs_spark.operators.events import hll_registers

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.parquet(inp)
    run_stream(
        spark, hll_registers, inp, ckpt, query_name="hll_regs", max_files_per_trigger=1
    )
    streamed = sorted(map(tuple, spark.table("hll_regs").collect()))
    batch = sorted(map(tuple, hll_registers(events).collect()))
    assert streamed, "stream produced no registers"
    assert streamed == batch


def test_streaming_cms_counters_match_batch(spark, sf_dir, tmp_path):
    """The streamed CMS counter table, drained across MULTIPLE
    micro-batches (input split into 4 files), must equal the batch
    counters EXACTLY: the (lane, col) count is a distributive sum, so
    cross-batch state maintenance IS the sketch merge and micro-batch
    boundaries cannot perturb a counter. Counter equality implies every
    derived point estimate (min over d counters) matches the batch
    sketch — the oracle-checked cms_word_counts covers that
    arithmetic. Also pins the bounded-state fact (<= d x w rows) and
    mass conservation (each lane row-sums to the token count)."""
    from mapreduce_rs_spark.operators.text_analysis import (
        CMS_D,
        CMS_W_AUDIT,
        cms_counters,
        explode_tokens,
    )
    from mapreduce_rs_spark.streaming.pipeline import DOC_SCHEMA

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.parquet(inp)
    run_stream(
        spark,
        cms_counters,
        inp,
        ckpt,
        query_name="cms_counters",
        schema=DOC_SCHEMA,
        max_files_per_trigger=1,
    )
    streamed = sorted(map(tuple, spark.table("cms_counters").collect()))
    batch = sorted(map(tuple, cms_counters(docs).collect()))
    assert streamed, "stream produced no counters"
    assert streamed == batch
    assert len(streamed) <= CMS_D * CMS_W_AUDIT
    n_tokens = explode_tokens(docs).count()
    for lane in range(CMS_D):
        assert sum(c for l, _, c in streamed if l == lane) == n_tokens


def test_streaming_neardup_ingest_loop(spark, tmp_path):
    """The continuous form of the near-dup admission cascade
    (run_streaming_neardup_ingest): micro-batches probe a persisted
    fingerprint/band store via the SAME admit_batch core as the batch
    operator. Planted cases across two arrivals exercise every tier
    cross-batch, and a re-drain on the same checkpoint proves the loop
    is restart-idempotent."""
    from mapreduce_rs_spark.streaming.pipeline import run_streaming_neardup_ingest

    def words(seed: str, n: int = 30) -> str:
        return " ".join(f"{seed}{i} shared{i % 4}" for i in range(n))

    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    admitted_dir = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ck")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def land(rows):
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows], cols
        )
        df.coalesce(1).write.mode("append").parquet(inp)

    def drain():
        run_streaming_neardup_ingest(spark, inp, store, admitted_dir, ckpt)

    a, b, c = words("alpha"), words("bravo"), words("charlie")
    land([(1, a), (2, b), (3, c)])
    drain()
    first = {r.doc_id for r in spark.read.parquet(admitted_dir).collect()}
    assert first == {1, 2, 3}  # empty store: everything novel

    f = words("foxtrot")
    land(
        [
            (4, a),              # exact copy of stored 1 -> exact_corpus
            (5, b + " omega"),   # near-dup of stored 2  -> near_corpus
            (6, f),              # novel                 -> admitted
            (7, f + " omega"),   # near-dup of 6 (same batch) -> near_batch
            (8, f + " omega"),   # exact copy of 7 in-batch  -> exact_batch
        ]
    )
    drain()
    admitted = {r.doc_id for r in spark.read.parquet(admitted_dir).collect()}
    assert admitted == {1, 2, 3, 6}

    # restart on the same checkpoint with no new files: no re-admission,
    # store unchanged (idempotent loop)
    drain()
    again = [r.doc_id for r in spark.read.parquet(admitted_dir).collect()]
    assert sorted(again) == sorted(admitted)  # no duplicate appends
    n_fp = spark.read.parquet(store + "/fps").count()
    assert n_fp == 4  # one fingerprint row per admitted doc
