"""Behavioral invariants of the fifth-session operators — the
properties the oracle hash can't state directly: exact budget
conservation under apportionment, bin-packing capacity bounds,
snapshot-diff class consistency, erasure accounting conservation, and
bitwise partition-invariance of the two float-emitting ops.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from mapreduce_rs_spark.operators import curation, events
from mapreduce_rs_spark.operators.similarity import pq_reconstruction_error
from mapreduce_rs_spark.sources.catalog import load_table, load_tables


def _bits(df) -> list[tuple]:
    rows = []
    for r in df.collect():
        rows.append(
            tuple(
                struct.pack("<d", v).hex() if isinstance(v, float) else v
                for v in r
            )
        )
    return sorted(rows)


@pytest.mark.parametrize("budget", [7, 1_000, 999_983, curation.TOKEN_BUDGET])
def test_token_budget_sums_exactly(spark, sf_dir, budget):
    """Largest-remainder apportionment must hand out the budget EXACTLY
    — including prime budgets that force a nonzero remainder round —
    and every quota must be base or base+1 (the Hamilton property)."""
    docs = load_table(spark, sf_dir, "documents")
    rows = curation.token_budget_allocation(docs, budget=budget).collect()
    assert sum(r.quota for r in rows) == budget
    assert all(r.quota in (r.base_quota, r.base_quota + 1) for r in rows)


def test_token_budget_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        low = _bits(curation.token_budget_allocation(docs))
        spark.conf.set("spark.sql.shuffle.partitions", "31")
        high = _bits(curation.token_budget_allocation(docs))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert low == high


def test_compaction_groups_are_contiguous_and_bounded(spark, sf_dir):
    """Bin rule floor(preceding_cum/target): every group except a day's
    last must reach the target once its own bytes land (a group closes
    only because the cum crossed the boundary), no group exceeds
    target + max_single_file (one file can straddle), and hour ranges
    within a day are orderable without overlap."""
    t = load_tables(spark, sf_dir)
    plan = events.compaction_plan(t).collect()
    files = (
        t["events"]
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.hour("ts").alias("hour"),
        )
        .agg((F.count(F.lit(1)) * events.COMPACT_ROW_BYTES).alias("bytes"))
        .collect()
    )
    max_file = {}
    total_bytes = {}
    for r in files:
        max_file[r.day] = max(max_file.get(r.day, 0), r.bytes)
        total_bytes[r.day] = total_bytes.get(r.day, 0) + r.bytes
    by_day: dict = {}
    for r in plan:
        by_day.setdefault(r.day, []).append(r)
        assert r.bytes <= events.COMPACT_TARGET_BYTES + max_file[r.day]
        assert r.hour_lo <= r.hour_hi
    for day, groups in by_day.items():
        groups.sort(key=lambda r: r.file_group)
        # groups tile the day's hours without overlap
        for a, b in zip(groups, groups[1:]):
            assert a.hour_hi < b.hour_lo
        # conservation: the plan accounts for every byte of the day
        assert sum(g.bytes for g in groups) == total_bytes[day]
        # every non-final group crossed the target boundary
        for g in groups[:-1]:
            closing = sum(x.bytes for x in groups if x.file_group <= g.file_group)
            assert closing >= (g.file_group + 1) * events.COMPACT_TARGET_BYTES


def test_snapshot_diff_class_consistency(spark, sf_dir):
    """Ground-truth check: recompute both snapshot states per user from
    the raw rows in Python and compare the FULL class map — falsifiable
    for every class (a tautological per-row disjunction here was a
    review finding)."""
    import datetime

    t = load_tables(spark, sf_dir)
    rows = events.state_snapshot_diff(t).collect()
    raw = t["events"].select("user_id", "ts", "event_id", "event_type").collect()
    cutoff = max(r.ts for r in raw) - datetime.timedelta(
        hours=events.SNAPSHOT_LOOKBACK_HOURS
    )
    latest_all: dict = {}
    latest_old: dict = {}
    for r in raw:
        key = (r.ts, r.event_id)
        if r.user_id not in latest_all or key > latest_all[r.user_id][0]:
            latest_all[r.user_id] = (key, r.event_type)
        if r.ts < cutoff and (
            r.user_id not in latest_old or key > latest_old[r.user_id][0]
        ):
            latest_old[r.user_id] = (key, r.event_type)
    expected = {}
    for user, ((ts, eid), etype) in latest_all.items():
        if user not in latest_old:
            expected[user] = "added"
        elif latest_old[user][0] == (ts, eid):
            expected[user] = "unchanged"
        else:
            expected[user] = "changed"
    got = {r.user_id: r.change_type for r in rows}
    assert got == expected
    for r in rows:
        if r.change_type == "added":
            assert r.old_event_type is None and r.old_ts is None
        else:
            assert r.old_ts is not None and r.old_ts <= r.new_ts


def test_erasure_plan_conserves_rows(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    plan = events.erasure_plan(t).collect()
    assert sum(r.n_rows for r in plan) == t["events"].count()
    for r in plan:
        assert 0 <= r.n_rows_affected <= r.n_rows
        want = "rewrite" if r.affected_bp >= events.ERASURE_REWRITE_BP else "deletion_vector"
        assert r.action == want


def test_float_emitting_session5_ops_partition_invariant(spark, sf_dir):
    """pq_reconstruction_error's mse and ab_test_conversion's z are the
    session's only float outputs — both derive from exact integers by a
    fixed division chain, so they must be bit-identical under a
    partition sweep."""
    t = load_tables(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [
        lambda: pq_reconstruction_error(emb),
        lambda: events.ab_test_conversion(t),
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for q in queries:
            spark.conf.set("spark.sql.shuffle.partitions", "1")
            low = _bits(q())
            spark.conf.set("spark.sql.shuffle.partitions", "31")
            high = _bits(q())
            assert low == high
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_value_drift_chi2_matches_textbook(spark, sf_dir):
    """The micro-unit integer chi2 must agree with the straightforward
    float (O-E)^2/E textbook computation to within the quantization
    bound: each of the <= buckets terms is floored at 1e-6, so
    |engine - textbook| <= n_buckets * 1e-6 + float noise."""
    import collections

    t = load_tables(spark, sf_dir)
    engine = {r.event_type: (r.chi2, r.dof) for r in events.value_drift_chi2(t).collect()}
    ev = t["events"].select("event_type", "ts", "value").collect()
    lo = min(r.ts for r in ev)
    hi = max(r.ts for r in ev)
    mid_us = (int(lo.timestamp() * 1e6) + int(hi.timestamp() * 1e6)) // 2
    oa = collections.defaultdict(lambda: collections.defaultdict(int))
    ob = collections.defaultdict(lambda: collections.defaultdict(int))
    for r in ev:
        cents = int(round(r.value * 100))
        bkt = cents.bit_length() - 1 if cents > 0 else -1
        side = oa if int(r.ts.timestamp() * 1e6) < mid_us else ob
        side[r.event_type][bkt] += 1
    for etype, (got, dof) in engine.items():
        a, b = oa[etype], ob[etype]
        na, nb = sum(a.values()), sum(b.values())
        n = na + nb
        want = 0.0
        buckets = set(a) | set(b)
        for bkt in buckets:
            s = a[bkt] + b[bkt]
            for o, nx in ((a[bkt], na), (b[bkt], nb)):
                e = nx * s / n
                want += (o - e) ** 2 / e
        assert dof == len(buckets) - 1
        assert abs(got - want) <= len(buckets) * 1e-6 + 1e-9 * want, (
            etype, got, want
        )


def test_geometric_noise_table_is_a_valid_mechanism():
    """The shipped integer thresholds must encode EXACTLY the
    (truncated) two-sided geometric pmf: strictly increasing, covering
    the full 32-bit draw space, with each bucket's width within 1 draw
    unit of the real-valued pmf (the quantization bound) and symmetric
    mass within rounding."""
    import math

    from mapreduce_rs_spark.operators.events import (
        DP_EPSILON,
        _geometric_thresholds,
    )

    t = _geometric_thresholds()
    thrs = [thr for thr, _ in t]
    assert thrs == sorted(thrs) and len(set(thrs)) == len(thrs)
    assert t[-1][0] == 4294967296  # full coverage: every draw maps
    alpha = math.exp(-DP_EPSILON)
    zs = [z for _, z in t]
    z_max = max(zs)
    total = sum(alpha ** abs(z) for z in range(-z_max, z_max + 1))
    prev = 0
    for thr, z in t:
        width = thr - prev
        want = alpha ** abs(z) / total * 4294967296
        assert abs(width - want) <= 1.0 + 1e-6 * want, (z, width, want)
        prev = thr
    # symmetry: P(z) == P(-z) within quantization; a z absent from the
    # table is a zero-width tail bucket the trim removed — legal only
    # when its real mass is below ~2 draw units
    by_z = {}
    prev = 0
    for thr, z in t:
        by_z[z] = thr - prev
        prev = thr
    for z in range(1, z_max + 1):
        mass = alpha ** z / total * 4294967296
        for signed in (z, -z):
            if signed not in by_z:
                assert mass <= 2.0, (signed, mass)
        if z in by_z and -z in by_z:
            assert abs(by_z[z] - by_z[-z]) <= 2
