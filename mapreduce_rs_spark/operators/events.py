"""Event / time-series operators over the ``events`` table.

The reference is strictly batch with a hard map→reduce barrier (reference
``src/mr/coordinator.rs:342-345``); it has no time semantics at all. This
module supplies the windowed/time-series surface in batch form (each one
oracle-checked); streaming/pipeline.py re-expresses the same windows as
Structured Streaming with watermarks.

Scale notes: window aggregations group on (window, keys) — partial
aggregation applies, so shuffle volume is windows×keys, not events.
Sessionization is the only per-entity stateful op; it partitions by
user_id (one shuffle) and never splits a user across partitions — the
correctness edge SURVEY.md §7 flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import h32, h64
from mapreduce_rs_spark.operators.relational import money, stable_avg, stable_sum

SESSION_GAP_MIN = 30

# events.value is an exact 2-decimal double (verified over the test
# data), so every sum over it accumulates in decimal — exact, hence
# independent of partition count and accumulation order; see the
# relational.py module header for the full rationale.


def tumbling_window(t: dict[str, DataFrame]) -> DataFrame:
    """1-hour tumbling windows per event_type: count + value stats.
    ``F.window`` windows are epoch-aligned, so window_start ==
    date_trunc('hour', ts) — the oracle-portable identity."""
    ev = t["events"]
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            stable_sum(money("value")).alias("sum_value"),
            stable_avg(money("value")).alias("avg_value"),
        )
    )


def sliding_window(t: dict[str, DataFrame]) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2
    windows). Spark's window() emits both assignments; the oracle
    reproduces them as time_bucket(30min, ts) - {0,1}·30min."""
    ev = t["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").start.alias("window_start"))
        .agg(F.count("*").alias("n_events"), stable_sum(money("value")).alias("sum_value"))
    )


def sessionize(t: dict[str, DataFrame], gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessionization (gap > ``gap_min`` starts a new session):
    lag → new-session flag → running sum = session index. One shuffle on
    user_id; both window specs reuse the same partitioning."""
    ev = t["events"]
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(by_user)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > gap_min * 60),
        1,
    ).otherwise(0)
    sessions = ev.withColumn(
        "session_idx",
        F.sum(is_new).over(by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_sec"),
            stable_sum(money("value")).alias("sum_value"),
        )
    )


def session_window_stats(
    t: dict[str, DataFrame], gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE ``session_window`` —
    the built-in API twin of ``sessionize``'s lag→flag→cumsum chain.

    Semantics worth pinning (test_event_analysis does): the native form
    merges TOUCHING [ts, ts+gap) intervals, so its predicate is the
    same ``diff > gap`` as ``sessionize`` — but evaluated on EXACT
    microseconds, where ``sessionize``'s ``unix_timestamp`` diff is
    floored to whole seconds. A gap of ``gap + 0.5s`` therefore splits
    here and merges there; the oracle uses ``epoch_us`` to match.

    Why both operators exist: the lag-cumsum chain gives a per-EVENT
    session index (needed when downstream logic tags individual rows);
    the native form is ONE hash-exchange + session-merge aggregation —
    no window functions at all — and is the exact groupBy Structured
    Streaming accepts for streaming sessionization with watermark-based
    state eviction (streaming/stateful.py). session_window.start is the
    session's min event time; .end is last event + gap (both engines
    compute the same interval arithmetic on exact microseconds).
    """
    ev = t["events"]
    sw = F.session_window("ts", f"{gap_min} minutes")
    return (
        ev.groupBy("user_id", sw)
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
    )


def json_props_agg(t: dict[str, DataFrame]) -> DataFrame:
    """Semi-structured path: extract a JSON field from ``props`` and
    aggregate on it — JSON parsing stays JVM-side (get_json_object)."""
    ev = t["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def asof_last_click_before_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """As-of join within the event stream: for every purchase, the most
    recent preceding click by the same user.

    Expressed as a conditional IGNORE-NULLS last_value window rather
    than a self-join — one shuffle on user_id, no join at all, which is
    the as-of formulation that scales (a time-range self-join explodes
    on active users)."""
    ev = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts",
            "last_click_ts",
            (F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")).alias("secs_since_click"),
        )
    )


def multi_resolution_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly rollup computed
    from raw events, daily rollup computed FROM THE HOURLY ROLLUP (not
    from raw) — the cascade that makes continuous aggregates cheap at
    scale: the day pass reads |hours| rows, not |events|. count/sum
    re-aggregate losslessly; avg is derived sum/count at each level
    (never avg-of-avgs). Output is both resolutions tagged."""
    ev = t["events"]
    # The cascade carries DECIMAL sums between levels so the daily
    # re-aggregation of hourly partials is still exact; double surfaces
    # only in the final projection.
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(money("value")).alias("sum_value_d"))
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", "bucket_ts").alias("bucket_ts"), "event_type")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value_d").alias("sum_value_d"))
    )
    return (
        hourly.withColumn("resolution", F.lit("hour"))
        .unionByName(daily.withColumn("resolution", F.lit("day")))
        .select(
            "resolution",
            "bucket_ts",
            "event_type",
            "n_events",
            F.col("sum_value_d").cast("double").alias("sum_value"),
            F.try_divide(F.col("sum_value_d").cast("double"), F.col("n_events")).alias("avg_value"),
        )
    )


def range_window_revenue(t: dict[str, DataFrame], window_sec: int = 3600) -> DataFrame:
    """Trailing time-RANGE window: per user, the sum of event values in
    the preceding ``window_sec`` seconds (inclusive) — the moving-window
    aggregate a ROWS frame can't express (peers are defined by event
    TIME distance, not row position, so irregular event spacing is
    handled correctly and timestamp ties contribute symmetrically).
    One shuffle on user_id; the frame slides within each partition.
    Decimal accumulation keeps the windowed sum engine-portable."""
    ev = t["events"]
    epoch_s = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_s)
        .rangeBetween(-window_sec, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(money("value")).over(w).cast("double").alias("trailing_value"),
    )


def kmv_distinct_users(t: dict[str, DataFrame], k: int = 64) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event_type.

    The estimator: hash every value to [0, 2^32); keep the k smallest
    distinct hashes; estimate = (k-1) * 2^32 / kth_min. Mergeable
    (union the hash sets, re-take k smallest) and — unlike HLL —
    deterministic given the hash, so the DuckDB oracle reproduces the
    estimate EXACTLY, not within error bounds. Groups with < k distinct
    values report their exact distinct count."""
    ev = t["events"]
    hashed = ev.select("event_type", h32(F.col("user_id").cast("string")).alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    kth = (
        ranked.groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth_min"),
            F.count("*").alias("n_distinct_exact"),
        )
    )
    return kth.select(
        "event_type",
        F.when(
            F.col("kth_min").isNotNull(),
            (k - 1) * F.lit(float(2**32)) / F.col("kth_min"),
        )
        .otherwise(F.col("n_distinct_exact").cast("double"))
        .alias("kmv_estimate"),
        "n_distinct_exact",
    )


# HyperLogLog parameters: p = 6 bucket bits over the 60-bit portable
# hash → m = 64 registers, 54 value bits, max rank 55. The scale
# constant alpha_m * m^2 * 2^54+1 is computed ONCE in Python and embedded
# as the same double literal in both engines (registry embeds repr(),
# which round-trips exactly), so the only float op in the estimate is a
# single IEEE division — bit-deterministic cross-engine, unlike ln/pow.
HLL_P_BITS = 6
HLL_M = 1 << HLL_P_BITS
_HLL_W_BITS = 60 - HLL_P_BITS
HLL_MAX_RANK = _HLL_W_BITS + 1
HLL_SCALE = (
    0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M * float(1 << HLL_MAX_RANK)
)


def hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, reg): the HLL register table. max(rank) is
    a DISTRIBUTIVE aggregate, so this groupBy is the sketch's merge
    operation itself — it runs verbatim as a Structured Streaming
    stateful aggregate (streaming/pipeline.run_stream), with state
    bounded at types×64 rows forever and the maintained registers
    byte-identical whatever the micro-batch boundaries."""
    m, rmax = HLL_M, HLL_MAX_RANK
    hashed = ev.select(
        "event_type", h64(F.col("user_id").cast("string")).alias("h")
    ).select(
        "event_type",
        (F.col("h") % m).alias("bucket"),
        F.shiftright("h", HLL_P_BITS).alias("w"),
    )
    return (
        hashed.select(
            "event_type",
            "bucket",
            F.when(F.col("w") == 0, rmax)
            .otherwise(rmax - F.length(F.bin("w")))
            .cast("int")
            .alias("rank"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_distinct_users(t: dict[str, DataFrame], corrected: bool = False) -> DataFrame:
    """HyperLogLog distinct-count sketch per event_type — the mergeable
    register-max complement of kmv_distinct_users (KMV needs the k
    smallest hashes shipped; HLL state is a fixed 64-byte register
    vector, mergeable with elementwise max, the shape every production
    engine uses for approx_count_distinct at 100 TB).

    Registers: bucket = h64 % m, rank = leading-zeros of the remaining
    54 bits + 1 (via ``55 - length(bin(w))`` — exact integer arithmetic,
    identical in Spark and DuckDB), register = max(rank) per bucket.
    The indicator sum Z = Σ 2^-M_j is kept EXACT by scaling to integers:
    indicator_s = Σ 2^(55 - M_j) as BIGINT (≤ 64·2^55 = 2^61, no
    overflow), empty buckets contributing 2^55 each. The estimate
    alpha·m²/Z is then one double division from exact integers —
    deterministic, so the oracle reproduces it bit-for-bit.

    ``corrected=True`` applies the standard small-range linear-counting
    correction (m·ln(m/V) when raw ≤ 2.5m and V empty buckets remain).
    ln() is transcendental — libm rounding may differ across engines —
    so the oracle-checked registry form keeps ``corrected=False`` and
    the correction is pytest-verified against math.log instead.

    Scale shape: one narrow hash projection, one (event_type, bucket)
    partial-agg shuffle of at most types×64 rows, one types-sized final
    agg. The exact count (reported alongside for evaluation) is the only
    distinct-shuffle; production at 100 TB would drop that column and
    ship registers only."""
    ev = t["events"]
    m, rmax = HLL_M, HLL_MAX_RANK
    sums = hll_registers(ev).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_nonzero_buckets"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - reg)"))
            + (m - F.count(F.lit(1))) * F.lit(1 << rmax)
        )
        .cast("long")
        .alias("indicator_s"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_exact")
    )
    out = sums.join(exact, "event_type").select(
        "event_type",
        "n_nonzero_buckets",
        "indicator_s",
        (F.lit(HLL_SCALE) / F.col("indicator_s").cast("double")).alias(
            "hll_estimate"
        ),
        "n_distinct_exact",
    )
    if corrected:
        raw = F.lit(HLL_SCALE) / F.col("indicator_s").cast("double")
        empty = F.lit(m) - F.col("n_nonzero_buckets")
        out = out.withColumn(
            "hll_estimate",
            F.when(
                (raw <= 2.5 * m) & (empty > 0),
                F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double")),
            ).otherwise(raw),
        )
    return out


def hll_rollup_merge(t: dict[str, DataFrame]) -> DataFrame:
    """Sketch MERGEABILITY as a first-class rollup: compute HLL
    registers ONCE at the fine (event_type, day) grain, then roll them
    up to weeks by register-max ALONE — never re-touching the raw
    stream. This is the pattern that matters at 100 TB: the day-grain
    register table (types × days × ≤64 rows) is the persisted artifact;
    every coarser grain (week/month/quarter, or cross-type totals) is
    an aggregate over kilobytes, not a re-scan of the corpus.

    The query PROVES the claim instead of asserting it: est_merged
    (day registers → max → week) is emitted next to est_direct (week
    registers computed straight from raw — the evaluation twin, same
    status as hll_distinct_users' exact column), and max-associativity
    makes them bit-identical — the oracle hash would flag any drift.
    n_distinct_exact is the usual evaluation column; production ships
    registers only.

    Determinism discipline: the indicator sums are exact integers
    (Σ 2^(rmax-reg) with empty buckets at 2^rmax); each estimate is ONE
    double division by the shared HLL_SCALE literal — bit-identical
    cross-engine (the hll_distinct_users rule)."""
    ev = t["events"]
    m, rmax = HLL_M, HLL_MAX_RANK
    hashed = ev.select(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        h64(F.col("user_id").cast("string")).alias("h"),
    ).select(
        "week",
        "day",
        "event_type",
        (F.col("h") % m).alias("bucket"),
        F.shiftright("h", HLL_P_BITS).alias("w"),
    )
    ranked = hashed.select(
        "week",
        "day",
        "event_type",
        "bucket",
        F.when(F.col("w") == 0, rmax)
        .otherwise(rmax - F.length(F.bin("w")))
        .cast("int")
        .alias("rank"),
    )
    # the ONE corpus-scale aggregate: day-grain registers (partial-agg
    # friendly — max is distributive)
    day_regs = ranked.groupBy("week", "day", "event_type", "bucket").agg(
        F.max("rank").alias("reg")
    )
    # rollup WITHOUT raw data: day → week by register max
    week_merged = day_regs.groupBy("week", "event_type", "bucket").agg(
        F.max("reg").alias("reg")
    )
    # evaluation twin: week registers straight from raw (and the exact
    # count) — dropped in production, kept so the oracle hash pins the
    # merge identity
    week_direct = ranked.groupBy("week", "event_type", "bucket").agg(
        F.max("rank").alias("reg")
    )

    def estimate(regs: DataFrame, alias: str) -> DataFrame:
        return regs.groupBy("week", "event_type").agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - reg)"))
                + (m - F.count(F.lit(1))) * F.lit(1 << rmax)
            )
            .cast("long")
            .alias(f"ind_{alias}"),
        ).select(
            "week",
            "event_type",
            f"ind_{alias}",
            (F.lit(HLL_SCALE) / F.col(f"ind_{alias}").cast("double")).alias(
                f"est_{alias}"
            ),
        )
    exact = ev.groupBy(
        F.date_trunc("week", "ts").alias("week"), "event_type"
    ).agg(F.countDistinct("user_id").alias("n_distinct_exact"))
    return (
        estimate(week_merged, "merged")
        .join(estimate(week_direct, "direct"), ["week", "event_type"])
        .join(exact, ["week", "event_type"])
        .select(
            "week",
            "event_type",
            "ind_merged",
            "est_merged",
            "ind_direct",
            "est_direct",
            "n_distinct_exact",
        )
    )


def funnel_conversion(t: dict[str, DataFrame]) -> DataFrame:
    """Funnel analysis: of all users, how many clicked, and how many
    purchased strictly AFTER their first click (the ordering constraint
    is what makes it a funnel, not two independent counts). One
    aggregation pass per user (conditional min/max), then a one-row
    rollup — no self-join, no window: per-user funnel state is a pair
    of timestamps. All outputs integer or exact ratios of integers."""
    ev = t["events"]
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("first_click").alias("n_clicked"),
        F.sum(
            F.when(
                F.col("first_click").isNotNull()
                & (F.col("last_purchase") > F.col("first_click")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_converted"),
        F.try_divide(
            F.sum(
                F.when(
                    F.col("first_click").isNotNull()
                    & (F.col("last_purchase") > F.col("first_click")),
                    1,
                ).otherwise(0)
            ).cast("double"),
            F.count("first_click"),
        ).alias("click_to_purchase_rate"),
    )


def cohort_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each later day they were active — (cohort_day, day_offset,
    n_active_users). Two aggregations: per-user first day (shuffle on
    user), then distinct user-day activity joined back (broadcast of
    the tiny cohort map at test scale; co-partitioned on user_id at
    100 TB). Integer outputs — exact by construction."""
    ev = t["events"]
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("active_day")
    ).distinct()
    return (
        active.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("active_day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


def out_of_order_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Late/out-of-order arrival audit: per user, how many events have
    event-time earlier than an already-seen event (ordered by arrival =
    event_id). This is the batch diagnostic that sizes the streaming
    watermark — the max regression tells you the watermark delay you
    need."""
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("event_id")
    running_max_ts = F.max("ts").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = ev.withColumn(
        "late_secs",
        F.when(
            running_max_ts.isNotNull() & (F.col("ts") < running_max_ts),
            F.unix_timestamp(running_max_ts) - F.unix_timestamp("ts"),
        ),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count("late_secs").alias("n_out_of_order"),
            F.max("late_secs").alias("max_late_secs"),
        )
    )


def equi_depth_histogram(
    t: dict[str, DataFrame], buckets: int = 10, cuts: list[float] | None = None
) -> DataFrame:
    """Equi-DEPTH histogram (equal row counts per bucket, data-driven
    bounds): cutpoints from exact interior percentiles, then a narrow
    per-row bucket assignment (count of cutpoints below the value) —
    never a global ntile window, which would force a single-partition
    total sort. The percentile aggregate is the only heavy op; at
    100 TB you'd swap it for ``percentile_approx`` (mergeable t-digest)
    with no change to the bucketing stage.

    ``cuts``: precomputed cutpoint literals (histogram_model.py — the
    ANALYZE-style fitted statistic the registry injects identically into
    the Spark plan AND the oracle SQL, so no cross-engine percentile
    arithmetic can diverge; see histogram_model.py for the full
    rationale). ``cuts=None`` fits them in-plan — the dynamic operator —
    with round-6 snapping so both engines land on the same double when
    run side by side."""
    ev = t["events"]
    if cuts is not None:
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        bucket = F.aggregate(
            arr, F.lit(0), lambda acc, c: acc + F.when(F.col("value") > c, 1).otherwise(0)
        )
        base = ev.select("value", bucket.alias("bucket"))
    else:
        fracs = [i / buckets for i in range(1, buckets)]
        # Round-6 snap: two engines interpolating the same percentile
        # with different arithmetic shapes can land 1 ulp apart, and on
        # a 2-decimal data value that flips the bucket. (The snap still
        # leaves a cell-boundary straddle hazard — which is why the
        # registry query uses fitted literal cuts instead.)
        cuts_df = ev.agg(
            F.transform(
                F.percentile("value", F.array(*[F.lit(x) for x in fracs])),
                lambda c: F.round(c, 6),
            ).alias("cuts")
        )
        bucket = F.aggregate(
            F.col("cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("value") > c, 1).otherwise(0),
        )
        base = ev.crossJoin(F.broadcast(cuts_df)).select("value", bucket.alias("bucket"))
    return (
        base.groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


def value_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Fixed-width histogram of event values (bucket = floor(v/50)*50)
    — the one-pass distributed histogram pattern (bucket arithmetic +
    groupBy), never a collect-and-bin on the driver."""
    ev = t["events"]
    bucket = (F.floor(F.col("value") / 50) * 50).cast("double")
    return (
        ev.groupBy(bucket.alias("bucket_lo"))
        .agg(F.count("*").alias("n_events"))
    )


def user_activity_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user event-type pivot-style stats + overall rates, showing
    conditional aggregation (FILTER/CASE) — one pass, one shuffle."""
    ev = t["events"]

    def count_type(et: str) -> F.Column:
        return F.sum(F.when(F.col("event_type") == et, 1).otherwise(0))

    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            count_type("click").alias("n_clicks"),
            count_type("purchase").alias("n_purchases"),
            count_type("error").alias("n_errors"),
            F.sum(
                F.when(F.col("event_type") == "purchase", money("value")).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            ).cast("double").alias("purchase_value"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )
    )


def latest_event_state(t: dict[str, DataFrame]) -> DataFrame:
    """CDC latest-record-wins compaction: reduce the event log to each
    user's current state (their most recent event), then summarize the
    compacted table by state. The standard pattern for maintaining a
    serving table from an append-only changelog.

    Scale shape: one exchange on user_id feeds the row_number window;
    the rn=1 filter drops all history before the by-state aggregate, so
    the second exchange moves at most |event_types| partially-combined
    rows per task. Tie-break is (ts DESC, event_id DESC), a
    unique total order, so "latest" is deterministic under any
    partitioning and identical in both engines. At 100 TB the same
    plan runs incrementally: new partitions compact against the prior
    state table with this exact window.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return latest.groupBy(F.col("event_type").alias("latest_event_type")).agg(
        F.count(F.lit(1)).cast("int").alias("n_users"),
        F.max("ts").alias("newest_ts"),
        F.min("ts").alias("oldest_ts"),
    )


def event_paths(t: dict[str, DataFrame], max_events: int = 8) -> DataFrame:
    """Top-of-funnel path analysis: each user's first ``max_events``
    event types as an ordered '>'-joined path, counted across users —
    the product-analytics "common journeys" query (and the shape a
    Markov attribution model consumes).

    Plan shape: ONE exchange on user_id serves both the row_number
    window and the per-user path aggregation (Spark reuses the
    partitioning); the path->count agg then shuffles only one short
    string per user. Path strings are bounded by construction
    (max_events types), so path cardinality can't explode.

    Determinism: within-user order is (ts, event_id) — event_id breaks
    timestamp ties, so the path string is unique for any partitioning
    and engine. The ordered concat is expressed as array_sort over
    (ts, event_id, event_type) structs + transform + array_join (the
    engine-portable ordered-string-agg; DuckDB side uses
    string_agg(... ORDER BY ts, event_id)).

    Returns (path, path_len, n_users): journeys with their realized
    length (users with fewer than max_events events contribute shorter
    paths) and user counts.
    """
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_events)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).cast("int").alias("path_len"),
        )
    )
    return paths.groupBy("path", "path_len").agg(
        F.count(F.lit(1)).cast("int").alias("n_users")
    )


def value_anomalies(t: dict[str, DataFrame], z_thresh: float = 2.0) -> DataFrame:
    """Per-user z-score outliers: events whose value deviates >=
    ``z_thresh`` sample standard deviations from that user's mean — the
    monitoring/abuse-detection primitive over behavioral streams.

    The per-user moments come from EXACT decimal power sums computed as
    window aggregates (one user_id exchange serves sums AND the per-row
    score — no join back), then combine in double with the same
    computational formulas as stats_battery: decimal Σx/Σx² are
    order-independent, so the z-scores are bit-identical across
    partitionings and engines. Users with n < 2 or zero variance yield
    NULL z (NULLIF-guarded divide), which the threshold filter drops on
    both engines identically.
    """
    ev = t["events"]
    w = Window.partitionBy("user_id")
    val = money("value")
    sums = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(val).over(w).alias("sx_dec"),
        F.sum(val * val).over(w).alias("sxx_dec"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx_dec").cast("double"), F.col("sxx_dec").cast("double")
    mean = sx / n
    std = F.sqrt(F.greatest((sxx - sx * sx / n) / (n - 1), F.lit(0.0)))
    z = (F.col("value") - mean) / F.nullif(std, F.lit(0.0))
    return (
        sums.where(n >= 2)
        .withColumn("zscore", z)
        .where(F.abs(F.col("zscore")) >= z_thresh)
        .select("event_id", "user_id", "event_type", "value", "zscore")
    )


def time_weighted_value(t: dict[str, DataFrame]) -> DataFrame:
    """Time-weighted average value per user — the TSDB aggregate for
    irregularly-sampled series (a value that held for an hour must
    outweigh one that held a second; the plain avg is wrong whenever
    sampling is bursty, which behavioral streams always are).

    Each event's value is weighted by the seconds until the user's next
    event (last-observation-carried-forward segments via one lead
    window); the user's TWA is Σ(value·Δt) / ΣΔt. One user_id exchange
    serves the lead window and the per-user aggregation.

    Determinism: Δt is integer seconds, value is 2-decimal — so
    value·Δt is exact decimal, both sums are order-independent, and the
    single final double division is per-row scalar. Same-second
    successors contribute zero weight symmetrically on both engines;
    users whose whole span is one second (ΣΔt = 0) emit NULL twa via
    NULLIF rather than a division error.
    """
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cur_s = F.unix_timestamp("ts")
    seg = ev.select(
        "user_id",
        money("value").alias("v_dec"),
        (F.lead(cur_s).over(w) - cur_s).alias("dt"),
    ).where(F.col("dt").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_intervals"),
            F.sum("dt").alias("span_sec"),
            F.sum(F.col("v_dec") * F.col("dt")).alias("wv_dec"),
        )
        .select(
            "user_id",
            "n_intervals",
            "span_sec",
            F.expr("CAST(wv_dec AS DOUBLE) / NULLIF(span_sec, 0)").alias(
                "twa_value"
            ),
        )
    )


def ohlc_bars(t: dict[str, DataFrame]) -> DataFrame:
    """Candlestick (OHLC) bars: per hour and event type, the opening /
    highest / lowest / closing value plus volume — the financial-style
    downsampling every time-series store ships.

    Open/close need a deterministic FIRST/LAST by event time: computed
    with two row_number windows over the (bucket, event_type) partition
    — (ts, event_id) ascending and descending — then folded in the
    same-keyed aggregation (the partitioning is reused: one exchange
    total). This avoids min_by/struct-min, whose tie semantics differ
    across engines; row_number over a total order is portable.
    """
    ev = t["events"]
    bucket = F.date_trunc("hour", "ts").alias("bucket_ts")
    base = ev.select(bucket, "event_type", "ts", "event_id", "value")
    asc = Window.partitionBy("bucket_ts", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    desc = Window.partitionBy("bucket_ts", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    flagged = base.select(
        "bucket_ts",
        "event_type",
        "value",
        F.row_number().over(asc).alias("rn_first"),
        F.row_number().over(desc).alias("rn_last"),
    )
    return flagged.groupBy("bucket_ts", "event_type").agg(
        F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("int").alias("n_events"),
        stable_sum(money("value")).alias("sum_value"),
    )


def gapfill_hourly(t: dict[str, DataFrame]) -> DataFrame:
    """Gap-filled hourly series: every (hour, event_type) cell over the
    corpus's full time span, zero-filled where no events landed — the
    TSDB gap-fill that turns sparse aggregates into dense series (a
    downstream chart/model can't tell "no data" from "not emitted"
    without it).

    The dense grid is generated, not joined from data: distinct event
    types x sequence(min_hour, max_hour) — grid cardinality is
    hours x types regardless of event volume, so densification never
    touches the fact table twice. The aggregate joins in from the LEFT
    so missing cells surface as NULL -> 0, flagged in ``filled``.
    """
    ev = t["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(money("value")).alias("sum_dec"),
    )
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("bucket_ts"),
        )
    )
    return grid.join(hourly, ["bucket_ts", "event_type"], "left").select(
        "bucket_ts",
        "event_type",
        F.coalesce("n_raw", F.lit(0)).cast("int").alias("n_events"),
        F.coalesce(F.col("sum_dec"), F.lit(0).cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_value"),
        F.col("n_raw").isNull().alias("filled"),
    )


# The Morton spread AND the overflow-safe 16-bit normalization live in
# functions/morton.py (ONE definition shared with the z-ordered sink and
# the oracles); the aliases keep this module's call sites and the
# registry's references unchanged.
from mapreduce_rs_spark.functions.morton import (  # noqa: E402
    normalize16_sql as _normalize16_sql,
    spread_bits_sql as _spread_bits_sql,
)


def zorder_locality(t: dict[str, DataFrame]) -> DataFrame:
    """Z-order (Morton-curve) layout evaluation: interleave the bits of
    (user bucket, hour bucket) into one z-value, group rows into 256
    z-range "files", and measure per-file locality on BOTH dimensions —
    against the same-file-count time-only layout as the baseline.

    This is the data-layout decision behind multi-dimensional data
    skipping (Delta/Iceberg OPTIMIZE ZORDER): a time-sorted layout
    gives perfect hour locality but every file contains every user; the
    z-order layout bounds BOTH spans, so min/max file statistics prune
    on either predicate. The output quantifies exactly that trade:
    per layout, the file count and the average per-file distinct-user
    and distinct-hour spans.

    Everything is integer arithmetic (bit spreads, modular buckets,
    distinct counts); the two avg columns are single divisions of exact
    integers — deterministic cross-engine, like every ratio in this
    repo.
    """
    ev = t["events"]
    raw = ev.select(
        F.col("user_id").alias("u"),
        F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").alias("h"),
    )
    # Normalize both dimensions to the full 16-bit range with exact
    # integer min/max scaling (a 1-row broadcast) — without this, small
    # key domains leave the interleave's high bits dead and every row
    # lands in one z-file. All-integer: (v - min)·65536 div span.
    bounds = raw.agg(
        F.min("u").alias("umin"),
        F.max("u").alias("umax"),
        F.min("h").alias("hmin"),
        F.max("h").alias("hmax"),
    )
    base = raw.crossJoin(F.broadcast(bounds)).select(
        F.expr(_normalize16_sql("u", "umin", "umax")).alias("ub"),
        F.expr(_normalize16_sql("h", "hmin", "hmax")).alias("hb"),
    )
    z = f"({_spread_bits_sql('ub')} | ({_spread_bits_sql('hb')} << 1))"
    tagged = base.select("ub", "hb", F.expr(z).alias("z"))
    # 256 file groups per layout: top byte of the 32-bit z vs 256
    # CONTIGUOUS hour ranges (the honest time-sorted baseline).
    per_file = (
        tagged.select(
            F.lit("zorder").alias("layout"),
            F.expr("z div 16777216").alias("file_id"),
            "ub",
            "hb",
        )
        .unionByName(
            tagged.select(
                F.lit("time").alias("layout"),
                F.expr("hb div 256").alias("file_id"),
                "ub",
                "hb",
            )
        )
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("ub").alias("n_users"),
            F.countDistinct("hb").alias("n_hours"),
        )
    )
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        (F.sum("n_users").cast("double") / F.count(F.lit(1))).alias(
            "avg_users_per_file"
        ),
        (F.sum("n_hours").cast("double") / F.count(F.lit(1))).alias(
            "avg_hours_per_file"
        ),
    )


# The documented 100 TB configuration for hourly_percentile_bands
# (r05 verdict #8): percentile_approx with this accuracy is the scale
# path — a mergeable KLL-style sketch with map-side partials and
# O(accuracy) memory per (hour, type) group, where the exact form must
# hold every group's values for its sort. 10_000 bounds the RANK error
# at 1/accuracy = 0.01% of the group (so p99 lands between the true
# p98.99 and p99.01 — far inside any SLO band's width);
# tests/test_event_analysis.py::test_hourly_bands_approx_rank_error
# verifies the bound against the exact answer at sf0.1 rather than
# assuming it. The oracled registry entry stays exact (the oracle must
# agree bit-for-bit); a 100 TB deployment passes this constant.
HOURLY_BANDS_100TB_ACCURACY = 10_000


def hourly_percentile_bands(
    t: dict[str, DataFrame], approx_accuracy: int | None = None
) -> DataFrame:
    """SLO-style percentile bands over time: per (hour, event_type) the
    p50/p95/p99 of the value distribution plus count — the latency-band
    dashboard query every monitoring stack renders.

    Default (``approx_accuracy=None``): exact interpolated percentiles
    (Spark ``percentile`` == ANSI percentile_cont == DuckDB
    quantile_cont — the established cross-engine pair from
    percentiles_by_priority); groups are (hour, type) so the per-group
    sort is bounded by the hour's traffic.

    ``approx_accuracy=N`` is the 100 TB path, A REAL CODE PATH not a
    comment: ``percentile_approx`` (mergeable sketch, map-side
    partials, memory O(accuracy) per group instead of holding the
    group's values). The oracled registry entry stays exact (the oracle
    must agree bit-for-bit); tests pin the approx path's rank error
    against the exact answer so the swap is verified safe, not assumed.
    """
    ev = t["events"]
    if approx_accuracy is None:
        pct = [
            F.percentile("value", q).alias(name)
            for q, name in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99"))
        ]
    else:
        pct = [
            F.percentile_approx("value", q, approx_accuracy).alias(name)
            for q, name in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99"))
        ]
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n_events"), *pct)
    )


# Rebase epoch for trend fits: event time as integer MICROSECONDS since
# 2024-01-01 UTC (the corpus origin). Rebasing keeps every closed-form
# regression sum inside DECIMAL(38)/HUGEINT headroom: |x| <= ~2.6e12 for
# the one-month window, so n*Sxx ~ n^2 * x^2 stays < 1e38 up to ~2e6
# events per user (documented bound; raise the rebase granularity to
# seconds if a deployment exceeds it).
TREND_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def user_value_trend(t: dict[str, DataFrame], min_events: int = 3) -> DataFrame:
    """Per-user OLS trend of event value over time — closed-form simple
    regression computed entirely from five distributive sums, i.e. the
    map-side-combinable aggregate shape (one partial→final groupBy,
    shuffle volume = |users|, never events).

    Determinism discipline (verify SKILL toolbox): x (rebased µs) and
    y (money-cast value) accumulate in exact DECIMAL, the five sums and
    the numerator/denominator cross-products stay exact integers/
    decimals, and only the FINAL slope/intercept/r² divisions happen in
    double — both engines divide the same exact numbers, so results are
    bit-identical under any partitioning. slope_per_day rescales the
    per-µs slope by 86400e6 in double (same single op both sides).

    At 100 TB: this is the textbook "aggregate-only model fit" — no
    iteration, no driver collect, no window. Skew-safe: the partial agg
    bounds any hot user's shuffle contribution to one row per task.
    """
    return trend_from_sums(trend_sums(t["events"]), min_events=min_events)


def trend_sums(events: DataFrame) -> DataFrame:
    """The five distributive OLS sums per user — the part of the trend
    fit that is a plain (streamable, map-side-combinable) aggregation.

    x: rebased µs in DECIMAL(19,0) (38-digit headroom for x²); y:
    integer CENTS in DECIMAL(20,0) (the oracle uses HUGEINT — same
    exact-integer universe; DuckDB decimal multiply caps at p1+p2<=38,
    so cents-as-integers is the cross-engine-safe form). Because every
    sum is exact decimal, the SAME groupBy runs under Structured
    Streaming and the maintained state is independent of micro-batch
    boundaries — streaming/pipeline.run_stream drains this function
    verbatim.
    """
    x = (F.unix_micros(F.col("ts")) - F.lit(TREND_EPOCH_US)).cast("decimal(19,0)")
    y = (money("value") * 100).cast("decimal(20,0)")
    return (
        events.select(F.col("user_id"), x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )


def trend_from_sums(sums: DataFrame, min_events: int = 3) -> DataFrame:
    """Derive slope/intercept/r² from the five exact sums — shared by
    the batch and streaming forms so the formula exists ONCE (the
    evaluation-harness rule: never hand-copy a formula into a twin)."""
    n_dec = F.col("n").cast("decimal(18,0)")
    num = (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    inum = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
    ssy = (n_dec * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        sums.where(
            (F.col("n") >= min_events)
            & (n_dec * F.col("sxx") != F.col("sx") * F.col("sx"))
        )
        .select(
            "user_id",
            F.col("n").cast("int").alias("n_events"),
            # cents/µs -> value/day: one multiply, one divide, in double,
            # in this exact order on both sides.
            (num / den * F.lit(86400000000.0) / F.lit(100.0)).alias("slope_per_day"),
            (inum / den / F.lit(100.0)).alias("intercept"),
            # ssy == 0 (constant y) with den != 0 is a perfect horizontal
            # fit: residuals are zero, define r² = 1.
            F.when(ssy == F.lit(0.0), F.lit(1.0))
            .otherwise(num * num / (den * ssy))
            .alias("r2"),
        )
    )


def state_intervals(t: dict[str, DataFrame]) -> DataFrame:
    """Gaps-and-islands: collapse each user's event stream into maximal
    runs of the SAME event type — the SCD2-style validity intervals a
    warehouse derives from a changelog (valid_from/valid_to per state
    run), via the classic double-row_number island key
    (rn_overall − rn_within_type is constant exactly along a run).

    Scale shape: both row_numbers share the user_id partitioning, so
    ONE exchange serves the window pass; the interval aggregate groups
    on (user, type, island) — output is state-CHANGE-sized, not
    event-sized. Total order within a user is (ts, event_id), the
    repo-standard deterministic tie-break (same-timestamp events can't
    reorder between engines or runs).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = t["events"].select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w) - F.row_number().over(w_type)).alias("island"),
    )
    return (
        runs.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
        )
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
    )


# Theta-sketch parameters: k kept hashes per daily cohort over the
# 32-bit portable hash. k=32 keeps both regimes exercised on the test
# data (sf0.01 daily actives ~125-141 > k -> proper sketch regime; sf0.001
# daily cohorts fall below k -> exact branch).
THETA_K = 32
THETA_RANGE = 1 << 32  # h32 values are uniform in [0, 2^32)


def theta_daily_overlap(
    t: dict[str, DataFrame],
    k: int = THETA_K,
) -> DataFrame:
    """Theta/KMV sketch SET-EXPRESSION estimates between consecutive
    daily active-user cohorts — day-over-day audience retention as a
    sketch query.

    KMV (kmv_distinct_users) and HLL (hll_distinct_users) answer "how
    many distinct"; the theta sketch generalizes KMV to set EXPRESSIONS
    (Datasketches' theta family): keep the k smallest distinct hashes
    per set with threshold theta = k-th smallest (or the full hash
    range when the set is smaller than k — the sketch is then exact).
    For two sets with theta = min(theta_a, theta_b):

      |A∩B| ~= |{h in sk_a ∩ sk_b : h < theta}| / (theta / 2^32)
      |A∪B| ~= (k-1) / (theta_M / 2^32)   (M = k smallest of sk_a ∪ sk_b)
      J(A,B) ~= |M ∩ A ∩ B| / |M|          (reported in basis points)

    Everything up to the estimates is exact integer arithmetic over the
    portable md5 hash; each estimate is then ONE IEEE double operation
    chain from exact integers (the KMV/HLL determinism discipline), so
    the DuckDB oracle reproduces every value bit-for-bit. The jaccard
    is kept fully integer (basis points via integer division). Exact
    per-pair intersection/union columns ride along as the evaluation
    harness (the hll_distinct_users precedent: at 100 TB the exact legs
    are dropped and only sketches ship).

    Scale shape: the only event-scale stages are the distinct
    (day, user) aggregate (partial-agg shuffle) and the per-day
    top-k window (WindowGroupLimit caps per-partition state at k before
    the exchange); both live inside materialized intermediates
    (operators/materialize.py) because >= 4 downstream consumers
    read each — without that, Catalyst re-expands the event-scale
    subtree per consumer (16 scans / 36 exchanges observed; 0 / 14
    after). Every downstream table is sketch-sized — days x k rows —
    and the pair joins are consecutive-day equi-joins on those bounded
    sketches, never user-scale. Sketches are mergeable (union
    + re-take k smallest), so daily sketches roll up to weekly/monthly ones
    without touching raw data.
    """
    from mapreduce_rs_spark.operators.materialize import materialize

    daily = materialize(
        t["events"]
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "user_id",
        )
        .distinct(),
    )
    hashed = daily.select(
        "day", h32(F.col("user_id").cast("string")).alias("h")
    )
    day_win = Window.partitionBy("day").orderBy("h")
    sk = materialize(
        hashed.withColumn("rn", F.row_number().over(day_win))
        .where(F.col("rn") <= k)
        .select("day", "h"),
    )
    stats = sk.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("kth_h")
    ).select(
        "day",
        F.when(F.col("n_sk") >= k, F.col("kth_h"))
        .otherwise(F.lit(THETA_RANGE))
        .alias("theta"),
    )
    exact = daily.groupBy("day").agg(F.count(F.lit(1)).alias("n_exact"))

    pairs = (
        stats.select(F.col("day").alias("day_a"), F.col("theta").alias("theta_a"))
        .join(
            stats.select(
                F.date_sub("day", 1).alias("day_a"),
                F.col("day").alias("day_b"),
                F.col("theta").alias("theta_b"),
            ),
            "day_a",
        )
        .select(
            "day_a",
            "day_b",
            F.least("theta_a", "theta_b").alias("theta"),
        )
    )

    sk_a = sk.select(F.col("day").alias("day_a"), "h")
    sk_b = sk.select(F.date_sub("day", 1).alias("day_a"), "h")
    common = sk_a.join(sk_b, ["day_a", "h"])  # hash in BOTH sketches
    n_common = (
        common.join(pairs.select("day_a", "theta"), "day_a")
        .where(F.col("h") < F.col("theta"))
        .groupBy("day_a")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )

    m_win = Window.partitionBy("day_a").orderBy("h")
    m_sk = (
        sk_a.union(sk_b)
        .distinct()
        .withColumn("rn", F.row_number().over(m_win))
        .where(F.col("rn") <= k)
        .select("day_a", "h")
    )
    m_stats = m_sk.groupBy("day_a").agg(
        F.count(F.lit(1)).alias("n_m"), F.max("h").alias("kth_m")
    )
    m_both = (
        m_sk.join(common, ["day_a", "h"])
        .groupBy("day_a")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )

    wa = daily.select(F.col("day").alias("day_a"), "user_id")
    wb = daily.select(F.date_sub("day", 1).alias("day_a"), "user_id")
    inter_exact = (
        wa.join(wb, ["day_a", "user_id"])
        .groupBy("day_a")
        .agg(F.count(F.lit(1)).alias("n_inter_exact"))
    )

    range_d = float(THETA_RANGE)
    return (
        pairs.join(
            exact.select(
                F.col("day").alias("day_a"), F.col("n_exact").alias("n_a_exact")
            ),
            "day_a",
        )
        .join(
            exact.select(
                F.date_sub("day", 1).alias("day_a"),
                F.col("n_exact").alias("n_b_exact"),
            ),
            "day_a",
        )
        .join(inter_exact, "day_a", "left")
        .join(n_common, "day_a", "left")
        .join(m_stats, "day_a")
        .join(m_both, "day_a", "left")
        .select(
            "day_a",
            "day_b",
            "n_a_exact",
            "n_b_exact",
            F.coalesce("n_inter_exact", F.lit(0)).alias("n_inter_exact"),
            (
                F.col("n_a_exact")
                + F.col("n_b_exact")
                - F.coalesce("n_inter_exact", F.lit(0))
            ).alias("n_union_exact"),
            "theta",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            (
                F.coalesce("n_common", F.lit(0)) * F.lit(range_d) / F.col("theta")
            ).alias("inter_est"),
            F.when(
                F.col("n_m") >= k, F.lit(float(k - 1)) * F.lit(range_d) / F.col("kth_m")
            )
            .otherwise(F.col("n_m").cast("double"))
            .alias("union_est"),
            F.expr("coalesce(n_both, 0) * 10000 div n_m").alias("jacc_bp"),
        )
    )


def event_transition_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    — the behavioral model behind next-event prediction and
    funnel-dropoff analysis.

    Each user's stream is ordered by the repo's total-order discipline
    ``(ts, event_id)`` (never bare ts: duplicate timestamps would make
    ``lag`` nondeterministic — the row_number-over-(ts, event_id)
    family). ``p_next`` is ONE division of exact integer counts, so the
    probabilities are partition-invariant.

    Scale: one exchange on user_id for the lag window (each user's
    history is processed within its partition — the sessionize shape),
    then an agg onto a |types|² key space (tiny) and a broadcast-size
    window for row totals. The per-user window never materializes the
    pair list driver-side.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t["events"]
        .select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    row_w = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row_w)
        ).alias("p_next"),
    )


EWMA_K = 8  # lookback depth; weights 2^(K-rn) are exact integers


def ewma_value(t: dict[str, DataFrame], k: int = EWMA_K) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value`` over
    the last ``k`` events (half-life = one event) — the smoothed
    activity signal behind engagement scoring and rate limiting.

    The usual recursive EWMA (s_t = a·x_t + (1-a)·s_{t-1}) is
    order-serial and float-accumulating; restated over a bounded
    lookback with a = 1/2 it becomes a WEIGHTED SUM with
    power-of-two weights, and the float-determinism discipline makes
    it exact: value cents (lossless DECIMAL cast) times integer
    weights 2^(k-rn), both sums pure BIGINT, ONE final double
    division. Weights ship as a literal array indexed by row rank —
    no pow() evaluated in either engine.

    Recency rank uses the (ts, event_id) DESC total order (the
    row_number discipline — bare ts would tie-break
    nondeterministically). Scale: ONE exchange on user_id serves both
    the rank window and the per-user agg (the sessionize shape); the
    k-row cap bounds per-user state regardless of history length.
    """
    weights = [1 << (k - i) for i in range(1, k + 1)]
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        t["events"]
        .select(
            "user_id",
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= k)
        .select(
            "user_id",
            "cents",
            "rn",
            F.element_at(F.array([F.lit(x) for x in weights]), F.col("rn").cast("int")).alias("w"),
        )
    )
    return recent.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_recent"),
        (
            F.max(F.when(F.col("rn") == 1, F.col("cents"))).cast("double") / 100.0
        ).alias("last_value"),
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / (F.sum("w") * 100).cast("double")
        ).alias("ewma_value"),
    )


ZM_PRED_LO, ZM_PRED_HI = 16384, 32767  # quarter-domain predicate, each dim
ZM_FILES = 256


def zone_map_pruning(t: dict[str, DataFrame]) -> DataFrame:
    """Zone-map (min/max file statistics) pruning evaluation — the
    data-skipping mechanics behind parquet row-group stats and
    Delta/Iceberg file pruning, quantified per layout. Where
    ``zorder_locality`` measures per-file SPANS, this measures what a
    100 TB scan actually cares about: how many files a concrete
    predicate SKIPS, and how many rows the survivors force it to read.

    Rows carry two normalized 16-bit dimensions (hour bucket, value
    bucket — the same exact-integer min/max scaling as
    zorder_locality); three layouts pack them into 256 "files": sorted
    by time, sorted by value, and Morton z-order. Each file's zone map
    is (min, max) per dimension; a file is pruned for a predicate if
    its range is disjoint from the predicate interval [16384, 32767]
    (the second quarter of each domain — a literal, so both engines
    evaluate the identical comparison). The conjunctive predicate
    prunes when EITHER dimension's zone excludes it.

    Every column is an exact integer — counts, mins, maxes, and
    boolean sums; there is no float anywhere. Scale: one narrow
    projection + a broadcast 1-row bounds frame, a 3·256-key agg with
    map-side partials, then a 3-key rollup. The layout×file grain is
    the entire shuffle.
    """
    ev = t["events"]
    raw = ev.select(
        F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").alias("h"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("c"),
    )
    bounds = raw.agg(
        F.min("h").alias("hmin"),
        F.max("h").alias("hmax"),
        F.min("c").alias("cmin"),
        F.max("c").alias("cmax"),
    )
    base = raw.crossJoin(F.broadcast(bounds)).select(
        F.expr(_normalize16_sql("h", "hmin", "hmax")).alias("hb"),
        F.expr(_normalize16_sql("c", "cmin", "cmax")).alias("vb"),
    )
    z = f"({_spread_bits_sql('hb')} | ({_spread_bits_sql('vb')} << 1))"
    tagged = base.select("hb", "vb", F.expr(z).alias("z"))
    per_file = (
        tagged.select(
            F.lit("time").alias("layout"), F.expr("hb div 256").alias("file_id"), "hb", "vb"
        )
        .unionByName(
            tagged.select(
                F.lit("value").alias("layout"), F.expr("vb div 256").alias("file_id"), "hb", "vb"
            )
        )
        .unionByName(
            tagged.select(
                F.lit("zorder").alias("layout"), F.expr("z div 16777216").alias("file_id"), "hb", "vb"
            )
        )
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("hb").alias("min_h"),
            F.max("hb").alias("max_h"),
            F.min("vb").alias("min_v"),
            F.max("vb").alias("max_v"),
        )
    )
    lo, hi = ZM_PRED_LO, ZM_PRED_HI
    skip_t = (F.col("max_h") < lo) | (F.col("min_h") > hi)
    skip_v = (F.col("max_v") < lo) | (F.col("min_v") > hi)
    skip_c = skip_t | skip_v
    as_long = lambda c: c.cast("int").cast("long")  # noqa: E731
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum(as_long(skip_t)).cast("long").alias("pruned_time_files"),
        F.sum(as_long(skip_v)).cast("long").alias("pruned_value_files"),
        F.sum(as_long(skip_c)).cast("long").alias("pruned_conj_files"),
        F.sum(F.when(~skip_c, F.col("n_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_scanned_conj"),
    )


def robust_value_anomalies(t: dict[str, DataFrame]) -> DataFrame:
    """Median/MAD outliers per event type — the robust twin of
    ``value_anomalies``: mean/stddev break down when the contamination
    itself inflates the scale estimate (masking); median and MAD have
    a 50% breakdown point, so one whale can't hide another.

    Float discipline — EXACT interpolated medians with no floats: with
    values as integer cents, work in DOUBLED units so interpolation
    never divides: ``med2`` = cents[lo] + cents[hi] (the two middle
    ranks; 2·cents[mid] when n is odd) is exactly 2·median. Deviations
    ``dev2 = |2·cents − med2|`` are integers (2·|x − med|); the doubled
    median of those, ``mad4``, is exactly 4·MAD. The outlier test
    |x − med| > 3·MAD becomes the integer cross-multiplication
    ``2·dev2 > 3·mad4``; ``robust_z = 2·dev2 / mad4`` is ONE division
    of exact integers, and med/mad surface as single divisions by
    literal 200/400.

    Scale: ranks need a per-type sort — fine while |types| is small
    and each group fits a partition spill; at true scale swap the rank
    medians for percentile_approx exactly as hourly_percentile_bands
    documents (the operator keeps exact semantics as the oracle
    contract).
    """
    ev = t["events"].select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
    )
    wt = Window.partitionBy("event_type")

    def med2_of(df: DataFrame, col: str, out: str) -> DataFrame:
        """Doubled exact median of integer column ``col`` per type."""
        w_rank = Window.partitionBy("event_type").orderBy(col, "event_id")
        ranked = df.select(
            "event_type",
            col,
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(wt).alias("n"),
        )
        lo = F.expr("(n + 1) div 2")
        hi = F.expr("(n + 2) div 2")
        return (
            ranked.where(F.col("rn").between(lo, hi))
            .groupBy("event_type")
            .agg(
                (
                    F.sum(col)
                    * F.when(F.min("rn") == F.max("rn"), F.lit(2)).otherwise(F.lit(1))
                )
                .cast("long")
                .alias(out)
            )
        )

    med = med2_of(ev, "cents", "med2")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "cents",
        "med2",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2"),
    )
    mad = med2_of(dev, "dev2", "mad4")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(2 * F.col("dev2") > 3 * F.col("mad4"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            (F.col("med2").cast("double") / 200.0).alias("med"),
            (F.col("mad4").cast("double") / 400.0).alias("mad"),
            (
                (2 * F.col("dev2")).cast("double")
                / F.nullif(F.col("mad4"), F.lit(0)).cast("double")
            ).alias("robust_z"),
        )
    )


def seasonality_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Hour-of-day seasonality per event type: traffic count, average
    value, and the hour's RELATIVE deviation from the type's overall
    average — the profile behind load forecasting and
    anomaly-baseline selection.

    ``rel_dev_bp`` ((avg_hour / avg_type − 1) in basis points) is PURE
    integer arithmetic by cross-multiplication:
    sum_h·n_tot·10⁴ div (n_h·sum_tot) − 10⁴, computed in DECIMAL(38,0)
    (sum_cents·n_tot·10⁴ ~ 1e29 at 100 TB — BIGINT would overflow,
    HUGEINT/DECIMAL(38,0) won't). ``avg_value`` is ONE division of
    exact integers. Scale: one agg onto |types|·24 keys with map-side
    partials; type totals ride a 24-row window per type.
    """
    per = (
        t["events"]
        .groupBy(
            "event_type", F.hour("ts").cast("int").alias("hour_of_day")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(money("value")) * 100).cast("decimal(38,0)").alias("sum_cents"),
        )
    )
    wt = Window.partitionBy("event_type")
    g = per.select(
        "event_type",
        "hour_of_day",
        "n",
        "sum_cents",
        F.sum("n").over(wt).cast("decimal(38,0)").alias("n_tot"),
        F.sum("sum_cents").over(wt).cast("decimal(38,0)").alias("sum_tot"),
    )
    return g.select(
        "event_type",
        "hour_of_day",
        "n",
        (F.col("sum_cents").cast("double") / (F.col("n") * 100).cast("double")).alias(
            "avg_value"
        ),
        (
            F.expr("(sum_cents * n_tot * 10000) div (n * sum_tot)") - 10000
        )
        .cast("long")
        .alias("rel_dev_bp"),
    )


BURST_FACTOR = 3  # burst when count > factor × trailing-24h hourly average


def burst_hours(t: dict[str, DataFrame]) -> DataFrame:
    """Burst detection over hourly event-type series: hours whose count
    exceeds ``BURST_FACTOR``× the trailing-24-hour average — the
    spike detector behind rate alarms and trending-topic surfacing.

    The trailing window is a RANGE frame over the integer hour index
    (epoch div 3600), so GAP hours correctly contribute zero — a
    rows-frame over only-materialized buckets would silently shrink
    the denominator. The burst test is integer cross-multiplication
    (n·24 > factor·trailing_n); ``ratio_bp`` is one integer division.

    Scale: hourly pre-aggregation first (the only data-scale shuffle,
    onto |types|·|hours| keys), then the range window runs over the
    BUCKET series — thousands of rows per type, not events.
    """
    hourly = (
        t["events"]
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "hour_idx", F.expr("CAST(floor(unix_timestamp(bucket_ts)) AS BIGINT) div 3600")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-24, -1)
    )
    trailed = hourly.select(
        "event_type",
        "bucket_ts",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("trailing_n"),
    )
    return (
        trailed.where(
            (F.col("trailing_n") > 0)
            & (F.col("n") * 24 > BURST_FACTOR * F.col("trailing_n"))
        )
        .select(
            "event_type",
            "bucket_ts",
            "n",
            "trailing_n",
            F.expr("n * 24 * 10000 div trailing_n").cast("long").alias("ratio_bp"),
        )
    )


ATTRIB_WINDOW_SEC = 3600
TOUCH_TYPES = ("click", "view")


def multitouch_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """Linear multi-touch revenue attribution: every purchase's value is
    split EQUALLY across the user's touches (clicks and views) in the
    preceding hour, then rolled up per touch type — the marketing-
    analytics generalization of ``asof_last_click_before_purchase``'s
    last-touch rule.

    No self-join (the as-of lesson: a time-range self-join explodes on
    active users): per-type touch counts come from conditional counts
    over ONE value-based RANGE frame ([-3600 s, -1 s] on the epoch
    second, partitioned by user). A value frame also sidesteps
    same-second tie ambiguity — the frame is defined by timestamps,
    not row order.

    Float discipline: each purchase's per-type credit is
    ``value_cents·10⁴·n_type div n_touches`` — ONE integer floor
    division per (purchase, type), exact and order-independent — and
    the floor-division remainder (< n_types micro-units per purchase)
    is assigned to the lexicographically first touch type that
    actually touched, so mass is conserved EXACTLY: summed micro
    credits equal cents·10⁴ per purchase, not merely up to rounding.
    The rollup sums those integers and the presentation value is one
    division by a literal. Purchases with zero preceding touches fall
    out (their revenue is unattributable under this model — counted in
    the ``unattributed`` row, keeping total mass conserved).
    """
    ev = t["events"].select(
        "user_id",
        "event_type",
        (money("value") * 100).cast("long").alias("cents"),
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").alias("secs"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("secs")
        .rangeBetween(-ATTRIB_WINDOW_SEC, -1)
    )
    counts = {
        tt: F.count(F.when(F.col("event_type") == tt, F.lit(1))).over(w)
        for tt in TOUCH_TYPES
    }
    purchases = (
        ev.select(
            "event_type",
            "cents",
            *[c.alias(f"n_{tt}") for tt, c in counts.items()],
        )
        .where(F.col("event_type") == "purchase")
        .withColumn("n_touches", sum(F.col(f"n_{tt}") for tt in TOUCH_TYPES))
    )
    # Mass conservation is EXACT: each type's credit is a floor
    # division, and the remainder (up to n_types-1 micro-units per
    # purchase, e.g. 3333+6666 of 10000 — review finding) goes to one
    # deterministic leg: the lexicographically first touch type that
    # actually touched (n_touches > 0 guarantees one exists).
    floor_of = {
        tt: f"cents * 10000 * n_{tt} div n_touches" for tt in TOUCH_TYPES
    }
    rem_sql = "cents * 10000 - " + " - ".join(
        f"({e})" for e in floor_of.values()
    )
    first_tt = F.lit(None).cast("string")
    for tt in sorted(TOUCH_TYPES, reverse=True):
        first_tt = F.when(F.col(f"n_{tt}") > 0, F.lit(tt)).otherwise(first_tt)
    attributed = purchases.where(F.col("n_touches") > 0).withColumn(
        "rem", F.expr(rem_sql)
    ).withColumn("first_tt", first_tt)
    legs = [
        attributed.select(
            F.lit(tt).alias("touch_type"),
            F.when(F.col(f"n_{tt}") > 0, 1).otherwise(0).alias("touched"),
            (
                F.expr(floor_of[tt])
                + F.when(F.col("first_tt") == tt, F.col("rem")).otherwise(
                    F.lit(0)
                )
            ).alias("micro"),
        )
        for tt in TOUCH_TYPES
    ]
    legs.append(
        purchases.where(F.col("n_touches") == 0).select(
            F.lit("unattributed").alias("touch_type"),
            F.lit(1).alias("touched"),
            (F.col("cents") * 10000).alias("micro"),
        )
    )
    un = legs[0]
    for leg in legs[1:]:
        un = un.unionByName(leg)
    return un.groupBy("touch_type").agg(
        F.sum("touched").cast("long").alias("n_purchases"),
        F.sum("micro").cast("long").alias("attributed_microcents"),
        (F.sum("micro").cast("double") / 1000000.0).alias("attributed_value"),
    )


def inter_event_gaps(t: dict[str, DataFrame]) -> DataFrame:
    """Inter-arrival time distribution per event type: for each event,
    the gap since the same user's PREVIOUS event (any type), grouped by
    the later event's type — the arrival-process statistic behind
    session-gap and rate-limit tuning.

    Gaps are exact integer microseconds (epoch_us lag over the
    (ts, event_id) total order); ``mean_gap_secs`` is ONE division of
    exact integers. One exchange on user_id + a |types|-key agg.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    gaps = (
        t["events"]
        .select("event_type", (us - F.lag(us).over(w)).alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        (F.sum("gap_us").cast("double") / (F.count(F.lit(1)) * 1000000).cast("double")).alias(
            "mean_gap_secs"
        ),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
    )


ABANDON_WINDOW_SEC = 3600


def abandoned_clicks(t: dict[str, DataFrame]) -> DataFrame:
    """Click abandonment per day: clicks with NO purchase by the same
    user within the following hour — the conversion-leak metric. Like
    ``multitouch_attribution``, the lookahead is a conditional count
    over a value-based RANGE frame ([+1 s, +3600 s] on the epoch
    second) — no time-range self-join, no tie ambiguity. Counts exact,
    ``abandon_bp`` integer basis points.
    """
    ev = t["events"].select(
        "user_id",
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").alias("secs"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("secs")
        .rangeBetween(1, ABANDON_WINDOW_SEC)
    )
    flagged = (
        ev.select(
            "event_type",
            "day",
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
            .over(w)
            .alias("n_purch_next"),
        )
        .where(F.col("event_type") == "click")
    )
    return flagged.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.sum((F.col("n_purch_next") == 0).cast("long")).cast("long").alias(
            "n_abandoned"
        ),
        F.expr(
            "sum(CASE WHEN n_purch_next = 0 THEN 1 ELSE 0 END) * 10000 div count(*)"
        )
        .cast("long")
        .alias("abandon_bp"),
    )


def weekly_growth(t: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week revenue growth — the reporting staple. Weekly
    revenue is an exact decimal cent sum; ``growth_bp`` is PURE integer
    arithmetic ((cur − prev)·10⁴ div prev on cents), so the growth
    series is partition-invariant; ``revenue`` is one division by a
    literal. ``prev`` is the previous PRESENT week (lag over the
    week series — gap weeks mean the comparison skips to the last
    week with data; a gapfilled variant would reuse gapfill_hourly's
    grid machinery).
    """
    weekly = (
        t["orders"]
        .groupBy(F.date_trunc("week", F.col("o_orderdate")).alias("week"))
        .agg(
            (F.sum(money("o_totalprice")) * 100)
            .cast("decimal(38,0)")
            .cast("long")
            .alias("cents")
        )
    )
    return weekly.select(
        "week",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.expr(
            "CAST((cents - lag(cents) OVER (ORDER BY week)) * 10000 "
            "div lag(cents) OVER (ORDER BY week) AS BIGINT)"
        ).alias("growth_bp"),
    )


def log2_value_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """HDR-style log₂-bucketed value histogram per event type — the
    observability-latency-histogram shape: exponentially growing
    buckets give constant RELATIVE resolution with a few dozen
    buckets, and the bucket index needs no log(): for positive integer
    cents, floor(log₂ x) = length(bin(x)) − 1 — pure integer bit
    arithmetic (the HLL rank-extraction trick), identical in both
    engines where a float log2 could straddle a bucket boundary by an
    ulp. Bucket bounds are exact 2^k integers; ``share_bp`` is integer
    basis points. One (type, bucket) aggregate with map-side partials.
    Zero/negative values land in bucket -1 (documented sentinel).
    """
    ev = t["events"].select(
        "event_type",
        (money("value") * 100).cast("long").alias("cents"),
    )
    bucket = F.when(
        F.col("cents") > 0, F.length(F.expr("bin(cents)")) - 1
    ).otherwise(F.lit(-1))
    per = (
        ev.select("event_type", bucket.cast("int").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wt = Window.partitionBy("event_type")
    return per.select(
        "event_type",
        "bucket",
        F.when(F.col("bucket") >= 0, F.expr("CAST(1 AS BIGINT) << bucket"))
        .otherwise(F.lit(None))
        .cast("long")
        .alias("lo_cents"),
        "n",
        F.expr("n * 10000 div sum(n) OVER (PARTITION BY event_type)")
        .cast("long")
        .alias("share_bp"),
    )


# Compaction planning: each (day, hour) chunk of the event log stands
# in for a data file (the lakehouse small-file problem); ROW_BYTES is
# the modeled encoded row width and COMPACT_TARGET_BYTES the rewrite
# target (Delta/Iceberg OPTIMIZE bin size, scaled to the test corpus so
# every SF exercises multi-group days).
COMPACT_ROW_BYTES = 64
COMPACT_TARGET_BYTES = 8192


def compaction_plan(t: dict[str, DataFrame]) -> DataFrame:
    """Small-file compaction planner (Delta OPTIMIZE / Iceberg rewrite
    shape): bin-pack each day's hourly files into target-sized rewrite
    groups. Group assignment is the pack_sequences discipline — a file
    goes in bin floor(preceding_cum_bytes / target), computed with a
    ROWS-frame running sum over the (day-partitioned) hour order — so
    the plan is a pure function of the file listing: deterministic
    under any partitioning and identical in both engines (greedy
    first-fit would depend on scan order; this doesn't).

    Scale shape: the only data-scale stage is the (day, hour) count
    aggregate (map-side partials; output is file-METADATA-sized — at
    100 TB a table's file listing is millions of rows, not billions).
    The planning window runs per day over <= 24 rows; output is one row
    per rewrite group. At 100 TB the same plan runs straight off the
    transaction-log file listing without touching data at all — the
    aggregate here exists only because the test corpus has no listing.
    """
    files = (
        t["events"]
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .withColumn("bytes", (F.col("n_rows") * COMPACT_ROW_BYTES).cast("long"))
    )
    w = Window.partitionBy("day").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_cum = F.coalesce(F.sum("bytes").over(w), F.lit(0))
    return (
        files.withColumn(
            "file_group", F.floor(prev_cum / COMPACT_TARGET_BYTES).cast("int")
        )
        .groupBy("day", "file_group")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("bytes").cast("long").alias("bytes"),
            F.min("hour").cast("int").alias("hour_lo"),
            F.max("hour").cast("int").alias("hour_hi"),
        )
    )


# Snapshot-diff cutoffs: an 8-hour reconciliation window inside the
# Snapshot-diff lookback: the old snapshot is the state as of the
# freshest event minus this many hours (derived from the data, not a
# corpus-specific literal, so the diff is meaningful on ANY events
# table — fixed testdata, the random probe, production). 8 hours ≈
# half the users emit an event in the window at every test SF, so both
# diff classes stay populated.
SNAPSHOT_LOOKBACK_HOURS = 8


def state_snapshot_diff(t: dict[str, DataFrame]) -> DataFrame:
    """CDC snapshot reconciliation: diff each user's latest-event state
    between two point-in-time snapshots of the append-only log — the
    audit a serving-table maintainer runs to verify incremental
    compaction against a rebuild ('added' = user first appears after
    the old snapshot; 'changed' = a newer event moved their state;
    'unchanged' = identical latest event in both). The new snapshot is
    the full log; the old one is the state as of max(ts) −
    SNAPSHOT_LOOKBACK_HOURS (interval arithmetic on integer
    microseconds — exact in both engines).

    Determinism: "latest" is row_number over (ts DESC, event_id DESC)
    — the latest_event_state total order — so both snapshot states are
    unique under any partitioning; the diff class compares the
    tie-broken event identity (event_id), never floats. Append-only
    log => no 'removed' class (documented).

    Scale shape: the cutoff is a one-row broadcast (max aggregate);
    the two snapshot branches window on the SAME user_id partitioning
    and join on that key, so the exchanges line up. At 100 TB the old
    snapshot is the already-compacted state table and only the
    lookback increment is scanned — the window-over-filter here
    reconstructs both snapshots from the raw log because the test
    corpus keeps no state table. Output is user-scale, one row per
    user in the new snapshot.
    """
    ev = t["events"].select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cutoff = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {SNAPSHOT_LOOKBACK_HOURS} HOURS")).alias(
            "cutoff_ts"
        )
    )

    def snap(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("event_type").alias(f"{prefix}_event_type"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    old = snap(
        ev.join(F.broadcast(cutoff), F.col("ts") < F.col("cutoff_ts"), "inner")
        .select("user_id", "ts", "event_id", "event_type"),
        "old",
    )
    new = snap(ev, "new")
    diff_class = (
        F.when(F.col("old_event_id").isNull(), "added")
        .when(F.col("old_event_id") == F.col("new_event_id"), "unchanged")
        .otherwise("changed")
    )
    return new.join(old, "user_id", "left").select(
        "user_id",
        diff_class.alias("change_type"),
        "old_event_type",
        "new_event_type",
        "old_ts",
        "new_ts",
    )


# Erasure planning: a day partition whose affected-row share reaches
# this many basis points gets rewritten (copy-on-write); below it a
# deletion vector is cheaper (merge-on-read) — the Delta/Iceberg
# DV-vs-rewrite decision, planned from exact counts.
ERASURE_REWRITE_BP = 1000


def erasure_plan(t: dict[str, DataFrame]) -> DataFrame:
    """GDPR erasure planner: given the set of users flagged for
    deletion (here derived from the log itself — users whose LATEST
    event is an 'error', the account-closed stand-in), report per day
    partition how many rows the erasure touches and whether to rewrite
    the file (high share) or stamp a deletion vector (low share). This
    is the planning read a lakehouse right-to-be-forgotten job runs
    before touching any data file.

    Determinism: the flagged set comes from the latest_event_state
    total order (row_number over (ts DESC, event_id DESC)); shares are
    integer basis points; the rewrite decision is an integer threshold
    compare — no floats anywhere.

    Scale shape: the flag derivation is one user_id window (exchange
    #1); the membership join is a user_id equi-join against that
    user-keyed output (at 100 TB a real deletion list is
    regulatory-request-sized and broadcasts — the derived list here is
    corpus-sized on purpose so the test exercises the shuffle path);
    the per-day rollup aggregates with map-side partials. Output is
    partition-METADATA-sized: one row per day.
    """
    ev = t["events"].select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    flagged = (
        ev.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") == "error"))
        .select("user_id", F.lit(1).alias("flagged"))
    )
    marked = ev.join(flagged, "user_id", "left").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
        F.coalesce("flagged", F.lit(0)).alias("flagged"),
    )
    return (
        marked.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("flagged").cast("long").alias("n_rows_affected"),
            F.countDistinct(
                F.when(F.col("flagged") == 1, F.col("user_id"))
            ).cast("long").alias("n_users_affected"),
        )
        .select(
            "day",
            "n_rows",
            "n_rows_affected",
            "n_users_affected",
            F.expr("n_rows_affected * 10000 div n_rows").cast("long").alias(
                "affected_bp"
            ),
            F.when(
                F.expr("n_rows_affected * 10000 div n_rows") >= ERASURE_REWRITE_BP,
                "rewrite",
            )
            .otherwise("deletion_vector")
            .alias("action"),
        )
    )


# Conversion = at least one purchase above this value — chosen so the
# test corpus converts at ~47% in both arms (a flat always-true
# "any purchase" metric has zero variance here: every user purchases).
AB_CONV_VALUE = 150.0


def ab_test_conversion(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic A/B-experiment readout: users are hash-assigned to
    control/treatment (the portable md5 draw — the assignment a real
    experimentation system derives from a salted user hash, identical
    under any partitioning, run, or engine, which df.sample could never
    give), conversion = the user emitted at least one purchase event.
    Per-arm counts are exact integers; conversion rates and the lift
    are integer basis points; the two-proportion pooled z-score is the
    ONE place a float appears — a fixed left-to-right double chain from
    the four exact counts (the theta-sketch estimate discipline), so it
    is bit-identical in both engines.

    Scale shape: per-user conversion aggregates on user_id (exchange
    #1, map-side partials), per-arm rollup moves 2 rows, and the final
    single-row pivot is a SinglePartition aggregate over those 2 rows.
    State is O(users) at the first agg and O(1) after — at 100 TB the
    readout is the same three-stage plan.
    """
    per_user = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > AB_CONV_VALUE),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )
    arm = F.when(
        h32(F.concat(F.col("user_id").cast("string"), F.lit("|ab"))) % 2 == 0,
        "control",
    ).otherwise("treatment")
    per_arm = (
        per_user.select(arm.alias("arm"), "conv")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )
    pick = lambda a, c: F.sum(F.when(F.col("arm") == a, F.col(c))).cast("long")  # noqa: E731
    wide = per_arm.agg(
        pick("control", "n_users").alias("n_users_control"),
        pick("control", "n_conv").alias("n_conv_control"),
        pick("treatment", "n_users").alias("n_users_treatment"),
        pick("treatment", "n_conv").alias("n_conv_treatment"),
    )
    # Degenerate experiment (0% or 100% pooled conversion) has zero
    # pooled variance: z is undefined — NULL by an INTEGER guard, so
    # neither engine ever evaluates 0/0.
    z = F.expr(
        "CASE WHEN n_conv_treatment + n_conv_control = 0"
        "       OR n_conv_treatment + n_conv_control"
        "          = n_users_treatment + n_users_control THEN NULL"
        " ELSE (CAST(n_conv_treatment AS DOUBLE) / n_users_treatment"
        " - CAST(n_conv_control AS DOUBLE) / n_users_control)"
        " / sqrt((CAST(n_conv_treatment + n_conv_control AS DOUBLE)"
        "         / (n_users_treatment + n_users_control))"
        "        * (1.0 - CAST(n_conv_treatment + n_conv_control AS DOUBLE)"
        "               / (n_users_treatment + n_users_control))"
        "        * (1.0 / n_users_treatment + 1.0 / n_users_control)) END"
    )
    return wide.select(
        "n_users_control",
        "n_conv_control",
        F.expr("n_conv_control * 10000 div n_users_control").cast("long").alias(
            "conv_control_bp"
        ),
        "n_users_treatment",
        "n_conv_treatment",
        F.expr("n_conv_treatment * 10000 div n_users_treatment").cast("long").alias(
            "conv_treatment_bp"
        ),
        (
            F.expr("n_conv_treatment * 10000 div n_users_treatment")
            - F.expr("n_conv_control * 10000 div n_users_control")
        ).cast("long").alias("lift_bp"),
        z.alias("z_score"),
    )


# Sampled-quantile sketch: per-type uniform sample size (the bounded
# state a 100 TB quantile estimate carries) and the evaluated quantile
# ranks in basis points.
QSKETCH_K = 256
QSKETCH_QUANTILES_BP = (5000, 9500, 9900)


def kmv_quantile_sketch(
    t: dict[str, DataFrame],
    k: int = QSKETCH_K,
    quantiles_bp: tuple[int, ...] = QSKETCH_QUANTILES_BP,
) -> DataFrame:
    """Sampled quantiles with exact-error accounting — the quantile
    member of the sketch family (KMV/HLL/CMS/theta/Bloom/Misra-Gries
    all ship; this is the bounded-state answer to "what's P95 of a
    column you cannot sort"). The sample is the k rows with the
    SMALLEST portable h64(event_id) per type — a uniform row sample
    whose membership is a pure function of the data (deterministic
    under any partitioning, run, or engine; df.sample is none of
    those), the same hash-order bound as the theta sketch. The
    estimate for quantile q is the sample's first value whose sample
    rank crosses q (integer cross-multiplication, the weighted-median
    crossing rule). The EXACT quantile rides along per row as the
    evaluation harness with the relative error in integer basis points
    (the hll/lsh_dedup_eval precedent: at 100 TB the exact leg — a
    per-type rank over raw values — is dropped and only the k-row
    sketch ships; the estimate leg IS the production plan).

    Scale shape: the sample window's per-partition state is capped at
    k rows by WindowGroupLimit BEFORE its exchange; everything after
    runs on types·k rows. Sketches are mergeable (union + re-take the
    k smallest hashes), so daily sketches roll up without rescans.
    Values are exact integer cents throughout; the reported values are
    single divisions by a literal.
    """
    ev = t["events"].select(
        "event_type",
        "event_id",
        (money("value") * 100).cast("long").alias("cents"),
        h64(F.col("event_id").cast("string")).alias("h"),
    )
    w_sample = Window.partitionBy("event_type").orderBy("h", "event_id")
    sample = (
        ev.withColumn("rn", F.row_number().over(w_sample))
        .where(F.col("rn") <= k)
        .select("event_type", "cents", "event_id")
    )
    w_rank = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = sample.select(
        "event_type",
        "cents",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_sk"),
    )
    w_exact = Window.partitionBy("event_type").orderBy("cents", "event_id")
    exact_ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w_exact).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_all"),
    )
    q_arr = F.array(*[F.lit(q).cast("int") for q in quantiles_bp])
    qs = (
        ranked.select(
            "event_type", "cents", "r", "n_sk", F.explode(q_arr).alias("q_bp")
        )
        .where(F.col("r").cast("long") * 10000 >= F.col("q_bp").cast("long") * F.col("n_sk"))
        .groupBy("event_type", "q_bp")
        .agg(
            F.min_by("cents", "r").alias("est_cents"),
            F.min("n_sk").cast("long").alias("n_sample"),
        )
    )
    ex = (
        exact_ranked.select(
            "event_type", "cents", "r", "n_all", F.explode(q_arr).alias("q_bp")
        )
        .where(F.col("r").cast("long") * 10000 >= F.col("q_bp").cast("long") * F.col("n_all"))
        .groupBy("event_type", "q_bp")
        .agg(F.min_by("cents", "r").alias("exact_cents"))
    )
    return qs.join(ex, ["event_type", "q_bp"]).select(
        "event_type",
        "q_bp",
        "n_sample",
        (F.col("est_cents").cast("double") / 100.0).alias("est_value"),
        (F.col("exact_cents").cast("double") / 100.0).alias("exact_value"),
        F.expr(
            "CASE WHEN exact_cents = 0 THEN NULL"
            " ELSE abs(est_cents - exact_cents) * 10000 div exact_cents END"
        )
        .cast("long")
        .alias("err_bp"),
    )


def kmv_quantile_rollup_merge(
    t: dict[str, DataFrame],
    k: int = QSKETCH_K,
    quantiles_bp: tuple[int, ...] = QSKETCH_QUANTILES_BP,
) -> DataFrame:
    """Quantile-sketch MERGEABILITY as a first-class rollup — the KMV
    twin of ``hll_rollup_merge``: compute the k-smallest-hash row
    sample ONCE at the fine (event_type, day) grain, then roll it up
    to weeks by UNION + re-take-k ALONE — never re-touching the raw
    stream. The day-grain sample table (types × days × ≤k rows) is the
    persisted artifact; every coarser grain's quantiles are a window
    over kilobytes, not a re-scan of the corpus.

    The query PROVES the claim instead of asserting it: min-k under
    the (h, event_id) total order is associative, so the merged week
    sample is the SAME ROW SET as the week sample taken straight from
    raw — est_merged and est_direct (the evaluation twin, dropped in
    production) are emitted side by side and the oracle hash flags any
    drift bit-for-bit. This is the property that lets daily sketch
    tables serve month/quarter/ad-hoc-range quantiles at 100 TB.

    Determinism discipline (the kmv_quantile_sketch contract): exact
    integer cents throughout; the quantile crossing is an integer
    cross-multiplication; the only float is ONE division by a literal,
    identical on both legs and both engines.
    """
    ev = t["events"].select(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        "event_id",
        (money("value") * 100).cast("long").alias("cents"),
        h64(F.col("event_id").cast("string")).alias("h"),
    )
    # the ONE corpus-scale pass: per-(type, day) k-smallest-hash rows
    # (WindowGroupLimit caps per-partition state at k BEFORE the
    # exchange, as in kmv_quantile_sketch)
    w_day = Window.partitionBy("event_type", "day").orderBy("h", "event_id")
    day_sk = (
        ev.withColumn("rn", F.row_number().over(w_day))
        .where(F.col("rn") <= k)
        .select("week", "event_type", "event_id", "cents", "h")
    )
    # rollup WITHOUT raw data: day → week by union + re-take-k
    w_week = Window.partitionBy("event_type", "week").orderBy("h", "event_id")
    merged = (
        day_sk.withColumn("rn", F.row_number().over(w_week))
        .where(F.col("rn") <= k)
        .select("week", "event_type", "event_id", "cents")
    )
    # evaluation twin: the week sample straight from raw — dropped in
    # production, kept so the oracle hash pins the merge identity
    direct = (
        ev.withColumn("rn", F.row_number().over(w_week))
        .where(F.col("rn") <= k)
        .select("week", "event_type", "event_id", "cents")
    )
    q_arr = F.array(*[F.lit(q).cast("int") for q in quantiles_bp])

    def estimate(sample: DataFrame, alias: str) -> DataFrame:
        w_rank = Window.partitionBy("week", "event_type").orderBy("cents", "event_id")
        ranked = sample.select(
            "week",
            "event_type",
            "cents",
            F.row_number().over(w_rank).alias("r"),
            F.count(F.lit(1))
            .over(Window.partitionBy("week", "event_type"))
            .cast("long")
            .alias("n_sk"),
        )
        return (
            ranked.select(
                "week", "event_type", "cents", "r", "n_sk",
                F.explode(q_arr).alias("q_bp"),
            )
            .where(F.col("r").cast("long") * 10000 >= F.col("q_bp").cast("long") * F.col("n_sk"))
            .groupBy("week", "event_type", "q_bp")
            .agg(
                F.min_by("cents", "r").alias(f"{alias}_cents"),
                F.min("n_sk").cast("long").alias(f"n_{alias}"),
            )
        )

    return (
        estimate(merged, "merged")
        .join(estimate(direct, "direct"), ["week", "event_type", "q_bp"])
        .select(
            "week",
            "event_type",
            "q_bp",
            "n_merged",
            "n_direct",
            (F.col("merged_cents").cast("double") / 100.0).alias("est_merged"),
            (F.col("direct_cents").cast("double") / 100.0).alias("est_direct"),
        )
    )


# Chi-square drift: micro-unit quantization of the per-bucket terms
# (the temperature_mixture recipe — quantize each term, sum exactly).
CHI2_SCALE = 1_000_000


def value_drift_chi2(t: dict[str, DataFrame]) -> DataFrame:
    """Two-sample chi-square homogeneity test per event type: did the
    value distribution drift between the first and second half of the
    observed window? The monitoring statistic a production pipeline
    alarms on — computed with the repo's exact-arithmetic discipline,
    so the alarm can never flap from partition-order noise.

    Buckets are the log2_value_histogram bit-length buckets (integer);
    the split point is the µs midpoint of the observed ts range
    (derived from the data — meaningful on any corpus, the
    state_snapshot_diff lesson). With per-bucket counts o_a, o_b and
    per-type totals N_a, N_b, the textbook statistic

        chi2 = Σ_b (o_a·N_b − o_b·N_a)² / (N_a·N_b·(o_a+o_b))

    (the (O−E)²/E cell sum collapses to this — derive via
    O_a−E_a = (o_a·N_b − o_b·N_a)/N and 1/E_a + 1/E_b =
    N²/(N_a·N_b·s_b), the N² cancelling)

    is evaluated per bucket as ONE integer floor division into
    micro-units — products lifted into DECIMAL(38,0) (the pagerank
    fixed-point discipline; numerators reach ~1e29 at test scale) —
    and the per-type sum of those integers is exact. The reported
    ``chi2`` is a single division by 10^6. Degenerate halves (a type
    absent from either half) yield NULL by an integer guard.

    Scale shape: one (type, bucket) aggregate with conditional
    half-counts (map-side partials; state = types·buckets rows), then
    type-level windows/aggs on that dictionary-sized table. The split
    bounds are a one-row broadcast.
    """
    ev = t["events"].select(
        "event_type",
        F.col("ts"),
        (money("value") * 100).cast("long").alias("cents"),
    )
    # Integer midpoint: (lo + hi) div 2 — a double /2 then cast would
    # TRUNCATE in Spark but ROUND in DuckDB on odd sums.
    bounds = ev.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias(
            "mid_us"
        )
    )
    bucket = F.when(
        F.col("cents") > 0, F.length(F.expr("bin(cents)")) - 1
    ).otherwise(F.lit(-1))
    halved = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        bucket.cast("int").alias("bucket"),
        F.when(F.unix_micros(F.col("ts")) < F.col("mid_us"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    per_bucket = halved.groupBy("event_type", "bucket").agg(
        F.sum("in_a").cast("long").alias("o_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("o_b"),
    )
    w_type = Window.partitionBy("event_type")
    # The inner products are lifted into DECIMAL(38,0) BEFORE any
    # multiplication: o·N reaches 2^63 at a few billion rows per half —
    # int64 would silently wrap on the Spark side while the oracle's
    # HUGEINT errored (caught in review; the twin lift is in the
    # registry SQL).
    term = F.expr(
        f"""CAST(
            (CAST(o_a AS DECIMAL(38,0)) * n_b - CAST(o_b AS DECIMAL(38,0)) * n_a)
            * (CAST(o_a AS DECIMAL(38,0)) * n_b - CAST(o_b AS DECIMAL(38,0)) * n_a)
            * {CHI2_SCALE}
            div (CAST(n_a AS DECIMAL(38,0)) * n_b * (o_a + o_b))
        AS DECIMAL(38,0))"""
    )
    sized = per_bucket.select(
        "event_type",
        "bucket",
        "o_a",
        "o_b",
        F.sum("o_a").over(w_type).cast("long").alias("n_a"),
        F.sum("o_b").over(w_type).cast("long").alias("n_b"),
    )
    return (
        sized.withColumn(
            "term_micro",
            F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), term),
        )
        .groupBy("event_type")
        .agg(
            F.min("n_a").cast("long").alias("n_a"),
            F.min("n_b").cast("long").alias("n_b"),
            (F.count(F.lit(1)) - 1).cast("int").alias("dof"),
            F.sum("term_micro").alias("_chi2_micro"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            "dof",
            (F.col("_chi2_micro").cast("double") / CHI2_SCALE).alias("chi2"),
        )
    )


# Discrete-Laplace (two-sided geometric) mechanism for DP counts:
# alpha = e^-epsilon; P(Z = z) = (1-alpha)/(1+alpha) * alpha^|z|.
# The inverse-CDF thresholds are computed in Python ONCE and shipped
# as integer literals against the 32-bit portable hash draw — the
# bootstrap_ci_mean discipline: deterministic noise, no float in
# either engine's plan (rand() would be neither reproducible nor
# engine-portable, and a float Laplace would hit ln() ulp boundaries).
DP_EPSILON = 0.5
# The noise draw is keyed on a SALT that must stay out of the release:
# md5 is public, so an unsalted draw lets any consumer recompute the
# noise and recover the exact count (review finding). With the salt
# secret, the noise is deterministic to the publisher (reproducible
# across engines/partitionings/retries — the property rand() lacks)
# and unpredictable to consumers. The default is a PLACEHOLDER for the
# test harness; a real release generates and vaults its own — and
# ROTATES it per release epoch: one salt = ONE noise draw per key
# forever (deterministic), so epsilon is spent once per salt, and two
# releases of a changed count under the same salt leak their exact
# difference (see dp_noisy_counts docstring).
DP_SALT = "spark-graft-release-salt"


def _geometric_thresholds(epsilon: float = DP_EPSILON) -> list[tuple[int, int]]:
    """(threshold, z) pairs: draw < threshold → noise z, for z scanned
    in CDF order -Z..+Z; tail truncated below 2^-40 total mass (the
    truncation changes the mechanism by < 1e-12 — negligible against
    epsilon accounting at these magnitudes)."""
    import math

    alpha = math.exp(-epsilon)
    z_max = 1
    while (2 * alpha ** (z_max + 1)) / (1 + alpha) > 2**-40:
        z_max += 1
    weights = [(z, alpha ** abs(z)) for z in range(-z_max, z_max + 1)]
    total = sum(w for _, w in weights)
    acc = 0.0
    out = []
    prev = 0
    for z, w in weights:
        acc += w / total
        thr = min(round(acc * 4294967296), 4294967296)
        if thr > prev:  # rounded-to-zero tail buckets can never be drawn
            out.append((thr, z))
            prev = thr
    return out


def dp_noisy_counts(
    t: dict[str, DataFrame],
    epsilon: float = DP_EPSILON,
    salt: str = DP_SALT,
) -> DataFrame:
    """Differentially-private per-type event counts via the DISCRETE
    geometric mechanism (Ghosh-Roughgarden-Sundararajan: the
    universally optimal mechanism for counts) — the privacy layer a
    shared-metrics pipeline publishes through.

    All integer: the true count is exact; the noise is an
    inverse-CDF table lookup of the portable h32(salt|type|'dp') draw
    against Python-computed integer thresholds (the bootstrap_ci_mean
    pattern), so the published value is reproducible across engines,
    partitionings and retries while still being a correctly-distributed
    geometric draw over the release key — and, because the SALT stays
    out of the release, not recomputable by a consumer (see DP_SALT;
    an unsalted public-hash draw would offer zero privacy). ``dp_count``
    floors at 0 (counts are non-negative post-processing — DP allows
    it).

    RELEASE CAVEATS (review finding): the ``true_count`` and ``noise``
    columns exist ONLY for the oracle/test harness — a real release
    MUST project them out and publish ``dp_count`` alone (any consumer
    of the full frame trivially reads the exact count). And because the
    draw is deterministic per (salt, type), REPEATED releases under one
    salt reuse the identical noise — that is one epsilon spend total,
    not one per release, but it also means sequential-composition
    accounting across releases does NOT apply as a reader might assume:
    publishing a CHANGED count under the same salt key draws fresh-
    looking noise only if the key changes. A production pipeline must
    rotate the salt (and account epsilon) per release epoch.

    Scale shape: one (type) count aggregate with map-side partials;
    the noise lookup is a literal CASE chain on |types| rows.
    """
    counts = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    draw = h32(F.concat(F.lit(salt), F.lit("|"), F.col("event_type"), F.lit("|dp")))
    thresholds = _geometric_thresholds(epsilon)
    noise = F.lit(thresholds[-1][1])
    for thr, z in reversed(thresholds[:-1]):
        noise = F.when(draw < thr, F.lit(z)).otherwise(noise)
    return counts.select(
        "event_type",
        "true_count",
        noise.cast("long").alias("noise"),
        F.greatest(
            F.col("true_count") + noise.cast("long"), F.lit(0).cast("long")
        ).alias("dp_count"),
    )


# Incremental-refresh window: the delta a continuous-aggregate
# maintainer re-reads on each refresh tick.
REFRESH_LOOKBACK_HOURS = 24


def rollup_incremental_refresh(t: dict[str, DataFrame]) -> DataFrame:
    """Incremental view maintenance, PROVEN per bucket: the hourly
    rollup split into a base (before max(ts) − 24h — the already-
    materialized continuous aggregate) and a delta (the refresh
    window), merged by RE-AGGREGATION of partials, then compared
    bucket-by-bucket against the full recompute. count and exact
    decimal cent sums are re-aggregable, so ``consistent`` must be
    true on every row — emitting the comparison makes the oracle prove
    the IVM theorem on real data rather than assert it in prose (the
    bloom false-negative-column precedent).

    At 100 TB the full-recompute leg is the eval harness and is
    dropped: the refresh reads ONLY the delta (one 24h slice) and
    merges into the stored partials — that merge leg IS the production
    plan, and it touches |delta| rows + |buckets| rows of state.
    """
    ev = t["events"].select(
        "ts",
        "event_type",
        (money("value") * 100).cast("long").alias("cents"),
    )
    cutoff = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {REFRESH_LOOKBACK_HOURS} HOURS")).alias(
            "cutoff_ts"
        )
    )
    from mapreduce_rs_spark.operators.materialize import materialize

    # Three rollup legs read this — materialized once, not one scan per
    # leg (the read->=2x rule; review finding).
    tagged = materialize(
        ev.crossJoin(F.broadcast(cutoff)).select(
            F.date_trunc("hour", "ts").alias("bucket_ts"),
            "event_type",
            "cents",
            (F.col("ts") < F.col("cutoff_ts")).alias("is_base"),
        ),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket_ts", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )

    base = rollup(tagged.where(F.col("is_base")))
    delta = rollup(tagged.where(~F.col("is_base")))
    merged = (
        base.unionByName(delta)
        .groupBy("bucket_ts", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )
    full = rollup(tagged).select(
        "bucket_ts",
        "event_type",
        F.col("n_events").alias("full_n"),
        F.col("sum_cents").alias("full_cents"),
    )
    return merged.join(full, ["bucket_ts", "event_type"], "full").select(
        "bucket_ts",
        "event_type",
        "n_events",
        (F.col("sum_cents").cast("double") / 100.0).alias("sum_value"),
        (
            (F.col("n_events") == F.col("full_n"))
            & (F.col("sum_cents") == F.col("full_cents"))
        ).alias("consistent"),
    )
