"""Relational operators over the TPC-H-ish star schema.

The reference has NO relational operators beyond map/shuffle/sort/reduce
(SURVEY.md §2 "categories the reference does NOT implement") — its shuffle
(``src/mr/worker.rs:133-164``) is the mechanism a join or aggregate would
use, but neither exists. This module supplies that missing surface the
Spark-first way: every query is a declarative DataFrame plan, so Catalyst
applies predicate pushdown, column pruning and join reordering, and AQE
picks broadcast vs shuffle joins and splits skewed partitions at runtime.

Scale notes per query are inline. The recurring ones:
* dimension joins (region/nation/supplier/part) are explicitly
  ``F.broadcast`` — at 100 TB the fact side never shuffles for these;
* aggregates use built-ins, so map-side partial aggregation halves
  shuffle volume automatically;
* every top-k orders by a unique tie-broken key so results are
  deterministic under any partitioning.

Each function takes the loaded table dict from sources.catalog and
returns a DataFrame whose column names match its oracle SQL exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Order-independent money aggregation.
#
# Double `sum` accumulates in partition order, so the low bits of the
# result change with partitioning — at magnitude ~1e9 the noise exceeds
# the driver's value-hash granularity (observed: sum(o_totalprice) off by
# ~1e-6 between Spark and DuckDB, round-1 `agg_order_priorities` failure).
# Money columns in the test data are exact 2-decimal values (verified: 0
# of 60k lineitem rows deviate from DECIMAL(18,2) round-trip), so we cast
# to decimal BEFORE aggregating: decimal addition is exact and
# associative, making the sum independent of partition count and
# accumulation order, then one final cast to double is deterministic.
# Averages are derived as sum/count from the exact decimal sum for the
# same reason. Verified bit-identical between Spark and DuckDB at sf0.01
# including decimal products (price * (1-disc) * (1+tax)).
#
# At 100 TB this is also the *correct* choice, not just a parity trick:
# financial rollups on doubles give partition-count-dependent answers.
# ---------------------------------------------------------------------------

# o_totalprice/l_extendedprice < 1e6: 10 integer digits is ample, and
# Spark widens sum(DECIMAL(12,2)) to DECIMAL(22,2) — room for 1e20.
MONEY = "decimal(12,2)"
RATE = "decimal(3,2)"  # discount/tax in [0, 1) with 2 decimals


def money(col: str) -> Column:
    return F.col(col).cast(MONEY)


def rate(col: str) -> Column:
    return F.col(col).cast(RATE)


def stable_sum(dec_col: Column) -> Column:
    """Exact decimal sum, surfaced as double (one deterministic cast)."""
    return F.sum(dec_col).cast("double")


def stable_avg(dec_col: Column) -> Column:
    """avg derived as exact-sum / count: both engines divide the same
    two exact numbers, so the double result is bit-identical."""
    return F.sum(dec_col).cast("double") / F.count(F.lit(1))


def q1_pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filter + wide aggregate.

    The filter reaches the parquet scan as a pushed predicate; the
    groupBy keys have cardinality ~6, so partial aggregation reduces the
    shuffle to a handful of rows per task regardless of input size.
    Money sums accumulate in decimal (order-independent; see module
    header); l_quantity is integer-valued so its double sum is already
    exact in any order.
    """
    li = t["lineitem"]
    one = F.lit(1).cast(RATE)
    disc_price = money("l_extendedprice") * (one - rate("l_discount"))
    charge = disc_price * (one + rate("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            stable_sum(money("l_extendedprice")).alias("sum_base_price"),
            stable_sum(disc_price).alias("sum_disc_price"),
            stable_sum(charge).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            stable_avg(money("l_extendedprice")).alias("avg_price"),
            stable_avg(rate("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def filter_project(t: dict[str, DataFrame]) -> DataFrame:
    """Filter + computed projection. Both the predicate and the 4-column
    ReadSchema push to the scan — the plan never materializes the other
    7 lineitem columns."""
    li = t["lineitem"]
    return li.where(
        (F.col("l_quantity") > 45) & (F.col("l_discount") < 0.05)
    ).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        F.col("l_quantity").alias("qty"),
    )


def join_revenue_by_nation(t: dict[str, DataFrame]) -> DataFrame:
    """4-way join: lineitem ⋈ orders (the only big-big shuffle join)
    ⋈ broadcast customer-side dims. Aggregation keys are nation names,
    so the final shuffle is tiny."""
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    one = F.lit(1).cast(RATE)
    return (
        rev.groupBy("r_name", "n_name")
        .agg(
            stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def join_revenue_by_nation_bucketed(
    t: dict[str, DataFrame], lineitem_b: DataFrame, orders_b: DataFrame
) -> DataFrame:
    """``join_revenue_by_nation`` over PRE-BUCKETED fact tables — the
    rescue for the one big-big shuffle in the headline join: write
    lineitem and orders bucketed (+bucket-sorted) on the order key once
    (sources/bucketing.py), and every subsequent run's fact join is a
    co-located sort-merge join with NO exchange and NO sort above
    either scan. The only remaining shuffle in the whole query is the
    tiny (r_name, n_name)-keyed aggregate — asserted in
    tests/test_bucketing.py and A/B-timed in SCALE.md.

    Dims are broadcast-hinted here; at 100 TB customer (the largest
    dim) would itself be bucketed on c_custkey or left to AQE rather
    than broadcast — the fact-join rescue is the point of this variant.
    Identical arithmetic/agg body to join_revenue_by_nation, so the two
    results are row-identical (also asserted)."""
    rev = (
        lineitem_b
        .join(orders_b, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    one = F.lit(1).cast(RATE)
    return (
        rev.groupBy("r_name", "n_name")
        .agg(
            stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q3_shipping_priority(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both fact inputs, 3-way
    join, revenue aggregate, top-10. The segment filter prunes customer
    BEFORE the join (predicate pushdown), and the date filters reach
    both scans — the selectivity arrives where it's cheapest."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    one = F.lit(1).cast(RATE)
    return (
        t["customer"].where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"].where(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"].where(F.col("l_shipdate") > cutoff), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def join_left_order_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Left outer join keeping customers with zero orders (COALESCE'd
    count). Customer is the smaller side but the LEFT side, so Spark
    shuffles both — at scale you'd bucket both tables on the key."""
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_semi_recent_customers(t: dict[str, DataFrame]) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one high-priority
    order. Semi joins shuffle only the key column of the probe side and
    stop at first match — cheaper than inner+distinct."""
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def join_anti_customers_without_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


def agg_order_priorities(t: dict[str, DataFrame]) -> DataFrame:
    """Aggregate battery: sum/avg/min/max/count + COUNT DISTINCT.
    count_distinct expands to a two-phase partial-distinct plan — the
    dedup happens map-side before the shuffle."""
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            # Decimal accumulation: the round-1 hash failure was exactly
            # this column's partition-order noise at magnitude ~7.6e8.
            stable_sum(money("o_totalprice")).alias("sum_price"),
            stable_avg(money("o_totalprice")).alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


def rollup_returns(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): hierarchical subtotals +
    grand total in one pass (Expand + single aggregate, not N scans)."""
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows"))
    )


def cube_status_priority(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping-set
    combinations in one shuffle."""
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(stable_sum(money("o_totalprice")).alias("sum_price"), F.count("*").alias("n_orders"))
    )


def window_top_orders_per_customer(t: dict[str, DataFrame]) -> DataFrame:
    """Top-3 orders per customer by price: row_number window, the
    canonical top-k-per-group (one shuffle on the partition key; never
    a self-join). Unique tie-break on o_orderkey."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t["orders"]
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def window_running_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Running (cumulative) revenue per customer in order-date order.
    Ordering key extended with o_orderkey so the frame is total —
    otherwise ties make the running sum nondeterministic across engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Decimal accumulation even here: engines disagree on windowed-sum
    # association (running fold vs segment tree), so double prefix sums
    # are engine-dependent in the low bits.
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_revenue"),
    )


def window_price_delta(t: dict[str, DataFrame]) -> DataFrame:
    """LAG window: each order's price delta vs the customer's previous
    order (event-over-event comparison pattern)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        prev.alias("prev_price"),
        (F.col("o_totalprice") - prev).alias("price_delta"),
    )


def window_functions_battery(t: dict[str, DataFrame]) -> DataFrame:
    """Window battery #2: lead, first/last value over a frame, ntile,
    dense_rank, percent_rank, cume_dist — one shuffle on the partition
    key serves every function (same window spec, fully deterministic
    ordering)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w_full).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.dense_rank().over(w).alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


def min_cost_part_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q2 shape: for each part, the supplier(s) offering the
    minimum total cost proxy (acctbal-adjusted). The per-part minimum
    is a window min over the join — Catalyst's decorrelation of the
    classic correlated-subquery formulation."""
    joined = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name",
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    w = Window.partitionBy("p_partkey")
    ranked = joined.withColumn("min_unit_price", F.min("unit_price").over(w))
    return (
        ranked.where(F.col("unit_price") == F.col("min_unit_price"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_price")
        .distinct()
    )


def topk_expensive_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    each partition keeps k rows, driver merges p·k, no full sort."""
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


def set_ops_segments(t: dict[str, DataFrame]) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer key sets from two market
    segments vs urgent-order customers, tagged by which set operation
    produced each row."""
    c = t["customer"]
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    urgent = (
        t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        building.union(machinery).distinct().withColumn("op", F.lit("union"))
        .unionAll(building.intersect(urgent).withColumn("op", F.lit("intersect")))
        # subtract == SQL EXCEPT (distinct); exceptAll has multiset
        # semantics that diverge from the oracle's EXCEPT.
        .unionAll(building.subtract(urgent).withColumn("op", F.lit("except")))
    )


def set_ops_multiset(t: dict[str, DataFrame]) -> DataFrame:
    """Multiset (ALL) set operations: INTERSECT ALL / EXCEPT ALL keep
    duplicate cardinalities — the bag semantics UNION/INTERSECT's
    distinct forms discard."""
    building_nations = (
        t["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    )
    machinery_nations = (
        t["customer"].where(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    )
    return (
        building_nations.intersectAll(machinery_nations).withColumn("op", F.lit("intersect_all"))
        .unionAll(building_nations.exceptAll(machinery_nations).withColumn("op", F.lit("except_all")))
        .groupBy("op", "c_nationkey")
        .agg(F.count("*").alias("multiplicity"))
    )


def nations_in_region(t: dict[str, DataFrame]) -> DataFrame:
    """Ordered string aggregation: nation names per region, sorted and
    comma-joined — collect_list is unordered by contract, so the sort
    happens on the collected array (deterministic under any
    partitioning), mirrored by the oracle's string_agg ORDER BY."""
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


def having_active_customers(t: dict[str, DataFrame]) -> DataFrame:
    """GROUP BY ... HAVING: customers with >= 12 orders and their spend.
    The HAVING predicate evaluates post-aggregation (cannot push below
    the groupBy), exactly like the SQL form."""
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), stable_sum(money("o_totalprice")).alias("total_spend"))
        .where(F.col("n_orders") >= 12)
    )


def percentiles_by_priority(t: dict[str, DataFrame]) -> DataFrame:
    """Exact percentiles (linear interpolation) per group — Spark's
    ``percentile`` matches ANSI percentile_cont / DuckDB quantile_cont.
    Exact percentile sorts within groups; at 100 TB you'd switch to
    ``percentile_approx`` (t-digest sketch, mergeable map-side) — kept
    exact here because the oracle must agree bit-for-bit."""
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", 0.25).alias("p25"),
            F.percentile("o_totalprice", 0.5).alias("p50"),
            F.percentile("o_totalprice", 0.75).alias("p75"),
        )
    )


def grouping_sets_returns(t: dict[str, DataFrame]) -> DataFrame:
    """Explicit GROUPING SETS — marginals by returnflag, by linestatus,
    and the grand total, one Expand + one aggregate pass (via Spark SQL,
    exercising the SQL front-end of the engine)."""
    li = t["lineitem"]
    li.createOrReplaceTempView("lineitem_gs")
    return li.sparkSession.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


def pivot_status_by_priority(t: dict[str, DataFrame]) -> DataFrame:
    """PIVOT: order totals per priority, one column per order status.
    Explicit value list — never let pivot scan for distinct values at
    scale (that's an extra job over the fact table)."""
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(money("o_totalprice")))
    )
    # Cast the pivoted decimal sums to double outside the pivot agg
    # (pivot requires a bare aggregate expression).
    return wide.select(
        "o_orderpriority",
        *[F.col(c).cast("double").alias(c) for c in ("F", "O", "P")],
    )


def unpivot_status_totals(t: dict[str, DataFrame]) -> DataFrame:
    """UNPIVOT (melt): the wide per-status totals back to long form —
    the inverse of pivot, an Expand-based narrow op (no shuffle beyond
    the underlying aggregate)."""
    wide = pivot_status_by_priority(t)
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["F", "O", "P"],
            variableColumnName="status",
            valueColumnName="total_price",
        )
        .where(F.col("total_price").isNotNull())
    )


PRICE_BANDS: tuple[tuple[str, float, float], ...] = (
    ("low", 0.0, 500.0),
    ("mid", 500.0, 1500.0),
    ("high", 1500.0, 5000.0),
    ("lux", 5000.0, 1e18),
)


def range_join_price_bands(t: dict[str, DataFrame]) -> DataFrame:
    """Non-equi (range) join: orders banded by price interval. The band
    table is a handful of rows → broadcast nested-loop join, the right
    physical strategy for tiny-dim theta joins at any scale."""
    spark = t["orders"].sparkSession
    bands = spark.createDataFrame(list(PRICE_BANDS), ["band", "lo", "hi"])
    return (
        t["orders"]
        .join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), stable_sum(money("o_totalprice")).alias("sum_price"))
    )


def customers_above_nation_avg(t: dict[str, DataFrame]) -> DataFrame:
    """Correlated-subquery pattern (acctbal above the nation's average),
    decorrelated the way Catalyst would: aggregate-then-join. The per-key
    aggregate is tiny (one row per nation) and broadcasts."""
    nation_avg = (
        t["customer"].groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nation_avg_bal"))
    )
    return (
        t["customer"]
        .join(F.broadcast(nation_avg), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg_bal"))
        .select("c_custkey", "c_name", "c_acctbal", "nation_avg_bal")
    )


def promo_revenue_ratio(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q14 shape: monthly promo-revenue share — a conditional sum
    over a broadcast dimension join, expressed as one pass (never two
    scans with different filters). Both the conditional and total sums
    accumulate in exact decimal, so the derived percentage is
    bit-identical across engines and partitionings."""
    one = F.lit(1).cast(RATE)
    disc_price = money("l_extendedprice") * (one - rate("l_discount"))
    zero = F.lit(0).cast("decimal(17,4)")
    promo_price = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(zero)
    joined = t["lineitem"].join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    return (
        joined.groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            (100 * stable_sum(promo_price) / stable_sum(disc_price)).alias("promo_pct"),
            stable_sum(disc_price).alias("total_revenue"),
        )
    )


def disjunctive_filter_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three (brand, size-range,
    quantity-range) predicate blocks. The disjunction is one residual
    filter after a single broadcast join — never a UNION of three scans
    (which would read the fact table three times). Catalyst extracts
    the common p_partkey join key and pushes the shared IsNotNull
    predicates; the disjunction itself evaluates in codegen."""
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    one = F.lit(1).cast(RATE)
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .groupBy("p_brand")
        .agg(
            stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def priority_line_counts(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q12 shape: per return flag, how many lineitems belong to
    high- vs low-priority orders — conditional counting across a
    fact-fact join (the orders edge shuffles; at 100 TB both sides
    would be bucketed on the order key, sources/bucketing.py)."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_lines"),
        )
    )


def null_handling_showcase(t: dict[str, DataFrame]) -> DataFrame:
    """NULL-semantics battery over a left join's missing side:
    COALESCE (default), NULLIF (sentinel→NULL), IS NULL
    classification — the three idioms whose engine-consistent behavior
    a migration depends on. Customers without orders exercise the NULL
    branch of every expression."""
    joined = t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left"
    )
    return (
        joined.groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(money("o_totalprice")).cast("double"), F.lit(0.0)).alias("total_spend"),
            F.max("o_orderdate").alias("last_order_date"),
        )
        .select(
            "c_custkey",
            "n_orders",
            "total_spend",
            F.nullif(F.col("n_orders"), F.lit(0)).alias("n_orders_or_null"),
            F.when(F.col("last_order_date").isNull(), "never-ordered")
            .otherwise("active")
            .alias("status"),
        )
    )


def stats_battery(t: dict[str, DataFrame]) -> DataFrame:
    """Second-moment statistics per return flag: sample variance/stddev
    of quantity and price, and their covariance/correlation — derived
    from EXACT decimal power sums (Σx, Σx², Σxy are exact because the
    inputs are 2-decimal money values, so squares/products have ≤4
    decimals), then combined in double with the textbook formulas:

        var  = (Σx² − (Σx)²/n) / (n−1)
        cov  = (Σxy − ΣxΣy/n) / (n−1)
        corr = cov / (σx·σy)

    Spark's built-in ``var_samp``/``corr`` use Welford-style merge
    updates whose DOUBLE state depends on partition merge order — the
    same nondeterminism class as double `sum`, amplified by squaring.
    Deriving from exact sums makes every output bit-identical across
    engines and partition counts (the module-header rationale, applied
    to second moments). At 100 TB the derived form is also cheaper:
    three decimal sums partial-aggregate map-side like any sum."""
    li = t["lineitem"]
    qty = F.col("l_quantity").cast(MONEY)
    price = money("l_extendedprice")
    sums = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(qty).alias("sx"),
            F.sum(qty * qty).alias("sxx"),
            F.sum(price).alias("sy"),
            F.sum(price * price).alias("syy"),
            F.sum(qty * price).alias("sxy"),
        )
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # greatest(·, 0): the computational formula can go fractionally
    # negative via double cancellation on (near-)constant groups, and
    # DuckDB's sqrt RAISES on negatives where Spark returns NaN — the
    # clamp (mirrored in the oracle) keeps both engines defined and
    # equal. true variance is never negative, so this changes nothing
    # on healthy data.
    var_q = F.greatest((sxx - sx * sx / n) / (n - 1), F.lit(0.0))
    var_p = F.greatest((syy - sy * sy / n) / (n - 1), F.lit(0.0))
    cov = (sxy - sx * sy / n) / (n - 1)
    return sums.select(
        "l_returnflag",
        n.alias("n_rows"),
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        var_p.alias("var_price"),
        F.sqrt(var_p).alias("stddev_price"),
        cov.alias("covar_qty_price"),
        # try_divide: a zero-variance group makes the denominator 0 —
        # DuckDB division yields NULL there, Spark's plain `/` would
        # give NaN; try_divide aligns on NULL.
        F.try_divide(cov, F.sqrt(var_q) * F.sqrt(var_p)).alias("corr_qty_price"),
    )


def fuzzy_nation_pairs(t: dict[str, DataFrame], max_dist: int = 4) -> DataFrame:
    """Fuzzy string matching: nation-name pairs within Levenshtein
    distance ``max_dist``. The pair space here is a bounded dimension
    (25×25 — broadcast nested-loop is the correct plan); for fuzzy
    matching over a LARGE table you'd first block (by length bucket,
    first-char, or q-gram LSH — the jaccard/minhash machinery in
    operators/dedup.py) and verify candidates with this same
    levenshtein expression."""
    n = t["nation"].select("n_name")
    a, b = n.alias("a"), n.alias("b")
    dist = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(F.broadcast(b), F.col("a.n_name") < F.col("b.n_name"))
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= max_dist)
    )


def scalar_functions_showcase(t: dict[str, DataFrame]) -> DataFrame:
    """String/date/math scalar battery over orders — every expression
    chosen to have identical ANSI semantics in Spark and DuckDB."""
    o = t["orders"]
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.length("o_orderpriority").alias("priority_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.round("o_totalprice", 0).alias("price_rounded"),
        F.abs(F.col("o_totalprice") - 1000).alias("price_abs_dev"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
        F.when(F.col("o_totalprice") > 1000, "big").otherwise("small").alias("size_class"),
    )


def date_functions_showcase(t: dict[str, DataFrame]) -> DataFrame:
    """Date/time scalar battery #2 — every expression pinned to
    semantics both engines share (weekday+1 == ISO dow, datediff in
    days, month truncation, quarter, last day of month)."""
    o = t["orders"]
    return o.select(
        "o_orderkey",
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch_start"),
        # date-typed outputs are cast to timestamp: pandas/Arrow render
        # DATE and midnight TIMESTAMP differently, which breaks value
        # hashing even when the engines agree.
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("due_date"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
    )


def q17_small_quantity_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q17 shape: revenue that would be lost by dropping orders of
    less than 20% of a part's average quantity, for one brand/size slice.

    The classic formulation is a correlated scalar subquery per fact row
    (``l_quantity < (SELECT 0.2*avg(l_quantity) ... WHERE l_partkey =
    p_partkey)``); the scale-correct decorrelation is aggregate-then-
    join: the per-part threshold table is |selected parts| rows, so BOTH
    probe-side joins broadcast and lineitem never shuffles. The filtered
    part list is broadcast into the threshold aggregation too, so the
    avg runs over only the selected parts' lineitems.

    Quantities are integer-valued; accumulating them in decimal makes
    the avg (exact sum / count, one double division) bit-identical across
    engines and partitionings, so the strict `<` threshold compare can
    never flip on accumulation noise.
    """
    small_parts = (
        t["part"]
        .where((F.col("p_brand") == "Brand#11") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    li = t["lineitem"]
    brand_lines = li.join(
        F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    thresholds = brand_lines.groupBy("l_partkey").agg(
        (F.lit(0.2) * stable_avg(F.col("l_quantity").cast(MONEY))).alias("qty_threshold")
    ).select(F.col("l_partkey").alias("t_partkey"), "qty_threshold")
    return (
        brand_lines.join(
            F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey")
        )
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (stable_sum(money("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).cast("int").alias("n_small_lines"),
        )
    )


def q18_large_orders(t: dict[str, DataFrame], min_qty: float = 280.0) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    with their customer — a HAVING-filtered aggregate semi-joined back
    to the fact tables.

    Scale shape: the HAVING output is tiny (84 rows at sf0.01, and
    shrinks relative to the data as the threshold binds harder), so it
    is broadcast into the orders probe, and that probe result (equally
    tiny) is broadcast into the customer probe — neither orders nor
    customer ever shuffles. Quantity sums accumulate in decimal
    (integer-valued column), so the `> min_qty` cut is exact.
    """
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(stable_sum(F.col("l_quantity").cast(MONEY)).alias("sum_qty"))
        .where(F.col("sum_qty") > min_qty)
    )
    big_orders = t["orders"].join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    )
    return (
        t["customer"]
        .join(F.broadcast(big_orders), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
    )


def q4_order_priority_checking(
    t: dict[str, DataFrame], late_days: int = 30
) -> DataFrame:
    """TPC-H Q4 shape: per-priority counts of one quarter's orders that
    had at least one LATE lineitem — the correlated EXISTS decorrelated
    to a left-semi join on the order key. (Canonical late =
    l_commitdate < l_receiptdate; this schema has neither — adapted:
    l_shipdate more than ``late_days`` after o_orderdate, the q21
    lateness rule.)

    Scale shape: the quarter filter pushes to the orders scan; the
    lateness check joins lineitem against only the FILTERED quarter's
    (o_orderkey, o_orderdate) pair — at 100 TB that projection is small
    enough for AQE to broadcast, and the semi-join back ships only
    distinct late order keys. The final aggregate is 5 integer rows.
    """
    lo = F.lit("1996-07-01").cast("timestamp")
    hi = F.lit("1996-10-01").cast("timestamp")
    quarter = t["orders"].where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    late_keys = (
        t["lineitem"]
        .join(
            quarter.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        )
        .select("o_orderkey")
    )
    return (
        quarter.join(late_keys, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q12_priority_by_returnflag(t: dict[str, DataFrame], year: int = 1997) -> DataFrame:
    """TPC-H Q12 shape: per shipping-class counts of high- vs
    low-priority order lines in one year. (Canonical classes are the
    two filtered l_shipmode values; this schema has no l_shipmode —
    adapted: l_returnflag is the class dimension, same conditional
    CASE-sum split on o_orderpriority.)

    Scale shape: the year filter pushes to the lineitem scan; the
    orders side ships only (o_orderkey, o_orderpriority); counts are
    exact integers and the result is 3 rows.
    """
    lines = t["lineitem"].where(F.year("l_shipdate") == year)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lines.join(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q21_sole_late_supplier(t: dict[str, DataFrame], late_days: int = 60) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order. (The canonical query uses l_receiptdate >
    l_commitdate; this schema has neither, so "late" is l_shipdate more
    than ``late_days`` after o_orderdate — same EXISTS + NOT-EXISTS
    join structure, adapted predicate.)

    The double-EXISTS decorrelates to ONE aggregation over the order's
    lineitems: n_suppliers >= 2 (the EXISTS: another supplier on the
    order) and n_late_suppliers == 1 (the NOT EXISTS: no OTHER late
    supplier) — when n_late == 1, max(late suppkey) IS that supplier.
    Scale shape: lineitem⋈orders is a fact-fact equi-join on the
    orderkey both sides already hash by; the per-order aggregate and
    the final per-supplier count are integer counts (exact); the
    supplier name lookup broadcasts.
    """
    flags = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
            ).alias("late"),
        )
    )
    per_order = flags.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_suppliers"
        ),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_suppkey"),
    )
    sole = per_order.where(
        (F.col("n_suppliers") >= 2) & (F.col("n_late_suppliers") == 1)
    )
    return (
        sole.groupBy("late_suppkey")
        .agg(F.count(F.lit(1)).cast("int").alias("numwait"))
        .join(F.broadcast(t["supplier"]), F.col("late_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
    )


def q15_top_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over a
    quarter — a scalar subquery (max over an aggregated view) probed
    against the view itself.

    Scale shape: revenue-per-supplier is one partial-aggregated shuffle
    of the date-filtered fact; the global max is a 1-row aggregate
    broadcast back (never a Window over an unpartitioned frame, which
    would funnel every supplier row through one task). The max-equality
    compare happens on the EXACT decimal revenue — comparing doubles
    derived from it would be safe too (one deterministic cast), but the
    decimal compare makes the tie semantics self-evident. Output casts
    to double once.
    """
    one = F.lit(1).cast(RATE)
    rev = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(money("l_extendedprice") * (one - rate("l_discount"))).alias(
                "rev_dec"
            )
        )
    )
    mx = rev.agg(F.max("rev_dec").alias("max_rev_dec"))
    return (
        rev.join(F.broadcast(mx), F.col("rev_dec") == F.col("max_rev_dec"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


def q7_volume_shipping(
    t: dict[str, DataFrame], nation_a: str = "NATION_1", nation_b: str = "NATION_2"
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, by supplier
    nation, customer nation and ship year.

    Scale shape: the nation-pair selectivity (2 of 25 nations) is pushed
    to BOTH dimension sides *before* the fact-fact join — lineitem is
    pre-filtered through the broadcast of the ~2/25ths of suppliers in
    the pair, so the orders shuffle join moves only qualifying lines,
    not the whole fact table. The asymmetric-pair predicate
    (supp != cust) runs as a residual after the cheap equi-joins.
    """
    nations = [nation_a, nation_b]
    pair_nation = t["nation"].where(F.col("n_name").isin(nations))
    supp = (
        t["supplier"]
        .join(F.broadcast(pair_nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t["customer"]
        .join(F.broadcast(pair_nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    one = F.lit(1).cast(RATE)
    return (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
        )
    )


def q8_market_share(
    t: dict[str, DataFrame],
    region: str = "ASIA",
    target_nation: str = "NATION_2",
    ptype: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share (by supplier nation) of
    a part type's revenue among a region's customers, per order year.

    Scale shape: part-type and region filters prune the two broadcast
    sides before they touch the fact table; the customer restriction is
    a LEFT-SEMI join (only the key column shuffles, stops at first
    match). The share is a conditional-sum / total-sum ratio computed in
    ONE pass — never two differently-filtered scans. Both sums
    accumulate in exact decimal, so the divided doubles are bit-identical
    across engines; try_divide guards the (structurally impossible)
    zero denominator the same way the oracle's NULLIF does.
    """
    one = F.lit(1).cast(RATE)
    disc_price = money("l_extendedprice") * (one - rate("l_discount"))
    zero = F.lit(0).cast("decimal(17,4)")
    region_custs = (
        t["customer"]
        .join(
            F.broadcast(
                t["nation"].join(
                    F.broadcast(t["region"].where(F.col("r_name") == region)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    sel_parts = t["part"].where(F.col("p_type") == ptype).select("p_partkey")
    vol = (
        t["lineitem"]
        .join(F.broadcast(sel_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"]
            .where(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            )
            .select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(region_custs, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    target_price = F.when(F.col("supp_nation") == target_nation, disc_price).otherwise(
        zero
    )
    return vol.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.try_divide(stable_sum(target_price), stable_sum(disc_price)).alias(
            "mkt_share"
        ),
        stable_sum(disc_price).alias("total_volume"),
        F.count(F.lit(1)).cast("int").alias("n_lines"),
    )


def q9_profit_by_nation(
    t: dict[str, DataFrame], name_token: str = "red"
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    whose name contains a token. (The canonical query prices cost from
    partsupp.ps_supplycost; this schema has no partsupp, so cost is
    90% of p_retailprice per unit — same join/aggregate structure,
    adapted cost model.)

    Scale shape: the name filter prunes part before its broadcast; the
    supplier→nation lookup broadcasts; the only big shuffle is
    lineitem ⋈ orders on the orderkey both already hash by. Profit is
    a pure decimal expression (price, discount, retailprice and the
    0.90 factor are all exact decimals; l_quantity is integer-valued),
    so the per-group sums are order-independent and bit-identical
    across engines.
    """
    one = F.lit(1).cast(RATE)
    cost_factor = F.lit(0.90).cast(RATE)
    profit = money("l_extendedprice") * (one - rate("l_discount")) - money(
        "p_retailprice"
    ) * cost_factor * F.col("l_quantity").cast(MONEY)
    sel_parts = (
        t["part"]
        .where(F.col("p_name").contains(name_token))
        .select("p_partkey", "p_retailprice")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(sel_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            stable_sum(profit).alias("profit"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
        )
    )


def q10_returned_items(t: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: the top customers by revenue lost to returned
    items in one quarter.

    Scale shape: aggregate-before-join — per-customer revenue is
    reduced FIRST (the quarter+returnflag filters push to both scans,
    and the groupBy output is at most |customers| rows), and only then
    joined to the customer dimension, so the wide customer row never
    rides through the fact shuffle. The top-k orders by the exact-
    decimal-derived revenue with c_custkey as the deterministic
    tie-break (semantic top-k, so the sort stays in the operator).
    """
    one = F.lit(1).cast(RATE)
    per_cust = (
        t["orders"]
        .where(
            (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].where(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("int").alias("n_return_lines"),
        )
    )
    return (
        per_cust.join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "n_return_lines", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def q13_customer_distribution(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by how many
    qualifying orders they placed — a left join preserving zero-order
    customers, then a second aggregation over the counts. (The
    canonical exclusion filter is on o_comment; this schema has none,
    so non-urgent priority is the qualifying predicate — same
    filtered-left-join structure.)

    Scale shape: two shuffles by construction (per-customer count, then
    per-count count) — the first reduces to |customers| rows and the
    second to ~20 groups, so shuffle volume collapses immediately.
    The filter lives on the orders side of the LEFT join (NOT in a
    WHERE after it, which would silently drop the zero-order rows).
    """
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(
            t["orders"]
            .where(F.col("o_orderpriority") != "1-URGENT")
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("int").alias("custdist")
    )


def q22_dormant_customers(
    t: dict[str, DataFrame], since: str = "2000-01-01"
) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone dormant — account
    balance above the global positive-balance average (a scalar
    subquery) and no order since a cutoff (NOT EXISTS), grouped by
    market segment. (The canonical query groups by phone country code;
    this schema has no phone, so c_mktsegment is the grouping — same
    scalar-subquery + anti-join structure.)

    Scale shape: the global average is a 1-row aggregate broadcast via
    crossJoin (never a window over an unpartitioned frame); the NOT
    EXISTS is a LEFT-ANTI join against only the date-filtered orders
    (the filter prunes the anti side before its shuffle). The average
    divides an exact decimal sum by a count, so the threshold double is
    bit-identical on both engines and the > cut can't flip.
    """
    avg_bal = (
        t["customer"]
        .where(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(money("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    recent = t["orders"].where(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        t["customer"]
        .crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_custs"),
            stable_sum(money("c_acctbal")).alias("total_acctbal"),
        )
    )


def q5_local_supplier_volume(
    t: dict[str, DataFrame], region: str = "ASIA"
) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the supplier and the
    customer share the nation, within one region and year.

    Scale shape: the region filter prunes nation before both broadcast
    lookups; the customer and supplier nationkeys ride through their
    equi-joins and the same-nation requirement is one residual compare
    (never a join on nationkey, which would fan out). lineitem⋈orders
    is the only fact-fact shuffle; the final aggregate is ≤|nations in
    region| rows.
    """
    one = F.lit(1).cast(RATE)
    region_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == region)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = (
        t["customer"]
        .join(F.broadcast(region_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("c_nationkey").alias("cust_nkey"), "n_name")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(region_nations.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("s_nationkey").alias("supp_nkey"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"]
            .where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            )
            .select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("cust_nkey") == F.col("supp_nkey"))
        .groupBy("n_name")
        .agg(
            stable_sum(money("l_extendedprice") * (one - rate("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
        )
    )


def q6_forecast_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q6: the canonical scan-only query — revenue delta from a
    hypothetical discount change, one filtered scan, one global sum.

    Scale shape: all three predicates and the 3-column ReadSchema push
    to the parquet scan; the aggregate is a 1-row partial→final — the
    cheapest possible distributed plan, and the classic measure of raw
    scan throughput. The discount band uses exact decimal compares
    (l_discount is a 2-decimal value; 0.05/0.07 are exact decimals), so
    the boundary rows can't flip on float representation.
    """
    return (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & rate("l_discount").between(
                F.lit("0.05").cast(RATE), F.lit("0.07").cast(RATE)
            )
            & (F.col("l_quantity") < 24)
        )
        .agg(
            stable_sum(money("l_extendedprice") * rate("l_discount")).alias("revenue"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
        )
    )


def copurchase_pairs(tables: dict[str, DataFrame], min_orders: int = 2) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in the
    same order, with the lift statistic
    (P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)).

    Pair generation (round-5 rewrite, shared basket aggregate): ONE
    exchange on l_orderkey builds each order's sorted distinct part set
    (``graph.order_baskets``); pairs explode NARROWLY from each basket
    — per order at most C(items,2) rows, bounded by items-per-order (a
    small constant in order data: TPC-H caps at 7), so total work is
    linear in lineitems, never quadratic in parts (the same
    bounded-blocking discipline as the dedup pair joins; the former
    self-equi-join emitted the identical pair multiset but shuffled the
    distinct order-part projection two extra times). Part-frequency
    lookups are equi-joins on the part key — no broadcast needed, so
    the shape holds even when the part dimension itself is huge.

    Lift determinism: all counts are exact integers; the single
    double division of two < 2^53 products is a per-row scalar op,
    bit-identical on both engines.

    The basket table feeds three consumers (pairs, per-part
    frequencies, the order total), so it is materialized once (the
    read>=2x rule) and read three times.

    Returns (part_a, part_b, n_ab, n_a, n_b, lift) for pairs
    co-purchased in >= min_orders orders.
    """
    from mapreduce_rs_spark.operators.graph import order_baskets
    from mapreduce_rs_spark.operators.materialize import materialize

    baskets = materialize(order_baskets(tables["lineitem"]))
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), "
        "y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= min_orders)
    )
    freq = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_orders"))
    )
    total = baskets.agg(F.count(F.lit(1)).alias("n_orders_total"))
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("n_b"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(total))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "CAST(n_ab * n_orders_total AS DOUBLE)"
                " / CAST(n_a * n_b AS DOUBLE)"
            ).alias("lift"),
        )
    )


def skyline_parts(tables: dict[str, DataFrame], n_buckets: int = 32) -> DataFrame:
    """Two-phase distributed skyline (Pareto frontier): parts where no
    other part is both cheaper-or-equal AND larger-or-equal with at
    least one strict — the classic multi-objective filter Spark has no
    built-in operator for.

    Naive dominance is an all-pairs NOT EXISTS (the oracle states it
    that way — fine for a columnar single-node engine, quadratic
    poison at scale). The distributed shape used here is the standard
    two-phase skyline:

    1. LOCAL phase: distinct (price, size) points are hash-bucketed;
       within each bucket the 2D skyline falls out of one window pass —
       sort by (price asc, size desc) and keep a point iff its size
       exceeds the running max over all PRIOR rows (any prior row with
       size >= current strictly dominates it once exact duplicates are
       collapsed, which the distinct guarantees). A point dominated in
       its bucket is dominated globally, so this prunes almost
       everything while touching each point once.
    2. GLOBAL phase: the same window rule over the union of bucket
       survivors — a single-partition sort, but over the tiny pruned
       set (skyline cardinality is O(log^(d-1) n) expected for random
       data), which is exactly when a global window is the right plan.

    Returns every part sitting AT a skyline point (ties on both
    dimensions are all reported): (p_partkey, p_retailprice, p_size).
    """
    p = tables["part"].select("p_partkey", "p_retailprice", "p_size")
    pts = p.select("p_retailprice", "p_size").distinct()
    bucketed = pts.withColumn(
        "bucket", F.pmod(F.hash("p_retailprice", "p_size"), F.lit(n_buckets))
    )
    before = Window.rowsBetween(Window.unboundedPreceding, -1)
    w_local = before.partitionBy("bucket").orderBy(
        F.col("p_retailprice").asc(), F.col("p_size").desc()
    )
    not_dominated = lambda cmax: F.col(cmax).isNull() | (  # noqa: E731
        F.col(cmax) < F.col("p_size")
    )
    local = (
        bucketed.withColumn("cmax", F.max("p_size").over(w_local))
        .where(not_dominated("cmax"))
        .drop("bucket", "cmax")
    )
    w_global = before.orderBy(
        F.col("p_retailprice").asc(), F.col("p_size").desc()
    )
    sky_pts = (
        local.withColumn("cmax", F.max("p_size").over(w_global))
        .where(not_dominated("cmax"))
        .drop("cmax")
    )
    return p.join(sky_pts, ["p_retailprice", "p_size"]).select(
        "p_partkey", "p_retailprice", "p_size"
    )


# The star schema's FK edges: (name, child table, fk col, parent table,
# pk col). The audit below checks each edge; keeping the list a literal
# makes the oracle SQL builder and the Spark loop provably identical.
FK_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def referential_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Referential-integrity audit across every FK edge of the star
    schema: child row counts, distinct FK values, and orphan rows
    (child keys with no parent) — the pre-flight a pipeline runs before
    trusting joins (an orphan silently vanishes from every inner join
    downstream; this query makes that loss visible up front).

    Per edge: one distinct-FK aggregate and one left-anti join against
    the parent KEY COLUMN only (dimension parents broadcast; the
    orders-side edge degrades to a shuffle semi-join at scale — either
    way the child table is scanned once per edge with only its key
    column read). The 7 per-edge 1-row results are unioned — each leg
    is an independent job, all integer-exact.
    """
    out = None
    for name, child, fk, parent, pk in FK_EDGES:
        c = tables[child].select(F.col(fk).alias("fk"))
        p = tables[parent].select(F.col(pk).alias("pk"))
        orphans = c.join(p, c.fk == p.pk, "left_anti")
        leg = c.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.countDistinct("fk").alias("n_distinct_fk"),
        ).crossJoin(
            F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
        ).select(
            F.lit(name).alias("relationship"),
            "n_child_rows",
            "n_distinct_fk",
            "n_orphans",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def rfm_segments(t: dict[str, DataFrame]) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    classic marketing-analytics rollup — built the scale-correct way.

    The textbook formulation scores each metric with a global
    ``ntile(5)``: one SinglePartition sort of every customer, the exact
    shuffle a 100 TB table cannot pay. Instead the quintile CUTPOINTS
    are a 1-row exact-percentile aggregate (the ``percentiles_by_
    priority`` precedent: Spark ``percentile`` == DuckDB quantile_cont
    bit-for-bit; swap to percentile_approx at real scale) broadcast
    back over the per-customer metrics, and scores are range
    comparisons — no global sort, ties resolved identically in both
    engines because a comparison against a shared cutpoint has no
    order-dependence at all (unlike ntile, whose tie handling depends
    on sort stability).

    Metrics: recency = days since the customer's last order relative to
    the corpus max date (1-row broadcast, the q15 max-over-view
    pattern); frequency = order count; monetary = exact-decimal sum of
    o_totalprice. Scores are 1-5 (5 best: most recent / most frequent /
    highest spend). Output: per (r_score, f_score, m_score) cell,
    customer count + pixel-weighted total monetary — the segment-size
    table a campaign query reads.
    """
    from mapreduce_rs_spark.operators.materialize import materialize

    o = t["orders"]
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        stable_sum(money("o_totalprice")).alias("monetary"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    # Materialized once: the customer-grain aggregate is the data-sized
    # half and feeds BOTH the cutpoint fit and the scoring pass — left
    # as lineage it would recompute (two full shuffles of orders).
    metrics = materialize(
        per_cust.join(F.broadcast(ref)).select(
            "o_custkey",
            F.datediff("ref_date", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        ),
    )
    cuts = metrics.agg(
        *[
            F.percentile("recency_days", q).alias(f"r{i}")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), 1)
        ],
        *[
            F.percentile("frequency", q).alias(f"f{i}")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), 1)
        ],
        *[
            F.percentile("monetary", q).alias(f"m{i}")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), 1)
        ],
    )

    def score(col: str, prefix: str, invert: bool) -> Column:
        # quintile by cutpoint comparison; recency inverts (small = good)
        c = F.col(col)
        expr = (
            F.when(c <= F.col(f"{prefix}1"), 1)
            .when(c <= F.col(f"{prefix}2"), 2)
            .when(c <= F.col(f"{prefix}3"), 3)
            .when(c <= F.col(f"{prefix}4"), 4)
            .otherwise(5)
        )
        return (F.lit(6) - expr) if invert else expr

    scored = metrics.join(F.broadcast(cuts)).select(
        score("recency_days", "r", invert=True).alias("r_score"),
        score("frequency", "f", invert=False).alias("f_score"),
        score("monetary", "m", invert=False).alias("m_score"),
        money("monetary").alias("monetary_dec"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        stable_sum(F.col("monetary_dec")).alias("total_monetary"),
    )


def q11_important_stock(
    t: dict[str, DataFrame], region: str = "EUROPE", threshold_den: int = 1000
) -> DataFrame:
    """TPC-H Q11 shape: "important stock" — parts whose inventory value
    within one region exceeds a fixed fraction (1/threshold_den) of the
    regional total. The schema has no partsupp table, so inventory
    value is proxied by shipped l_extendedprice per part, restricted to
    suppliers in the region (reference: no relational surface,
    SURVEY.md §2 — this is blueprint-extension coverage like q1-q22).

    Scale shape: the region→nation→supplier chain collapses to a
    broadcast of ≤|suppliers-in-region| keys, so lineitem never
    shuffles for the dim side; the per-part aggregate is the single
    fact shuffle. The global total is a 1-row aggregate OVER the
    per-part result (identical subplan → Catalyst ReuseExchange feeds
    both sides from one shuffle) broadcast back as a cross join — the
    decorrelated form of Q11's scalar subquery.

    Determinism: the threshold compare is pure decimal — value·den >
    total — never a double fraction, so boundary parts cannot flip on
    float representation (verify SKILL "thresholds → integer
    cross-multiply").
    """
    region_supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].join(
                    F.broadcast(t["region"].where(F.col("r_name") == region)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = (
        t["lineitem"]
        .join(F.broadcast(region_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(money("l_extendedprice")).alias("value_dec"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
        )
    )
    total = vals.agg(F.sum("value_dec").alias("total_dec"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("value_dec") * threshold_den > F.col("total_dec"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("double").alias("stock_value"),
            "n_lines",
        )
    )


def q16_supplier_part_types(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can furnish parts
    of each (brand, type, size) combo, excluding one brand, one type
    family, and "complaint" suppliers (negative-balance proxy — the
    schema has no comment column). partsupp is proxied by the observed
    supplier↔part edges in lineitem.

    Scale shape: both exclusions are pushed scan filters; part is a
    broadcast dim; the supplier blacklist is a broadcast ANTI join (at
    any scale the negative-balance supplier set is |suppliers|-bounded,
    and TPC-H's own Q16 treats it as a subquery-driven NOT IN). The
    count-distinct aggregates on the (brand,type,size) grid — Spark
    expands to a two-phase partial-distinct plan, so the shuffle
    carries at most one row per (combo, suppkey), not raw lineitems.
    """
    good_parts = t["part"].where(
        (F.col("p_brand") != "Brand#45") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(3, 7, 14, 23, 36, 45, 49, 1)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complaint = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(F.broadcast(good_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complaint),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("int").alias("supplier_cnt"))
    )


def q20_surplus_suppliers(
    t: dict[str, DataFrame], prefix: str = "red", year: int = 1997
) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding "surplus" of one part family —
    here, suppliers for whom some `{prefix}…` part concentrated more
    than half its lifetime shipped quantity into a single year
    (availqty>½·shipped with availqty proxied by total shipped, since
    the schema has no partsupp).

    Scale shape: the part-name filter broadcasts a pruned partkey set,
    so lineitem's only shuffle is the (suppkey, partkey) aggregate; the
    qualifying supplier set is ≤|suppliers| and broadcast into a
    LEFT SEMI join against the supplier dim — the decorrelated form of
    Q20's nested EXISTS chain. The half-threshold is exact decimal
    (qty_year·2 > qty_total): no double fraction, no boundary flips.
    """
    parts = t["part"].where(F.col("p_name").startswith(prefix)).select("p_partkey")
    zero = F.lit("0").cast(MONEY)
    qty = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(F.year("l_shipdate") == year, money("l_quantity")).otherwise(zero)
            ).alias("qty_year"),
            F.sum(money("l_quantity")).alias("qty_total"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    # Singleton (supplier, part) groups pass the half-threshold trivially
    # (one line in-year == 100% concentration), so "surplus" requires a
    # multi-shipment history — this keeps the predicate discriminating.
    surplus = (
        qty.where((F.col("n_lines") >= 3) & (F.col("qty_year") * 2 > F.col("qty_total")))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(F.broadcast(surplus), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


def _char_grams(col: Column, n: int = 3) -> Column:
    """Character n-gram array via the narrow sequence+substr slide —
    the string twin of functions.text.token_ngrams (no shuffle, no
    self-join). Short strings yield an empty array."""
    n_grams = F.length(col) - (n - 1)
    return F.when(
        n_grams > 0,
        F.transform(F.sequence(F.lit(1), n_grams), lambda i: col.substr(i, F.lit(n))),
    ).otherwise(F.array().cast("array<string>"))


# Entity-resolution tuning knobs. Module-level so the registry oracle
# derives its SQL from the SAME constants the operator defaults to —
# changing a knob here changes both sides together, and a caller who
# overrides a parameter is visibly stepping outside the oracled
# configuration (the _kmv_rollup_sql discipline).
ER_K_BLOCK = 3          # rarest-K blocking grams per dirty record
ER_DF_CAP = 1000        # hard bound on any single block's size
ER_MAX_DIST = 2         # Levenshtein acceptance threshold
MIN_BLOCK_AGREE = 2     # gram-agreement quorum (least(quorum, n_block))


def entity_match_customers(
    t: dict[str, DataFrame],
    k_block: int = ER_K_BLOCK,
    df_cap: int = ER_DF_CAP,
    max_dist: int = ER_MAX_DIST,
    min_block_agree: int = MIN_BLOCK_AGREE,
) -> DataFrame:
    """Blocked fuzzy entity resolution — the record-linkage pass a data
    cleaning pipeline runs before joining third-party records.

    The corpus has one customer table, so (the codec/PII synthesis
    discipline) a "dirty feed" is PLANTED deterministically: every third
    customer's name gains a typo at a key-derived position in the alpha
    prefix (id digits untouched, so the true match is always edit
    distance 1 and every other name ≥ 2 — unambiguous ground truth the
    intent test asserts).

    The ER shape is the scale-correct one:
    * BLOCKING on each dirty record's ``k_block`` RAREST character
      3-grams (ranked by corpus document frequency) — per-record
      adaptive, so recall does NOT decay as the corpus grows the way a
      fixed global df cutoff's does (measured: a df<=25 global filter
      matched 99% at sf0.01 but 67% at sf0.1; rarest-K restores ~100%
      at both). ``df_cap`` hard-bounds any single block, so candidate
      volume is <= |dirty|·k_block·df_cap, never |dirty|·|clean|;
      records whose EVERY gram exceeds the cap (all-common digit
      patterns) are honestly unblockable and stay unmatched.
    * AGREEMENT PREFILTER (r06 verdict #3 — the sf1.0 constant cut): a
      candidate must share ``min_block_agree`` of the record's blocking
      grams, not just one (``least(min_block_agree, n_block)`` so a
      record with a single under-cap gram still blocks). At sf1.0 the
      digit-gram corpus saturates every block at df_cap, so 1-gram
      blocking realizes ~|dirty|·k_block·df_cap Levenshtein pairs;
      requiring 2-gram agreement shrinks that to the per-pair
      co-occurrence set (two ~df_cap posting lists intersect in
      O(df_cap²/|clean|) names) — measured 53.5 M → 3.9 M verify pairs
      (14×) at sf1.0 (SCALE.md r7). A true planted match shares EVERY
      blocking gram (blocking grams are clean-corpus grams, and the
      typo sits in the alpha prefix while rare grams live in the digit
      region), so recall is untouched; the vote count rides the SAME
      shuffle the old pair-distinct needed, with a narrow (ids-only)
      payload instead of full name pairs — names rejoin after the
      filter, when candidates are per-record-bounded.
    * VERIFY with exact Levenshtein only on agreeing candidates;
    * RESOLVE one winner per dirty record by (distance, custkey) —
      a deterministic total order.

    ``n_candidates`` counts the verified (edit-distance ≤ ``max_dist``)
    candidates among the agreeing set — the blocking stage's own
    selectivity metric, mirrored exactly by the oracle.
    """
    from mapreduce_rs_spark.operators.partitioning import ensure_parallelism

    # The one-small-file rescue (r07 one-task sweep): a single-split
    # customer table makes BOTH gram explodes + their distinct partials
    # run one-task (3 stages of 6-10 s at sf1.0 on one core). Plan-time
    # no-op whenever the scan already has >= cores splits — i.e. always
    # at real scale.
    clean = ensure_parallelism(t["customer"].select("c_custkey", "c_name"))
    pos = (F.col("c_custkey") % 8).cast("int")
    dirty = clean.where(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("dirty_id"),
        F.concat(
            F.col("c_name").substr(F.lit(1), pos),
            F.lit("x"),
            F.col("c_name").substr(pos + 2, F.length("c_name")),
        ).alias("dirty_name"),
    )
    cgrams = (
        clean.select(
            "c_custkey", "c_name", F.explode(_char_grams(F.col("c_name"))).alias("gram")
        )
        .distinct()
    )
    dfreq = cgrams.groupBy("gram").agg(F.count_distinct("c_custkey").alias("df"))
    dgrams = (
        dirty.select(
            "dirty_id", "dirty_name", F.explode(_char_grams(F.col("dirty_name"))).alias("gram")
        )
        .distinct()
    )
    # per-record adaptive blocking: each dirty record's k_block rarest
    # grams (ties broken by gram for determinism), hard-capped at df_cap
    w_rare = Window.partitionBy("dirty_id").orderBy("df", "gram")
    w_rec = Window.partitionBy("dirty_id")
    block_keys = (
        dgrams.join(F.broadcast(dfreq), "gram")
        .where(F.col("df") <= df_cap)
        .withColumn("rk", F.row_number().over(w_rare))
        .where(F.col("rk") <= k_block)
        # how many blocking grams THIS record ended up with (< k_block
        # when most grams exceed the cap) — the agreement quorum is
        # least(min_block_agree, n_block) so sparse records still block
        .select("dirty_id", "gram", F.count(F.lit(1)).over(w_rec).cast("int").alias("n_block"))
    )
    # AQE blind spot, measured at sf1.0: block_keys is |dirty|·k rows
    # (~1.4 MB shuffled) — AQE coalesces its exchange to ONE partition,
    # and since every downstream requirement is then satisfied without
    # another exchange, the 53 M-row gram expansion, the agreement
    # aggregate AND the Levenshtein verify all ran in that single task
    # (147 s single-task stage; bytes are cheap, CPU is not). A
    # pinned-N repartition is exempt from AQE coalescing; keying it
    # (dirty_id, n_block) differs from the child's (dirty_id) window
    # partitioning (so the optimizer keeps it) while remaining a subset
    # of the agreement-aggregate's group keys (so the whole expand→
    # vote→verify chain runs on these N partitions with no further
    # exchange). With this pin + the agreement prefilter + the
    # one-small-file scan rescue the sf1.0 query went 142 s (r06) →
    # 9.0 s (SCALE.md r7). The pin count is max(defaultParallelism,
    # shuffle.partitions): build-time core count alone under-partitions
    # the CPU-heavy chain when executors are added after planning
    # (dynamic allocation) or the session sizes shuffles wider than the
    # driver's core view — and since AQE is deliberately bypassed here,
    # nothing would correct a too-small N at runtime (ADVICE r07).
    sess = clean.sparkSession
    try:
        _shuffle_n = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        # e.g. "auto" on platforms with auto-optimized shuffle
        # (ADVICE r12, same hardening as similarity._n_par)
        _shuffle_n = 0
    n_par = max(sess.sparkContext.defaultParallelism, _shuffle_n)
    block_keys = block_keys.repartition(n_par, F.col("dirty_id"), F.col("n_block"))
    # vote: one row per (dirty record, clean record, shared blocking
    # gram); the payload is ids-only so the big shuffle stays narrow
    cand = (
        block_keys.join(cgrams.select("gram", "c_custkey"), "gram")
        .groupBy("dirty_id", "n_block", "c_custkey")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= F.least(F.lit(min_block_agree), F.col("n_block")))
        .select("dirty_id", "c_custkey")
    )
    verified = (
        cand.join(dirty, "dirty_id")
        .join(clean, "c_custkey")
        .select(
            "dirty_id",
            "c_custkey",
            F.levenshtein("dirty_name", "c_name").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= max_dist)
    )
    w = Window.partitionBy("dirty_id").orderBy("edit_dist", "c_custkey")
    return (
        verified.select(
            "dirty_id",
            "c_custkey",
            "edit_dist",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("dirty_id")).cast("int").alias("n_candidates"),
        )
        .where(F.col("rn") == 1)
        .select(
            "dirty_id",
            F.col("c_custkey").alias("matched_custkey"),
            F.col("edit_dist").cast("int").alias("edit_dist"),
            "n_candidates",
        )
    )


def orders_merge_upsert(t: dict[str, DataFrame]) -> DataFrame:
    """MERGE INTO (SCD1 upsert) semantics as a single full-outer join —
    the warehouse table-maintenance primitive (Delta/Iceberg MERGE's
    relational core), oracle-checked end to end.

    The corpus has no change feed, so the source batch is PLANTED
    deterministically (the codec/PII synthesis discipline): every 7th
    order arrives UPDATED (totalprice repriced +10%, exact decimal),
    and every 97th order is cloned as a NEW order under a shifted key.
    MERGE semantics: matched rows take the source version (SCD1
    overwrite), unmatched source rows insert, unmatched target rows
    persist.

    Scale shape: ONE shuffle join on the merge key (full outer — both
    sides hash-partition once), then the audit aggregate. No window, no
    driver collect; the merged table itself would stream to the sink at
    100 TB, so the query returns the per-status audit the pipeline
    would log: row counts, exact-decimal totals, and inserted/updated/
    carried counts (which must reconcile: inserted + updated + carried
    = rows).
    """
    # Repriced values carry 4 exact decimals (x.xx * 1.10): the merged
    # price lane is DECIMAL(16,4) on BOTH sides so no cast ever rounds —
    # a (12,2) re-cast would hit engine-specific tie-rounding (Spark
    # HALF_UP vs DuckDB round-half-even) on the .xx5 boundary.
    ten_pct = F.lit("1.10").cast("decimal(3,2)")
    price4 = "decimal(16,4)"
    target = t["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        money("o_totalprice").cast(price4).alias("o_totalprice"),
    )
    updates = target.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * ten_pct).cast(price4).alias("o_totalprice"),
    )
    inserts = target.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    source = updates.unionByName(inserts)
    s = source.select(
        F.col("o_orderkey").alias("s_key"),
        F.col("o_orderstatus").alias("s_status"),
        F.col("o_totalprice").alias("s_price"),
    )
    merged = (
        target.join(s, F.col("o_orderkey") == F.col("s_key"), "full_outer")
        .select(
            F.coalesce(F.col("o_orderkey"), F.col("s_key")).alias("key"),
            F.coalesce(F.col("s_status"), F.col("o_orderstatus")).alias("status"),
            F.coalesce(F.col("s_price"), F.col("o_totalprice")).alias("price"),
            F.when(F.col("o_orderkey").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("ins"),
            F.when(
                F.col("o_orderkey").isNotNull() & F.col("s_key").isNotNull(), F.lit(1)
            ).otherwise(F.lit(0)).alias("upd"),
        )
    )
    return merged.groupBy("status").agg(
        F.count(F.lit(1)).cast("int").alias("n_rows"),
        stable_sum(F.col("price")).alias("total_price"),
        F.sum("ins").cast("int").alias("n_inserted"),
        F.sum("upd").cast("int").alias("n_updated"),
        (F.count(F.lit(1)) - F.sum("ins") - F.sum("upd")).cast("int").alias("n_carried"),
    )


# Join-size sketch: keys kept per side. k=128 exercises the proper-
# sketch regime at sf0.01 (15k orderkeys >> k) while sf0.001's smaller
# key sets still exceed k; the exact branch is exercised by the
# random-probe fixture's tiny key domain.
JOIN_SKETCH_K = 128
_H32_RANGE = 1 << 32


def join_size_estimate(
    t: dict[str, "DataFrame"],
    k: int = JOIN_SKETCH_K,
) -> DataFrame:
    """Sketch-based JOIN CARDINALITY estimation — the optimizer
    statistic that decides broadcast-vs-shuffle and partition counts
    BEFORE paying for a 100 TB fact⋈fact shuffle:

        |A ⋈ B| = Σ_{common keys} f_A(key) · f_B(key)

    estimated from per-side KMV key sketches (the theta_daily_overlap
    machinery pointed at join planning): per side, aggregate per-key
    frequencies (partial-agg shuffle — the only key-scale stage), keep
    the k keys with the smallest portable hash (TakeOrderedAndProject:
    per-partition k-row heaps, driver merge — O(k) whatever the key
    count), then sum f_A·f_B over SAMPLED common keys below
    theta = min(theta_A, theta_B) and scale by 2^32/theta. Because both
    sides sample keys with the SAME hash, common keys are sampled
    together (correlated sampling — a uniform row sample of each side
    would almost never sample the same key twice and systematically
    miss the join).

    Everything up to the estimate is exact integer arithmetic; the
    estimate is one double chain from exact integers (KMV/HLL
    discipline) — so the oracle reproduces the ESTIMATE bit-for-bit.
    The exact join size rides along as the evaluation column, computed
    key-grain (Σ f_A·f_B over the full frequency join) — at 100 TB that
    eval leg is itself a distinct-key-scale join and is what this
    operator exists to avoid paying blind.
    """
    from mapreduce_rs_spark.operators.materialize import materialize

    # Each frequency table feeds three consumers (its sketch, the exact
    # eval join, the key count) and each sketch feeds two (theta, the
    # sampled sum) — materialize all four or Catalyst re-runs the
    # key-scale aggregate per consumer (measured: 6 TakeOrdered / 10
    # exchanges before, 2 / 4 after; the sketches are k-row frames, so
    # their checkpoints are trivial).
    fa = materialize(
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("f_a")),
    )
    fb = materialize(
        t["orders"]
        .groupBy(F.col("o_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("f_b")),
    )

    def sketch(freq: DataFrame, fcol: str) -> DataFrame:
        from mapreduce_rs_spark.functions.hashing import h32

        return materialize(
            freq.select(
                "key", fcol, h32(F.col("key").cast("string")).alias("h")
            )
            .orderBy("h", "key")
            .limit(k),
        )

    sk_a = sketch(fa, "f_a")
    sk_b = sketch(fb, "f_b")

    def theta_of(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("kth_h")
        ).select(
            F.when(F.col("n_sk") >= k, F.col("kth_h"))
            .otherwise(F.lit(_H32_RANGE))
            .alias(name)
        )

    theta = (
        theta_of(sk_a, "theta_a")
        .crossJoin(theta_of(sk_b, "theta_b"))
        .select(F.least("theta_a", "theta_b").alias("theta"))
    )
    sampled = (
        sk_a.select("key", "f_a", "h")
        .join(sk_b.select("key", "f_b"), "key")
        .crossJoin(F.broadcast(theta))
        .where(F.col("h") < F.col("theta"))
        .agg(
            F.count(F.lit(1)).alias("n_common_sampled"),
            F.coalesce(F.sum(F.col("f_a") * F.col("f_b")), F.lit(0))
            .cast("long")
            .alias("sampled_join_rows"),
        )
    )
    exact = (
        fa.join(fb, "key")
        .agg(F.sum(F.col("f_a") * F.col("f_b")).cast("long").alias("exact_join_rows"))
    )
    counts = fa.agg(F.count(F.lit(1)).cast("long").alias("n_keys_a")).crossJoin(
        fb.agg(F.count(F.lit(1)).cast("long").alias("n_keys_b"))
    )
    return (
        counts.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(sampled))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_keys_a",
            "n_keys_b",
            "theta",
            "n_common_sampled",
            "sampled_join_rows",
            (
                F.col("sampled_join_rows") * F.lit(float(_H32_RANGE)) / F.col("theta")
            ).alias("est_join_rows"),
            "exact_join_rows",
        )
    )


# Benford expected first-digit shares, quantized to integer nano-units
# (round(log10(1 + 1/d) * 1e9)) in PYTHON at import time, so Spark and
# the DuckDB oracle receive the SAME integer literals — no cross-engine
# log10 evaluation ever happens (float-determinism toolbox: an expected
# value from a formula → ship it as an integer literal).
BENFORD_NANO = {
    d: round(__import__("math").log10(1.0 + 1.0 / d) * 1_000_000_000)
    for d in range(1, 10)
}


def benford_digit_audit(t: dict[str, DataFrame]) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law — the classic fraud/synthetic-data audit, here as a one-scan
    data-quality operator.

    The digit is extracted from the DECIMAL(12,2) string form (money
    discipline: the cast is lossless, and decimal->string renders
    identically in Spark and DuckDB, unlike raw double formatting), via
    the first ``[1-9]`` match so sub-1 values skip leading zeros.

    Float discipline: ``share`` is ONE division of exact integers;
    ``expected`` is an integer literal (BENFORD_NANO) divided by 1e9;
    ``delta_n9`` is pure integer arithmetic — n·1e9 div total minus the
    literal — so the audit verdict column is exact and
    partition-invariant. n·1e9 needs BIGINT headroom: safe to ~9.2e9
    rows, beyond any per-table count here; document, don't widen.

    Scale: map-side partial agg onto 9 digit keys — the only hash
    shuffle moves ≤9·P rows. The grand total comes from an
    unpartitioned window OVER THE 9-ROW COUNTS frame (one
    SinglePartition exchange of 9 rows), not a second aggregate —
    an ``agg`` consumer would re-derive the whole scan subtree and
    read orders twice (measured: 2 scans → 1). ONE linear scan, no
    skew possible (9 keys, combiner collapses everything).
    """
    from pyspark.sql import Window

    digit = F.regexp_extract(money("o_totalprice").cast("string"), "[1-9]", 0)
    counts = (
        t["orders"]
        .select(digit.cast("int").alias("digit"))
        .where(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    expected = F.create_map(
        *[F.lit(x) for d, nano in BENFORD_NANO.items() for x in (d, nano)]
    )
    total = F.sum("n").over(Window.partitionBy()).cast("long")
    return counts.select(
        "digit",
        "n",
        total.alias("total"),
        expected[F.col("digit")].alias("exp_n9"),
    ).select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
        (F.col("exp_n9").cast("double") / F.lit(1_000_000_000.0)).alias("expected"),
        (F.expr("n * 1000000000 div total") - F.col("exp_n9")).cast("long").alias(
            "delta_n9"
        ),
    )


TARGET_ENC_M = 50  # m-estimate pseudo-count


def target_encoding_nations(
    t: dict[str, DataFrame], m: int = TARGET_ENC_M
) -> DataFrame:
    """Smoothed target encoding of customer nation by order value — the
    categorical-feature encoder for tabular ML, with m-estimate
    shrinkage toward the global mean so rare categories don't memorize
    noise:  enc = (sum + m·global_mean) / (n + m).

    Float discipline: the shrinkage formula is restated as one division
    of EXACT integers by cross-multiplication (the vocab_coverage
    pattern) — numerator sum_cents·g_n + m·g_sum_cents and denominator
    (n+m)·g_n are DECIMAL(38,0) products of exact decimal cent sums
    (money discipline), each cast to double once (exact-integer →
    nearest-double is deterministic in both engines), then ONE division
    and one exact /100. ``weight_bp`` (the shrinkage weight n/(n+m) in
    basis points) is pure integer arithmetic. Headroom: ~1e13 cents ·
    1e10 orders = 1e23 ≪ 1e38 — DECIMAL(38,0) survives 100 TB where
    BIGINT (9.2e18) would overflow.

    Scale: orders⋈customer is the one big join (equi-join on custkey —
    at 100 TB both sides shuffle, co-bucketing applies); nation
    broadcasts; the agg lands on 25 nation keys and the global sums
    ride a SinglePartition window over that 25-row frame (the
    benford_digit_audit trick — no second scan).
    """
    per = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(money("o_totalprice")) * 100)
            .cast("decimal(38,0)")
            .alias("sum_cents"),
        )
    )
    w_all = Window.partitionBy()
    g = per.select(
        "nation",
        "n_orders",
        "sum_cents",
        F.sum("n_orders").over(w_all).cast("decimal(38,0)").alias("g_n"),
        F.sum("sum_cents").over(w_all).cast("decimal(38,0)").alias("g_sum"),
    )
    num = (F.col("sum_cents") * F.col("g_n") + m * F.col("g_sum")).cast("double")
    den = (
        (F.col("n_orders") + m).cast("decimal(38,0)") * F.col("g_n")
    ).cast("double")
    return g.select(
        "nation",
        "n_orders",
        (F.col("sum_cents").cast("double") / F.col("n_orders") / 100.0).alias(
            "raw_avg"
        ),
        (num / den / 100.0).alias("enc_value"),
        F.expr(f"n_orders * 10000 div (n_orders + {m})")
        .cast("long")
        .alias("weight_bp"),
    )


SKEW_HOT_FACTOR = 2  # a key is "hot" when freq · n_keys > factor · n_rows


def key_skew_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Join-key skew diagnostics for the three workhorse fact keys —
    the statistic that decides SALTING vs AQE skew-join vs plain
    shuffle before paying for a 100 TB join. Per key: row/key counts,
    the hottest key's frequency, and how many keys (and what row
    share) exceed ``SKEW_HOT_FACTOR``× the mean frequency.

    The hot-key predicate is INTEGER cross-multiplication
    (freq·n_keys > factor·n_rows — never freq > factor·avg with a
    float avg); ``avg_freq`` is one division of exact counts.
    Headroom: freq·n_keys ≤ n_rows·n_keys ~ 1e10·1e10 overflows
    BIGINT at extreme scale — the comparison casts both sides to
    DECIMAL(38,0) (exact, branch-free).

    Scale: ONE frequency aggregate per key (the only key-scale
    shuffle, map-side partials), materialized once and consumed by the
    1-row totals and the hot-key filter; everything downstream is
    broadcast-sized.
    """
    from mapreduce_rs_spark.operators.materialize import materialize

    def profile(df: DataFrame, col: str, label: str) -> DataFrame:
        freq = materialize(
            df.groupBy(F.col(col).alias("k")).agg(
                F.count(F.lit(1)).cast("long").alias("f")
            ),
        )
        totals = freq.agg(
            F.sum("f").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("f").cast("long").alias("max_freq"),
        )
        hot = (
            freq.crossJoin(F.broadcast(totals))
            .where(
                F.col("f").cast("decimal(38,0)") * F.col("n_keys")
                > F.lit(SKEW_HOT_FACTOR) * F.col("n_rows").cast("decimal(38,0)")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_hot_keys"),
                F.coalesce(F.sum("f"), F.lit(0)).cast("long").alias("hot_rows"),
            )
        )
        return totals.crossJoin(F.broadcast(hot)).select(
            F.lit(label).alias("key_name"),
            "n_rows",
            "n_keys",
            "max_freq",
            (F.col("n_rows").cast("double") / F.col("n_keys")).alias("avg_freq"),
            F.expr("max_freq * 10000 div n_rows").cast("long").alias("top1_share_bp"),
            "n_hot_keys",
            F.expr("hot_rows * 10000 div n_rows").cast("long").alias("hot_rows_share_bp"),
        )

    return (
        profile(t["lineitem"], "l_orderkey", "lineitem.l_orderkey")
        .unionByName(profile(t["lineitem"], "l_partkey", "lineitem.l_partkey"))
        .unionByName(profile(t["orders"], "o_custkey", "orders.o_custkey"))
    )


def dq_rule_violations(t: dict[str, DataFrame]) -> DataFrame:
    """Rules-driven data-quality audit over DOMAIN/RANGE/CONSISTENCY
    rules — the complement of ``referential_audit`` (which owns the FK
    edges): non-positive money, out-of-domain status codes, rate
    columns outside [0, 1], future dates, and the documents table's
    n_chars/text consistency invariant.

    Scale shape: ALL of a table's rules evaluate in ONE scan — a
    single aggregate emits every rule's violation count, then
    ``stack`` unpivots counts to rows (8 rules ≠ 8 scans; adding a
    rule costs one more conditional sum, not a pass over 100 TB).
    Counts are exact integers; ``viol_bp`` is integer basis points.
    """

    def tbl(df: DataFrame, table: str, rules: list[tuple[str, str]]) -> DataFrame:
        agg = df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.coalesce(F.sum(F.expr(cond).cast("long")), F.lit(0))
                .cast("long")
                .alias(f"v{i}")
                for i, (_, cond) in enumerate(rules)
            ],
        )
        stack = ", ".join(f"'{name}', v{i}" for i, (name, _) in enumerate(rules))
        return agg.selectExpr(
            f"stack({len(rules)}, {stack}) AS (rule, n_violations)", "n"
        ).select(
            F.lit(table).alias("table_name"),
            "rule",
            F.col("n").cast("long").alias("n_checked"),
            "n_violations",
            F.expr("n_violations * 10000 div n").cast("long").alias("viol_bp"),
        )

    return (
        tbl(
            t["orders"],
            "orders",
            [
                ("totalprice_nonpositive", "o_totalprice <= 0"),
                ("orderstatus_domain", "o_orderstatus NOT IN ('O', 'F', 'P')"),
                (
                    "orderdate_future",
                    "o_orderdate > TIMESTAMP '1998-12-31 00:00:00'",
                ),
            ],
        )
        .unionByName(
            tbl(
                t["lineitem"],
                "lineitem",
                [
                    ("quantity_nonpositive", "l_quantity <= 0"),
                    ("discount_range", "l_discount < 0 OR l_discount > 1"),
                    ("tax_range", "l_tax < 0 OR l_tax > 1"),
                ],
            )
        )
        .unionByName(
            tbl(
                t["documents"],
                "documents",
                [("n_chars_mismatch", "n_chars <> length(text)")],
            )
        )
        .unionByName(
            tbl(t["events"], "events", [("value_negative", "value < 0")])
        )
    )


TRIPLE_MIN_ORDERS = 2


def frequent_triples(
    t: dict[str, DataFrame], min_orders: int = TRIPLE_MIN_ORDERS
) -> DataFrame:
    """Frequent 3-itemsets over the order basket — the level the
    copurchase_pairs operator stops short of, and the a-priori step a
    recommender's rule miner runs next.

    Triple generation (round-5 rewrite, shared basket aggregate): ONE
    exchange on l_orderkey builds each order's sorted distinct part set
    (``graph.order_baskets``); ascending triples (p1 < p2 < p3) explode
    NARROWLY from each basket — per order the fan-out is C(items, 3),
    bounded by items-per-order (TPC-H caps at 7 → ≤ 35 rows per order),
    so total work is LINEAR in lineitems, never polynomial in parts
    (the bounded-blocking discipline of every pair/triple path in this
    repo; the former chained self-equi-joins emitted the identical
    triple multiset but shuffled the order-part projection three
    times). ``support_bp`` is integer basis points of total orders (a
    1-row broadcast).

    The expansion is THREE chained posexplode/explode Generate
    operators (round-6 rewrite), not a triple-nested transform/flatten
    HOF: interpreted HOFs execute the closure per element outside
    whole-stage codegen — 2.2x slower over the identical 16M-triple
    multiset at sf1.0 (4.6 s HOF vs 2.0 s Generate chain).
    """
    from mapreduce_rs_spark.operators.graph import order_baskets

    baskets = order_baskets(t["lineitem"])
    lvl1 = baskets.select(F.col("ps"), F.posexplode("ps").alias("i", "part_a"))
    lvl2 = lvl1.select(
        "part_a", F.expr("slice(ps, i + 2, size(ps))").alias("rest")
    ).select("part_a", F.col("rest"), F.posexplode("rest").alias("j", "part_b"))
    lvl3 = lvl2.select(
        "part_a",
        "part_b",
        F.explode(F.expr("slice(rest, j + 2, size(rest))")).alias("part_c"),
    )
    triples = (
        lvl3.groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .where(F.col("n_orders") >= min_orders)
    )
    total = t["orders"].agg(F.count(F.lit(1)).cast("long").alias("total_orders"))
    return triples.crossJoin(F.broadcast(total)).select(
        "part_a",
        "part_b",
        "part_c",
        "n_orders",
        F.expr("n_orders * 10000 div total_orders").cast("long").alias("support_bp"),
    )


BOOT_B = 32  # bootstrap replicates
# Poisson(1) CDF thresholds quantized to the h32 range in PYTHON at
# import (float-determinism toolbox: probability constants ship as
# integer literals — no exp() evaluates in either engine). Multiplicity
# k is assigned where draw < T[k]; the tail collapses to 5.
_POISSON_CDF = [
    0.36787944117144233,  # P(X<=0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
]
POISSON_T = [round(p * 4294967296) for p in _POISSON_CDF]


def bootstrap_ci_mean(t: dict[str, DataFrame], b: int = BOOT_B) -> DataFrame:
    """Bootstrap confidence interval for the mean order value — the
    uncertainty quantification a metrics pipeline attaches to every
    point estimate, via the POISSON BOOTSTRAP (Chamandy et al.): each
    replicate resamples every row with multiplicity ~ Poisson(1),
    which needs no global row count or coordination — the
    distributed-bootstrap formulation.

    Fully deterministic resampling: row r's multiplicity in replicate
    j comes from the portable hash draw h32(orderkey|j) against
    integer-quantized Poisson CDF thresholds (POISSON_T — computed in
    Python, shipped as literals), so every engine, partitioning, and
    retry draws the SAME resamples — the property rand() could never
    give. Replicate sums are exact integer cents; each replicate mean
    is ONE division; the CI bounds are the EXTREME order statistics of
    the replicate means — plain min/max, no rank window (no float
    accumulation across replicates anywhere). Degenerate replicates
    whose multiplicities all draw 0 are dropped explicitly on both
    sides (P ≈ 0.37^n each — unreachable off probe-sized tables).

    Scale: the ×b expansion is a narrow generate (no shuffle of the
    expansion — map-side partial aggs collapse it to b·P rows); state
    after the replicate agg is b rows. At 100 TB, b=32 replicate sums
    is exactly how production systems bootstrap (resampling the data
    32× through one scan).
    """
    from mapreduce_rs_spark.functions.hashing import h32

    draws = (
        t["orders"]
        .select(
            (money("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("o_orderkey").cast("string").alias("okey"),
        )
        .select(
            "cents",
            "okey",
            F.explode(F.array([F.lit(j) for j in range(b)])).alias("rep"),
        )
        .select(
            "cents",
            "rep",
            h32(
                F.concat(F.col("okey"), F.lit("|"), F.col("rep").cast("string"))
            ).alias("draw"),
        )
    )
    m = F.lit(5)
    for k in range(len(POISSON_T) - 1, -1, -1):
        m = F.when(F.col("draw") < POISSON_T[k], F.lit(k)).otherwise(m)
    reps = (
        draws.select("rep", "cents", m.alias("m"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("m") * F.col("cents")).cast("long").alias("s"),
            F.sum("m").cast("long").alias("n"),
        )
        # A replicate whose multiplicities ALL draw 0 has no resampled
        # rows — it carries no mean (and its 0/0 NULL would rank
        # differently across engines: Spark sorts NULLS FIRST asc,
        # DuckDB NULLS LAST — review finding). Drop it explicitly on
        # BOTH sides; P(drop) ≈ 0.37^n per replicate, so on any real
        # table every replicate survives and values are unchanged.
        .where(F.col("n") > 0)
        .select(
            "rep",
            (F.col("s").cast("double") / (F.col("n") * 100).cast("double")).alias(
                "rep_mean"
            ),
        )
    )
    # The CI bounds are the extreme order statistics of the replicate
    # means — i.e. plain min/max, no rank window needed (an inner
    # percentile would need the rank form; the 1st/bth don't).
    bounds = reps.agg(
        F.min("rep_mean").alias("ci_lo"),
        F.max("rep_mean").alias("ci_hi"),
    )
    point = t["orders"].agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            (F.sum(money("o_totalprice")) * 100).cast("decimal(38,0)").cast("double")
            / (F.count(F.lit(1)) * 100).cast("double")
        ).alias("mean_value"),
    )
    return point.crossJoin(F.broadcast(bounds)).select(
        "n_orders",
        "mean_value",
        "ci_lo",
        "ci_hi",
        F.lit(b).cast("int").alias("n_replicates"),
    )


WEIGHTED_P_BP = 5000  # weighted median


def weighted_median_price(
    t: dict[str, DataFrame], p_bp: int = WEIGHTED_P_BP
) -> DataFrame:
    """QUANTITY-weighted median of the unit extended price per return
    flag — the weighted-percentile primitive (an unweighted median of
    line prices over-represents small orders; weighting by quantity
    answers "the median price a UNIT shipped at").

    Exact and float-free: prices as integer cents, quantities as
    integer units (both lossless decimal casts); rows sort by
    (cents, orderkey, linenumber) per group, and the weighted median
    is the FIRST row whose cumulative weight crosses the threshold —
    the crossing test is integer cross-multiplication
    (cum_w·10⁴ ≥ p_bp·total_w), and the reported price is one division
    by a literal.

    Scale: one exchange on the group key serves the sort window and
    the cumulative sum (the sessionize shape); the per-group sort is
    the documented percentile trade — percentile_approx swaps in at
    real scale, this exact form stays the oracle contract.
    """
    li = t["lineitem"].select(
        "l_returnflag",
        (money("l_extendedprice") * 100).cast("long").alias("cents"),
        # centi-units: exact for ANY 2-decimal quantity (the scale
        # cancels in the cross-multiplied threshold)
        (money("l_quantity") * 100).cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wsort = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    wall = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "cents",
        "w",
        F.sum("w").over(wsort).alias("cum_w"),
        F.sum("w").over(wall).alias("total_w"),
    )
    crossed = cum.where(F.col("cum_w") * 10000 >= p_bp * F.col("total_w"))
    first = Window.partitionBy("l_returnflag").orderBy("cum_w", "cents")
    return (
        crossed.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            (F.col("cents").cast("double") / 100.0).alias("weighted_median_price"),
            (F.col("total_w").cast("double") / 100.0).alias("total_units"),
        )
    )


def asof_customer_maturity(t: dict[str, DataFrame]) -> DataFrame:
    """Two-TABLE point-in-time (as-of) join via the union trick: for
    every shipped lineitem, how many orders its customer had placed by
    ship time — revenue by customer maturity, the repeat-purchase curve.

    The scale lesson is the formulation: the naive expression is a
    time-range join (lineitem ⋈ orders ON same customer AND
    o_orderdate <= l_shipdate), which explodes on active customers
    (every line pairs with the customer's whole history). Instead, dim
    version rows (each order advancing the customer's running order
    count) and probe rows (shipped lines) are UNIONED into one stream,
    sorted per customer on the deterministic total order
    (ts, src, keys) — version rows sort BEFORE probes at equal ts, so
    "as of" is inclusive — and an IGNORE-NULLS last_value window
    carries the newest version forward onto each probe. ONE custkey
    exchange replaces the range join; state per key is one version row.
    (asof_last_click_before_purchase is the single-stream special case;
    this is the general dimension-lookup form a 100 TB fact table
    needs.)

    Money is exact decimal; the maturity key and counts are integers;
    avg_line_revenue is the stable_sum/count division. Output is one
    row per maturity level (orders_so_far).
    """
    orders, li = t["orders"], t["lineitem"]
    w_dim = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("pts"),
        F.lit(0).alias("src"),
        F.col("o_orderkey").alias("k1"),
        F.lit(0).alias("k2"),
        F.row_number().over(w_dim).cast("long").alias("orders_so_far"),
        F.lit(None).cast(MONEY).alias("rev"),
    )
    probe = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_shipdate").alias("pts"),
            F.lit(1).alias("src"),
            F.col("l_orderkey").alias("k1"),
            F.col("l_linenumber").cast("long").alias("k2"),
            F.lit(None).cast("long").alias("orders_so_far"),
            (money("l_extendedprice") * (F.lit(1).cast(RATE) - rate("l_discount"))).alias("rev"),
        )
    )
    w_carry = (
        Window.partitionBy("cust")
        .orderBy("pts", "src", "k1", "k2")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = dim.unionByName(probe).withColumn(
        "so_far", F.last("orders_so_far", ignorenulls=True).over(w_carry)
    )
    return (
        carried.where(F.col("src") == 1)
        .groupBy(F.coalesce("so_far", F.lit(0)).alias("orders_so_far"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            stable_sum(F.col("rev")).alias("total_revenue"),
            stable_avg(F.col("rev")).alias("avg_line_revenue"),
        )
    )
