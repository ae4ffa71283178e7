"""Hand-sized semantics tests for the round-3 additions that aren't
covered by test_graph.py: two-phase skyline, market-basket lift, and
bigram PMI. The oracle-parity suite checks these against DuckDB on the
real tables; these tests pin the SEMANTICS on inputs small enough to
verify by hand (dominance edge cases, exact lift values, PMI signs)."""

from __future__ import annotations

import math

from mapreduce_rs_spark.operators.relational import copurchase_pairs, skyline_parts
from mapreduce_rs_spark.operators.text_analysis import skipgram_pmi


def _parts(spark, rows):
    return spark.createDataFrame(rows, ["p_partkey", "p_retailprice", "p_size"])


def test_skyline_dominance_edge_cases(spark):
    # Point set (price, size):
    #   (1.0, 10) — skyline (cheapest, big)
    #   (2.0, 20) — skyline (bigger, pricier)
    #   (2.0, 15) — dominated by (2.0, 20): equal price, strictly smaller
    #   (3.0, 20) — dominated by (2.0, 20): strictly pricier, equal size
    #   (1.5, 10) — dominated by (1.0, 10): strictly pricier, equal size
    #   (2.0, 20) dup part — BOTH parts at the skyline point are reported
    parts = _parts(
        spark,
        [
            (1, 1.0, 10),
            (2, 2.0, 20),
            (3, 2.0, 15),
            (4, 3.0, 20),
            (5, 1.5, 10),
            (6, 2.0, 20),
        ],
    )
    got = {r["p_partkey"] for r in skyline_parts({"part": parts}).collect()}
    assert got == {1, 2, 6}


def test_skyline_matches_bruteforce_on_random_points(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, round(rng.uniform(1, 9), 2), rng.randint(1, 50)) for i in range(300)
    ]
    parts = _parts(spark, rows)

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in rows
        )

    expected = {p[0] for p in rows if not dominated(p)}
    # n_buckets=5 forces multi-point buckets so the local phase actually
    # prunes (and must not over-prune).
    got = {
        r["p_partkey"]
        for r in skyline_parts({"part": parts}, n_buckets=5).collect()
    }
    assert got == expected


def test_copurchase_lift_exact(spark):
    # 4 orders: {1,2}, {1,2}, {1,3}, {2}. Pair (1,2) together twice.
    li = spark.createDataFrame(
        [
            (100, 1), (100, 2),
            (101, 1), (101, 2),
            (102, 1), (102, 3),
            (103, 2),
        ],
        ["l_orderkey", "l_partkey"],
    )
    rows = copurchase_pairs({"lineitem": li}, min_orders=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["part_a"], r["part_b"], r["n_ab"], r["n_a"], r["n_b"]) == (1, 2, 2, 3, 3)
    # lift = n_ab * N / (n_a * n_b) = 2*4/9
    assert r["lift"] == 8.0 / 9.0


def test_bigram_pmi_exact_values(spark):
    # Corpus: T_u = 14 unigrams, T_b = 10 bigrams.
    # "zig zag" always collocated (4x, marginals 4 and 4);
    # "zag aa" occurs 2x (marginals 4 and 3).
    docs = spark.createDataFrame(
        [
            (1, "zig zag aa", "en"),
            (2, "zig zag aa bb", "en"),
            (3, "zig zag bb aa", "en"),
            (4, "zig zag bb", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        (r["w1"], r["w2"]): r for r in skipgram_pmi(docs, window=1, min_pair=1).collect()
    }
    zz = got[("zig", "zag")]
    assert zz["n_xy"] == 4 and zz["n_x"] == 4 and zz["n_y"] == 4
    # pmi = ln(n_xy) + 2 ln(T_u) - ln(T_b) - ln(n_x) - ln(n_y)
    expected_zz = math.log(4) + 2 * math.log(14) - math.log(10) - 2 * math.log(4)
    assert abs(zz["pmi"] - expected_zz) < 1e-12
    za = got[("zag", "aa")]
    expected_za = (
        math.log(2) + 2 * math.log(14) - math.log(10) - math.log(4) - math.log(3)
    )
    assert abs(za["pmi"] - expected_za) < 1e-12
    # The perfectly-collocated pair is the most informative one.
    assert zz["pmi"] == max(r["pmi"] for r in got.values())


def test_skipgram_pmi_window_semantics(spark):
    # "a b c" yields distance-1 pairs (a b), (b c) and the distance-2
    # pair (a c) — the window-2 skip-gram set.
    docs = spark.createDataFrame(
        [(i, "a b c", "en") for i in range(3)], ["doc_id", "text", "lang"]
    )
    got = {
        (r["w1"], r["w2"]): r["n_xy"]
        for r in skipgram_pmi(docs, min_pair=1).collect()
    }
    assert got == {("a", "b"): 3, ("b", "c"): 3, ("a", "c"): 3}


def test_rfm_scores_on_separated_customers(spark):
    """Five customers with cleanly separated recency/frequency/monetary
    ladders must score (r, f, m) = (k, k, k) for rank k — the semantic
    golden the oracle-parity check can't provide (both engines agreeing
    on the wrong quintiles would still be parity-green)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mapreduce_rs_spark.operators.relational import rfm_segments

    base = dt.date(2024, 6, 1)
    rows = []
    okey = 0
    # customer c: frequency = c orders, last order (5-c)*30 days before
    # base, each order worth c*1000.00 -> best customer = 5 on all axes.
    for c in range(1, 6):
        for i in range(c):
            okey += 1
            rows.append(
                (okey, c, base - dt.timedelta(days=(5 - c) * 30 + i), float(c) * 1000.0, "1-URGENT")
            )
    orders = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"]
    )
    got = {
        (r["r_score"], r["f_score"], r["m_score"]): (r["n_customers"], r["total_monetary"])
        for r in rfm_segments({"orders": orders}).collect()
    }
    assert got == {
        (k, k, k): (1, float(k) * 1000.0 * k) for k in range(1, 6)
    }
