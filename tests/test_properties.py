"""Hypothesis property tests: the engine's answers must match a pure-
Python reference implementation on arbitrary corpora — the test the
reference repo never had (its manual eyeball check couldn't catch the
dropped-last-group bug; property tests would have, instantly)."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_rs_spark.operators.text_analysis import word_count

# Text with tokens, punctuation, unicode-ish noise, whitespace runs.
line = st.text(
    alphabet=st.sampled_from("abc XY1_ ,.!\t"),
    min_size=0,
    max_size=40,
)
corpora = st.lists(line, min_size=1, max_size=8)


def python_word_count(lines: list[str]) -> dict[str, int]:
    counts: Counter[str] = Counter()
    for text in lines:
        counts.update(re.sub(r"[^\w\s]", "", text, flags=re.ASCII).split())
    return dict(counts)


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
# r13: 15 -> 5 examples (each example is a full Spark job; the default
# tier pays ~1.1 s per example, and the three-engine random-corpus
# parity probe below covers the same tokenizer surface on 200 more
# random docs in ONE batch).
@given(lines=corpora)
def test_word_count_matches_python_reference(spark, lines):
    df = spark.createDataFrame([(t,) for t in lines], ["text"])
    got = {r["word"]: r["cnt"] for r in word_count(df).collect()}
    assert got == python_word_count(lines)


def test_three_engine_tokenizer_parity_on_random_corpus(spark):
    """Random printable-ASCII corpus (seeded) plus one NULL document
    through all THREE engines — Spark column expressions, the DuckDB
    oracle SQL, and the Python UDF surface (wc_map). Fixed test corpora
    can hide a regex-dialect divergence; 200 random docs over the full
    printable range cannot. Compares word counts and every document's
    ordered token array (a NULL text has no tokens on every engine).
    One batch per engine (not per-example Spark jobs), so it's fast."""
    import random
    import string

    import duckdb

    from mapreduce_rs_spark.functions.text import word_tokens
    from mapreduce_rs_spark.operators.mapreduce import wc_map
    from mapreduce_rs_spark.plans.registry import CLEAN_SQL, SPLIT_SQL, TOKENS_SQL

    rng = random.Random(2024)
    alphabet = string.printable  # letters, digits, punctuation, whitespace
    docs = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(200)
    ] + [None]

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id int, text string")
    spark_counts = {r["word"]: r["cnt"] for r in word_count(df).collect()}
    spark_tokens = {
        r["doc_id"]: r["tk"]
        for r in df.select("doc_id", word_tokens("text").alias("tk")).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(docs)))

    duck = con.execute(
        f"""
        SELECT word, count(*) AS cnt FROM (
            SELECT unnest(string_split_regex(
                regexp_replace(text, '{CLEAN_SQL}', '', 'g'), '{SPLIT_SQL}')) AS word
            FROM documents
        ) t WHERE word <> '' GROUP BY word
        """
    ).fetchall()
    duck_counts = {w: c for w, c in duck}
    duck_tokens = dict(con.execute(f"SELECT doc_id, {TOKENS_SQL} FROM documents").fetchall())

    py_tokens = {i: [w for w, _ in wc_map(t)] for i, t in enumerate(docs)}
    py_counts = Counter(w for tk in py_tokens.values() for w in tk)

    assert spark_counts == duck_counts
    assert spark_counts == dict(py_counts)
    assert spark_tokens == duck_tokens
    assert {i: tk or [] for i, tk in spark_tokens.items()} == py_tokens


def test_date_functions_parity_on_random_timestamps(spark):
    """Random timestamps 1900-2100 through the date-function family in
    both engines — the same randomized-probe method that caught the \\s
    dialect divergence, applied to calendar arithmetic (ISO dow/week,
    quarter, month boundaries, day-of-year). Guards the oracle contract
    far outside the fixtures' 1995-1998 range."""
    import datetime
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(7)
    base = datetime.datetime(1900, 1, 1)
    stamps = [
        base + datetime.timedelta(days=rng.randrange(0, 73000), seconds=rng.randrange(86400))
        for _ in range(300)
    ]
    df = spark.createDataFrame(list(enumerate(stamps)), ["id", "ts"])
    sp = (
        df.select(
            "id",
            (F.weekday("ts") + 1).alias("iso_dow"),
            F.quarter("ts").alias("q"),
            F.date_trunc("month", "ts").alias("m_start"),
            F.last_day("ts").cast("timestamp").alias("m_end"),
            F.weekofyear("ts").alias("iso_week"),
            F.dayofyear("ts").alias("doy"),
        )
        .toPandas()
        .set_index("id")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, ts TIMESTAMP)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(stamps)))
    du = (
        con.execute(
            """
            SELECT id, CAST(isodow(ts) AS INT) AS iso_dow,
                   CAST(quarter(ts) AS INT) AS q,
                   date_trunc('month', ts) AS m_start,
                   CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS m_end,
                   CAST(weekofyear(ts) AS INT) AS iso_week,
                   CAST(dayofyear(ts) AS INT) AS doy
            FROM t"""
        )
        .fetchdf()
        .set_index("id")
    )
    for col in sp.columns:
        diffs = [(i, sp[col][i], du[col][i]) for i in sp.index if sp[col][i] != du[col][i]]
        assert not diffs, f"{col}: {diffs[:3]}"


def test_rounding_and_string_parity_on_random_values(spark):
    """Random-probe two more expression families: rounding (including
    exact-half ties like ±2.5 where HALF_UP vs banker's rounding would
    diverge) and string functions (including non-ASCII case mapping) —
    both engines agree everywhere these showcases rely on them."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(3)
    vals = [2.5, -2.5, 3.5, -3.5, 0.5, -0.5, 1.25, -1.25, 0.125, 2.675, -2.675]
    vals += [round(rng.uniform(-1000, 1000), rng.choice([1, 2, 3, 4])) for _ in range(200)]
    df = spark.createDataFrame(list(enumerate(vals)), ["id", "x"])
    sp = (
        df.select(
            "id",
            F.round("x", 0).alias("r0"),
            F.round("x", 2).alias("r2"),
            F.floor("x").alias("fl"),
            F.ceil("x").alias("ce"),
        )
        .toPandas()
        .set_index("id")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    du = (
        con.execute(
            "SELECT id, round(x,0) AS r0, round(x,2) AS r2, "
            "CAST(floor(x) AS BIGINT) AS fl, CAST(ceil(x) AS BIGINT) AS ce FROM t"
        )
        .fetchdf()
        .set_index("id")
    )
    for col in sp.columns:
        diffs = [(i, vals[i], sp[col][i], du[col][i]) for i in sp.index if sp[col][i] != du[col][i]]
        assert not diffs, f"{col}: {diffs[:4]}"

    docs = [
        "".join(rng.choice("aA zZ09_!,é漢\t") for _ in range(rng.randrange(0, 30)))
        for _ in range(150)
    ]
    df2 = spark.createDataFrame(list(enumerate(docs)), ["id", "s"])
    sp2 = (
        df2.select(
            "id",
            F.upper("s").alias("u"),
            F.length("s").alias("n"),
            F.substring("s", 2, 5).alias("sub"),
            F.trim("s").alias("tr"),
        )
        .toPandas()
        .set_index("id")
    )
    con.execute("CREATE TABLE s(id INT, s VARCHAR)")
    con.executemany("INSERT INTO s VALUES (?, ?)", list(enumerate(docs)))
    du2 = (
        con.execute(
            "SELECT id, upper(s) AS u, CAST(length(s) AS INT) AS n, "
            "substring(s, 2, 5) AS sub, trim(s) AS tr FROM s"
        )
        .fetchdf()
        .set_index("id")
    )
    for col in sp2.columns:
        diffs = [(i, repr(docs[i])) for i in sp2.index if sp2[col][i] != du2[col][i]]
        assert not diffs, f"{col}: {diffs[:4]}"


def test_json_extraction_parity_including_malformed(spark):
    """JSON-path extraction on random documents INCLUDING malformed
    ones. Dialect difference found by this probe: DuckDB's
    json_extract_string THROWS on invalid JSON where Spark's
    get_json_object returns NULL — the oracle therefore guards with
    json_valid (see json_props_agg); this test pins that the guarded
    form matches Spark everywhere, bad rows included."""
    import json
    import random

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    rng = random.Random(11)

    def rand_props() -> str:
        d = {}
        if rng.random() < 0.9:
            d["k"] = rng.randrange(-1000, 1000)
        if rng.random() < 0.5:
            d["s"] = "".join(rng.choice("ab e") for _ in range(rng.randrange(0, 8)))
        return json.dumps(d)

    docs = [rand_props() for _ in range(100)]
    docs += ["{}", "not json", "", '{"k": 1.5}', '{"k": "12"}', '{"k": true}', "{broken"]
    df = spark.createDataFrame(list(enumerate(docs)), ["id", "props"])
    sp = (
        df.select("id", F.get_json_object("props", "$.k").alias("k_raw"))
        .toPandas()
        .set_index("id")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(docs)))
    du = (
        con.execute(
            "SELECT id, CASE WHEN json_valid(props) "
            "THEN json_extract_string(props, '$.k') END AS k_raw FROM t"
        )
        .fetchdf()
        .set_index("id")
    )
    for i in sp.index:
        a, b = sp["k_raw"][i], du["k_raw"][i]
        a_n = a is None or (isinstance(a, float) and pd.isna(a))
        b_n = b is None or (isinstance(b, float) and pd.isna(b))
        assert a_n == b_n and (a_n or a == b), f"id={i} doc={docs[i]!r}: {a!r} vs {b!r}"


def test_png_synthesis_math_parity_on_random_text(spark):
    """The png_decode_stats oracle reconstructs decoded-pixel sums from
    raw text with DuckDB's per-character ascii() — a NEW expression
    family this round (byte arithmetic on strings). Probe it on random
    printable-ASCII text of random lengths: the full chain (synthesize
    PNG → zlib → decode → pixel sum) must equal the oracle's pure-text
    tiling arithmetic for every document. Randomized because the fixed
    corpus only exercises one length/content distribution; substr
    off-by-ones or tiling-remainder bugs live at the edges (len 1,
    len == n_pixels, n_pixels % len == 0)."""
    import random

    import duckdb

    from mapreduce_rs_spark.operators.multimodal import png_decode_stats
    from mapreduce_rs_spark.plans.registry import QUERIES

    rng = random.Random(17)
    printable = [chr(c) for c in range(0x20, 0x7F)]
    docs = []
    for i in range(120):
        # even doc_ids only (the query's contract); lengths hit the
        # tiling edges: 1, exact multiples, primes, long
        n = rng.choice([1, 2, 3, 7, 12, 16, 17, 48, 191, 192, 193, 400])
        docs.append((2 * i, "".join(rng.choice(printable) for _ in range(n))))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["width"], r["height"], r["n_pixels"], r["sum_intensity"])
        for r in png_decode_stats(df).collect()
    }

    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(docs, columns=["doc_id", "text"]))
    oracle_sql = QUERIES["png_decode_stats"].oracle
    expected = {
        row[0]: (row[1], row[2], row[3], row[4])
        for row in con.execute(oracle_sql).fetchall()
    }
    assert got == expected
    assert len(got) == 120


def test_interval_arithmetic_parity_on_boundary_timestamps(spark):
    """q21's lateness predicate is `l_shipdate > o_orderdate + INTERVAL
    60 DAYS` — a timestamp-plus-interval compare evaluated by BOTH
    engines. Random timestamp pairs clustered AT the 60-day boundary
    (sub-second deltas around exactly +60d) probe where a dialect
    divergence (calendar vs fixed-duration day, DST handling, rounding)
    would flip the boolean. Both sessions are UTC-pinned, so a day must
    mean exactly 86400 s in both engines on every probed value."""
    import datetime
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(21)
    base = datetime.datetime(1995, 1, 1)
    pairs = []
    for i in range(300):
        order = base + datetime.timedelta(
            days=rng.randrange(0, 2400), seconds=rng.randrange(86400)
        )
        if i % 3 == 0:
            # exactly on the boundary, and ±1 second around it
            delta = datetime.timedelta(days=60, seconds=rng.choice([-1, 0, 1]))
        else:
            delta = datetime.timedelta(
                days=rng.randrange(0, 120), seconds=rng.randrange(86400)
            )
        pairs.append((i, order, order + delta))
    df = spark.createDataFrame(pairs, ["id", "o_ts", "s_ts"])
    sp = (
        df.select(
            "id",
            (F.col("s_ts") > F.col("o_ts") + F.expr("INTERVAL 60 DAYS")).alias("late"),
            F.datediff("s_ts", "o_ts").alias("dd"),
        )
        .toPandas()
        .set_index("id")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, o_ts TIMESTAMP, s_ts TIMESTAMP)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", pairs)
    du = (
        con.execute(
            """
            SELECT id, s_ts > o_ts + INTERVAL 60 DAY AS late,
                   CAST(date_diff('day', CAST(o_ts AS DATE), CAST(s_ts AS DATE)) AS INT) AS dd
            FROM t"""
        )
        .fetchdf()
        .set_index("id")
    )
    for col in ["late", "dd"]:
        diffs = [
            (i, sp[col][i], du[col][i]) for i in sp.index if sp[col][i] != du[col][i]
        ]
        assert not diffs, f"{col}: {diffs[:5]}"


def test_decimal_product_widening_parity_on_random_money(spark):
    """q9's profit is disc_price - retailprice*factor*qty — a
    DECIMAL(12,2)*(3,2)*(12,2) triple product (result scale 6), a wider
    combination than q1's charge. Random exact-2-decimal money values
    probe that Spark's and DuckDB's decimal widening rules produce
    bit-identical doubles after the final cast, including sums across
    signs (profit can be negative)."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(9)
    rows = [
        (
            i,
            round(rng.uniform(900.0, 105000.0), 2),   # l_extendedprice
            round(rng.uniform(0.0, 0.10), 2),          # l_discount
            round(rng.uniform(900.0, 2000.0), 2),      # p_retailprice
            float(rng.randrange(1, 51)),               # l_quantity
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["id", "price", "disc", "retail", "qty"])
    profit = (
        F.col("price").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("disc").cast("decimal(3,2)"))
        - F.col("retail").cast("decimal(12,2)")
        * F.lit(0.90).cast("decimal(3,2)")
        * F.col("qty").cast("decimal(12,2)")
    )
    sp = df.select("id", profit.cast("double").alias("p")).toPandas().set_index("id")
    sp_sum = df.agg(F.sum(profit).cast("double")).collect()[0][0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, price DOUBLE, disc DOUBLE, retail DOUBLE, qty DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    expr = (
        "CAST(price AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(disc AS DECIMAL(3,2)))"
        " - CAST(retail AS DECIMAL(12,2)) * CAST(0.90 AS DECIMAL(3,2)) * CAST(qty AS DECIMAL(12,2))"
    )
    du = con.execute(f"SELECT id, CAST({expr} AS DOUBLE) AS p FROM t").fetchdf().set_index("id")
    du_sum = con.execute(f"SELECT CAST(sum({expr}) AS DOUBLE) FROM t").fetchone()[0]

    import struct

    diffs = [
        (i, sp["p"][i], du["p"][i])
        for i in sp.index
        if struct.pack("<d", sp["p"][i]) != struct.pack("<d", du["p"][i])
    ]
    assert not diffs, f"per-row: {diffs[:5]}"
    assert struct.pack("<d", sp_sum) == struct.pack("<d", du_sum)


def test_repetition_and_boilerplate_match_python_reference_on_random_corpus(spark):
    """Random-probe the round-4 signal family (per-doc gram frequency
    aggregates) against a pure-Python reference. Docs are word soup from
    a SMALL vocabulary — so token/bigram collisions actually occur —
    separated by random ASCII whitespace (incl. \\x0B) with punctuation
    injected, stressing tokenization edges and the frequency logic
    together. Ratios are double divisions of exact integers, so the
    comparison is exact equality, not isclose."""
    import random
    import re
    from collections import Counter

    from mapreduce_rs_spark.operators.text_analysis import (
        BOILERPLATE_MIN_DOCS,
        boilerplate_ngrams,
        repetition_signals,
    )

    rng = random.Random(41)
    vocab = ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "q1", "_u", "v", "w2"]
    ws = [" ", "\t", "\n", "\x0b", "\f", "\r", "  "]
    punct = ["", "", "", ".", ",", "!", "'"]

    def make_doc() -> str:
        n = rng.randrange(0, 25)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(vocab) + rng.choice(punct) + rng.choice(ws))
        return "".join(parts)

    from pyspark.sql import functions as F

    docs = [(i, make_doc()) for i in range(150)]
    df = spark.createDataFrame(docs, ["doc_id", "text"]).withColumn("lang", F.lit("en"))

    def py_tokens(t: str) -> list[str]:
        return re.sub(r"[^\w\s]", "", t, flags=re.ASCII).split()

    # --- repetition_signals reference ---
    exp_rep = {}
    for i, t in docs:
        toks = py_tokens(t)
        n = len(toks)
        if n == 0:
            exp_rep[i] = (0, None, None, None)
            continue
        c = Counter(toks)
        bi = [" ".join(toks[j : j + 2]) for j in range(n - 1)]
        cb = Counter(bi)
        exp_rep[i] = (
            n,
            float(n - len(c)) / n,
            float(max(c.values())) / n,
            (float(max(cb.values())) / len(bi)) if bi else None,
        )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["dup_token_ratio"],
            r["top_token_ratio"],
            r["top_bigram_ratio"],
        )
        for r in repetition_signals(df).collect()
    }
    assert got == exp_rep

    # --- boilerplate_ngrams reference ---
    grams_per_doc = {}
    dfreq: Counter = Counter()
    for i, t in docs:
        toks = py_tokens(t)
        grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        grams_per_doc[i] = grams
        dfreq.update(set(grams))
    boiler = {g for g, d in dfreq.items() if d >= BOILERPLATE_MIN_DOCS}
    exp_boil = {}
    for i, _ in docs:
        grams = grams_per_doc[i]
        nb = sum(1 for g in grams if g in boiler)
        exp_boil[i] = (
            len(grams),
            nb,
            (float(nb) / len(grams)) if grams else None,
        )
    got_b = {
        r["doc_id"]: (r["n_grams"], r["n_boilerplate"], r["boilerplate_ratio"])
        for r in boilerplate_ngrams(df).collect()
    }
    assert got_b == exp_boil
