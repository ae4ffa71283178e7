"""The generalized map/reduce UDF surface (reference ops 4 & 10)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mapreduce_rs_spark.operators.mapreduce import map_reduce


@pytest.fixture(scope="module")
def lines_df(spark):
    return spark.createDataFrame(
        [("a b a",), ("b c",), ("a",)], ["value"]
    )


def _concat_mapper(rec):
    # one None-keyed pair per record: null keys must form one group
    return [(w, w.upper()) for w in rec.split()] + [(None, "-")]


def _concat_reducer(key, values):
    # Per-key value concatenation — a genuinely non-algebraic reducer.
    return "".join(values)


def test_reducer_path(spark, lines_df):
    words = Counter(w for (line,) in lines_df.collect() for w in line.split())
    words[None] = lines_df.count()
    golden = {k: ("-" if k is None else k.upper()) * n for k, n in words.items()}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    cases = [
        ("default", saved, None),
        # one reduce partition read in 2-row Arrow batches: the None and
        # "a" groups (3 values each) straddle batch boundaries
        ("group_spans_batches", "2", 1),
        # far more reduce partitions than keys: most arrive empty
        ("empty_partitions", saved, 50),
    ]
    try:
        for case, max_batch, num_partitions in cases:
            spark.conf.set(conf, max_batch)
            df = map_reduce(lines_df, _concat_mapper, _concat_reducer, num_partitions=num_partitions)
            rows = [(r["key"], r["value"]) for r in df.collect()]
            assert len(rows) == len(golden), case
            assert dict(rows) == golden, case
    finally:
        spark.conf.set(conf, saved)


def test_combiner_path_is_jvm_side(lines_df):
    def mapper(rec):
        return [(w, "1") for w in rec.split()]

    df = map_reduce(lines_df, mapper, combiner=F.count("*").cast("string"))
    out = {r["key"]: r["value"] for r in df.collect()}
    assert out == {"a": "3", "b": "2", "c": "1"}
    # The reduce side must be a built-in aggregate (partial agg applies),
    # not a Python UDF stage.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan


def test_reducer_path_is_one_sorted_shuffle(lines_df):
    # The reduce is the reference's sorted reduce task: no per-key pandas
    # group stage, and exactly one shuffle on key whether or not the
    # caller pins the reduce partition count.
    shuffles = r"Exchange hashpartitioning\(key#\d+, (\d+)\), (\w+)"
    pinned = map_reduce(lines_df, _concat_mapper, _concat_reducer, num_partitions=4)
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert re.findall(shuffles, plan) == [("4", "REPARTITION_BY_NUM")]
    free = map_reduce(lines_df, _concat_mapper, _concat_reducer)
    plan = free._jdf.queryExecution().executedPlan().toString()
    # REPARTITION_BY_COL leaves the partition count to AQE's coalescing
    assert [origin for _, origin in re.findall(shuffles, plan)] == ["REPARTITION_BY_COL"]


def test_explicit_partitioning(lines_df):
    def mapper(rec):
        return [(w, "1") for w in rec.split()]

    df = map_reduce(lines_df, mapper, combiner=F.count("*").cast("string"), num_partitions=4)
    assert df.count() == 3


def test_requires_exactly_one_reduce_spec(lines_df):
    with pytest.raises(ValueError):
        map_reduce(lines_df, lambda r: [], None)
    with pytest.raises(ValueError):
        map_reduce(lines_df, lambda r: [], lambda k, v: "", combiner=F.count("*"))
