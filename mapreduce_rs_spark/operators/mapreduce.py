"""The generalized map/reduce surface — the reference's pluggable-UDF API,
re-expressed for Spark.

Reference extension points (SURVEY.md §2 ops 4, 10): a map UDF
``Fn(&str) -> Vec<KeyValue>`` dispatched per input file
(``src/mr/worker.rs:37-39``) and a reduce UDF
``Fn(&str, Vec<&str>) -> String`` dispatched per key group
(``src/mr/worker.rs:42-47``). Jobs are (map, reduce, partition counts)
tuples (``src/bin/mrcoordinator.rs:11-20``).

Here a job is ``map_reduce(df, mapper, reducer)``:

* ``mapper``: pandas.Series[str] -> iterator of (key, value) frames —
  executed with ``mapInPandas`` (Arrow-batched, 10-100x faster than
  row-at-a-time Python UDFs; the sanctioned slow path for genuinely
  imperative logic).
* ``reducer``: (key, list[value]) -> str — executed as the reference's
  reduce task (``src/mr/worker.rs:199-222``): route pairs by key,
  sort each reduce partition by key, then one ``mapInPandas`` pass per
  partition walks the runs of equal keys and calls ``reducer`` once per
  run.

Scale note: the reduce task holds one key group plus one Arrow batch; a
group that straddles batches is carried over, never re-collected, so a
partition of any size streams. One group is still one Python list, like
the reference's per-key ``Vec<&str>`` — fine for bounded groups, wrong
for skewed billion-row keys. For algebraic aggregations pass
``combiner=`` built-in expressions instead and the whole job stays
JVM-side with map-side partial aggregation; the UDF path exists for the
non-algebraic remainder.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame

MapFn = Callable[[str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


def map_reduce(
    df: DataFrame,
    mapper: MapFn,
    reducer: ReduceFn | None = None,
    *,
    input_col: str = "value",
    combiner: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Run a classic (map, reduce) job over one string column.

    ``mapper`` has the reference's exact signature shape: one input
    record string -> list of (key, value) string pairs. ``reducer`` folds
    one key's values to a single string. If ``combiner`` (a Spark
    aggregate expression over column ``value``) is given instead of
    ``reducer``, the reduce phase is JVM-side with partial aggregation —
    the fast path the reference never had (no combiner,
    ``src/mr/worker.rs:149-161``).
    """
    if (reducer is None) == (combiner is None):
        raise ValueError("exactly one of reducer= or combiner= is required")

    def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows: list[tuple[str, str]] = []
            for record in batch[input_col]:
                rows.extend(mapper(record))
            yield pd.DataFrame(rows, columns=["key", "value"])

    # One-small-file rescue (r07 one-task sweep): the reference's own
    # trap is map_n == file count (src/bin/mrcoordinator.rs:13-16) —
    # one input file means one map task no matter the worker count.
    # This surface must not inherit it: spread the records when the
    # scan has fewer splits than cores (plan-time no-op at real scale).
    from mapreduce_rs_spark.operators.partitioning import ensure_parallelism

    pairs = ensure_parallelism(df).mapInPandas(run_map, schema="key string, value string")
    if num_partitions is not None:
        # Mirrors the reference's explicit reduce_n routing
        # (hash(key) % reduce_n, src/mr/worker.rs:133-137,151); normally
        # leave it to AQE.
        pairs = pairs.repartition(num_partitions, "key")

    if combiner is not None:
        return pairs.groupBy("key").agg(combiner.alias("value"))

    def run_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # The partition is sorted by key, so each key's values are one
        # contiguous run. The open run (key, values) is carried across
        # Arrow batches and flushed when the next key starts or the input
        # ends. Null keys arrive as None and None == None, so they form
        # one group, as under groupBy.
        key, values = None, []
        for batch in batches:
            if batch.empty:
                continue
            keys = batch["key"].to_numpy(dtype=object)
            vals = batch["value"].tolist()
            starts = (np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist()
            done = []
            for lo, hi in zip([0, *starts], [*starts, len(keys)]):
                if values and keys[lo] != key:
                    done.append((key, reducer(key, values)))
                    values = []
                key = keys[lo]
                values.extend(vals[lo:hi])
            if done:
                yield pd.DataFrame(done, columns=["key", "value"])
        if values:
            yield pd.DataFrame([(key, reducer(key, values))], columns=["key", "value"])

    if num_partitions is None:
        # the reduce task's hash(key) routing, coalescable by AQE
        pairs = pairs.repartition("key")
    return pairs.sortWithinPartitions("key").mapInPandas(
        run_reduce, schema="key string, value string"
    )


def wc_map(record: str | None) -> list[tuple[str, str]]:
    """The reference's ``wc::map`` (``src/mr/function.rs:9-16``): strip
    ``[^\\w\\s]``, whitespace-split, emit (word, "1"). A NULL record is
    a document with no tokens, as on the JVM paths and in the oracle."""
    import re

    if record is None:
        return []
    cleaned = re.sub(r"[^\w\s]", "", record, flags=re.ASCII)
    return [(w, "1") for w in cleaned.split()]


def wc_reduce(key: str, values: list[str]) -> str:
    """The reference's ``wc::reduce`` (``src/mr/function.rs:18-20``):
    COUNT of the value list (length, not sum)."""
    return str(len(values))


def rdd_word_count(df: DataFrame, input_col: str = "text") -> DataFrame:
    """The literal RDD lineage of the reference job — ``flatMap(map_fn)
    → reduceByKey(+) → sortByKey`` — the classic MapReduce word count
    (reference ``src/mr/function.rs:9-20``) expressed at the RDD level.

    This is a deliberate API-parity demonstration (the reference's
    stated surface is "RDD/DataFrame map/reduce transformations"), NOT
    the recommended path: Catalyst cannot see through RDD lambdas, so
    there's no predicate pushdown, no whole-stage codegen, and the
    Python lambdas run row-at-a-time. ``reduceByKey`` does combine
    map-side (the combiner the reference lacks), and ``sortByKey`` is
    the range-partitioned total sort of reference op 12. Result is
    oracle-checked identical to the declarative flagship.

    One-small-file rescue (r07 one-task sweep): one input file = one
    RDD partition = one flatMap task — the reference's map_n == file
    count trap verbatim; spread first (plan-time no-op at scale)."""
    from mapreduce_rs_spark.operators.partitioning import ensure_parallelism

    counted = (
        ensure_parallelism(df.select(input_col)).rdd
        .flatMap(lambda row: wc_map(row[0]))
        .map(lambda kv: (kv[0], 1))
        .reduceByKey(lambda a, b: a + b)
        .sortByKey()
    )
    return df.sparkSession.createDataFrame(counted, schema="word string, cnt long")


def word_count_mapreduce(df: DataFrame, input_col: str = "text") -> DataFrame:
    """Word count through the UDF surface — proves the op-4/op-10 hooks
    produce results identical to the declarative flagship (and to the
    DuckDB oracle), minus the reference's dropped-last-group bug."""
    out = map_reduce(df, wc_map, wc_reduce, input_col=input_col)
    return out.select(out.key.alias("word"), out.value.cast("long").alias("cnt"))
