"""Every oracle-checkable registry query vs DuckDB at sf0.001 — the local
replica of the driver's t2 correctness gate (which runs at sf0.01)."""

from __future__ import annotations

import pandas as pd
import pytest

from mapreduce_rs_spark.plans.registry import QUERIES, queries
from tests.parity import assert_frames_match, run_oracle

ORACLED = sorted(name for name, spec in QUERIES.items() if spec.oracle is not None)
DRIVER_FORM = queries()  # operator + presentation sort, what the driver runs


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, sf_dir, name):
    spark_pdf = DRIVER_FORM[name](spark, sf_dir).toPandas()
    oracle_pdf = run_oracle(QUERIES[name].oracle, sf_dir)
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_rows_only_queries_run(spark, sf_dir):
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            assert spec.fn(spark, sf_dir).count() >= 0, name


def test_ann_oracles_compose_the_knn_oracles(sf_dir):
    """The ann_* oracles evaluate exactly the rows the knn_* oracles
    return: ann_recall's hits per method are the per-query intersection
    of that tier's knn_* oracle rows with knn_bruteforce's, and
    ann_rank_fusion is RRF over the knn_lsh / knn_ivf oracle ranks."""
    from mapreduce_rs_spark.operators.similarity import RRF_K, RRF_SCALE

    knn = {
        method: run_oracle(QUERIES[name].oracle, sf_dir)
        for method, name in [
            ("exact", "knn_bruteforce"), ("lsh", "knn_lsh"), ("ivf", "knn_ivf"),
            ("ivf_mp2", "knn_ivf_multiprobe"), ("pq", "knn_pq"),
            ("ivfpq", "knn_ivfpq"), ("pca", "knn_pca"),
        ]
    }
    pairs = {m: set(zip(f["q_id"], f["vec_id"])) for m, f in knn.items()}
    recall = run_oracle(QUERIES["ann_recall"].oracle, sf_dir).set_index("method")
    assert sorted(recall.index) == sorted(m for m in knn if m != "exact")
    for method in recall.index:
        assert recall.loc[method, "n_hits"] == len(pairs[method] & pairs["exact"]), method
        assert recall.loc[method, "n_queries"] == knn["exact"]["q_id"].nunique(), method

    legs = pd.concat([knn["lsh"], knn["ivf"]])
    legs["rrf_micro"] = RRF_SCALE // (RRF_K + legs["rnk"])
    fused = (
        legs.groupby(["q_id", "vec_id"])
        .agg(n_tiers=("rnk", "size"), rrf_micro=("rrf_micro", "sum"))
        .reset_index()
        .sort_values(["q_id", "rrf_micro", "vec_id"], ascending=[True, False, True])
    )
    fused["fused_rank"] = fused.groupby("q_id").cumcount() + 1
    want = fused[fused["fused_rank"] <= 10].astype("int64")
    got = run_oracle(QUERIES["ann_rank_fusion"].oracle, sf_dir)[list(want.columns)]
    key = ["q_id", "fused_rank"]
    assert len(want) > 0
    assert (
        got.astype("int64").sort_values(key).reset_index(drop=True)
        .equals(want.sort_values(key).reset_index(drop=True))
    )
