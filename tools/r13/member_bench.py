#!/usr/bin/env python
"""Time a SUBSET of bench members (noop sink, N passes, per-pass times)
for A/B iterations — NOT the driver bench (bench.py stays the contract;
this mirrors its timed regions: operator form, gc before each member,
import-warmed Python pool, store members built outside the timer).

Usage:
  SPARK_GRAFT_SF_DIR=... python tools/r13/member_bench.py m1 m2 ... [--passes=N]
"""

from __future__ import annotations

import atexit
import gc
import json
import os
import shutil
import sys
import tempfile
import time

_REPO_ROOT = os.path.abspath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 2
    for a in sys.argv[1:]:
        if a.startswith("--passes="):
            passes = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from pyspark.sql import functions as F

    from mapreduce_rs_spark.plans.registry import QUERIES
    from mapreduce_rs_spark.session import get_spark
    from mapreduce_rs_spark.sources.catalog import load_table

    spark = get_spark("member_bench", **{"spark.sql.shuffle.partitions": cpus})

    EXTRA = {}
    if "knn_graph_admit_store" in names or "semdedup_admit_store" in names:
        from mapreduce_rs_spark.streaming.pipeline import (
            admitted_edges_from_store,
            build_graph_store,
            build_semdedup_store,
            semdedup_admit_batch,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        if "knn_graph_admit_store" in names:
            store_dir = tempfile.mkdtemp(prefix="mb_graph_store_")
            atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
            build_graph_store(
                spark, emb.where(F.col("vec_id") % 10 < 8), store_dir
            )

            def _admit_store_member(sp, sfd):
                batch = load_table(sp, sfd, "embeddings").where(
                    F.col("vec_id") % 10 >= 8
                ).select("vec_id", "embedding")
                return admitted_edges_from_store(batch, store_dir)

            EXTRA["knn_graph_admit_store"] = _admit_store_member
        if "semdedup_admit_store" in names:
            sd_store_dir = tempfile.mkdtemp(prefix="mb_semdedup_store_")
            atexit.register(shutil.rmtree, sd_store_dir, ignore_errors=True)
            build_semdedup_store(
                spark,
                emb.where(F.col("vec_id") % 10 < 8).select(
                    "vec_id", "embedding"
                ),
                sd_store_dir,
            )

            def _semdedup_admit_member(sp, sfd):
                batch = load_table(sp, sfd, "embeddings").where(
                    F.col("vec_id") % 10 >= 8
                ).select("vec_id", "embedding")
                decisions = semdedup_admit_batch(batch, sd_store_dir)
                return (
                    decisions.groupBy(
                        F.col("cid").cast("int").alias("centroid_id")
                    ).agg(
                        F.count(F.lit(1)).cast("long").alias("n_ingested"),
                        F.sum("is_dropped").cast("long").alias("n_dropped"),
                    )
                )

            EXTRA["semdedup_admit_store"] = _semdedup_admit_member

    def run_full_plan(name: str) -> float:
        gc.collect()
        fn = EXTRA.get(name) or QUERIES[name].fn
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - start, 3)

    def warm_python_pool() -> None:
        def ident(it):
            import mapreduce_rs_spark.operators.mapreduce  # noqa: F401
            import mapreduce_rs_spark.operators.multimodal  # noqa: F401

            yield from it

        spark.range(0, 32, 1, 32).mapInPandas(ident, "id long").write.format(
            "noop"
        ).mode("overwrite").save()

    run_full_plan("wordcount")  # JVM/codegen/footer warm-up
    out: dict[str, list[float]] = {name: [] for name in names}
    for p in range(passes):
        warm_python_pool()
        for name in names:
            spark.sparkContext.setJobDescription(f"{name}:p{p}")
            out[name].append(run_full_plan(name))
            spark.sparkContext.setJobDescription(None)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "cpus": cpus,
                "passes": out,
                "best": {n: min(v) for n, v in out.items()},
                "best_total": round(sum(min(v) for v in out.values()), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
