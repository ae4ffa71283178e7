#!/usr/bin/env python
"""Capture .explain("formatted") for bench HEADLINE members (and any
extra registry queries named on argv) into plans/r13/<name>_<suffix>.txt.

Usage: python tools/r13/capture_plans.py <suffix> [name ...]
  suffix: "before" / "after" (file name tail)
  names:  default = every bench HEADLINE member (registry form; the two
          EXTRA bench members are captured via their bench closures)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

_REPO_ROOT = os.path.abspath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    import bench
    from mapreduce_rs_spark.plans.registry import QUERIES
    from mapreduce_rs_spark.session import get_spark

    spark = get_spark(
        "capture_plans",
        **{"spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"]},
    )

    names = sys.argv[2:] or list(bench.HEADLINE)
    out_dir = os.path.join(_REPO_ROOT, "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)

    # The two store-backed bench members need their standing artifacts;
    # build them the way bench.py does (outside any timing concern here).
    extra = {}
    if any(n in ("knn_graph_admit_store", "semdedup_admit_store") for n in names):
        import atexit
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from mapreduce_rs_spark.sources.catalog import load_table
        from mapreduce_rs_spark.streaming.pipeline import (
            admitted_edges_from_store,
            build_graph_store,
            build_semdedup_store,
            semdedup_admit_batch,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        store_dir = tempfile.mkdtemp(prefix="plan_graph_store_")
        atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
        build_graph_store(spark, emb.where(F.col("vec_id") % 10 < 8), store_dir)

        sd_store_dir = tempfile.mkdtemp(prefix="plan_semdedup_store_")
        atexit.register(shutil.rmtree, sd_store_dir, ignore_errors=True)
        build_semdedup_store(
            spark,
            emb.where(F.col("vec_id") % 10 < 8).select("vec_id", "embedding"),
            sd_store_dir,
        )

        def _admit_store_member(sp, sfd):
            batch = load_table(sp, sfd, "embeddings").where(
                F.col("vec_id") % 10 >= 8
            ).select("vec_id", "embedding")
            return admitted_edges_from_store(batch, store_dir)

        def _semdedup_admit_member(sp, sfd):
            batch = load_table(sp, sfd, "embeddings").where(
                F.col("vec_id") % 10 >= 8
            ).select("vec_id", "embedding")
            decisions = semdedup_admit_batch(batch, sd_store_dir)
            return (
                decisions.groupBy(F.col("cid").cast("int").alias("centroid_id"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_ingested"),
                    F.sum("is_dropped").cast("long").alias("n_dropped"),
                )
            )

        extra = {
            "knn_graph_admit_store": _admit_store_member,
            "semdedup_admit_store": _semdedup_admit_member,
        }

    for name in names:
        fn = extra.get(name) or QUERIES[name].fn
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        txt = buf.getvalue()
        print(
            f"{name}: exchanges={txt.count('Exchange ')} "
            f"smj={txt.count('SortMergeJoin')} bhj={txt.count('BroadcastHashJoin')} "
            f"shj={txt.count('ShuffledHashJoin')} "
            f"py={txt.count('EvalPython') + txt.count('MapInPandas')} -> {path}"
        )


if __name__ == "__main__":
    main()
