"""The durable mode of operators/materialize.py: a session with a
checkpoint directory (``spark.checkpoint.dir``) materializes every
intermediate as parquet under a fresh directory there, and must return
rows identical to the default localCheckpoint mode.

A SparkContext cannot unset its checkpoint directory once set, so the
durable session lives in ONE child Python process for the whole module:
started on first use, it runs one case per request and reports the
case's rows and the parquet directories the case left. The shared test
session stays in default mode and computes the reference rows."""

from __future__ import annotations

import itertools
import os
import pickle
import re
import subprocess
import sys
import traceback

import pytest

from mapreduce_rs_spark.sources.catalog import load_table, load_tables
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
_DONE = "durable-case-done"


def _minhash_lsh_pairs(spark, sf):
    from mapreduce_rs_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load_table(spark, sf, "documents"))


def _dedup_components(spark, sf):
    from mapreduce_rs_spark.operators.graph import dedup_components

    return dedup_components(load_table(spark, sf, "documents"))


def _semdedup(spark, sf):
    from mapreduce_rs_spark.operators.similarity import semdedup

    return semdedup(load_table(spark, sf, "embeddings"))


def _bfs_hops(spark, sf):
    from mapreduce_rs_spark.operators.graph import bfs_hops

    return bfs_hops(load_tables(spark, sf))


def _cms_word_counts(spark, sf):
    from mapreduce_rs_spark.operators.text_analysis import cms_word_counts

    return cms_word_counts(load_table(spark, sf, "documents"))


def _theta_daily_overlap(spark, sf):
    from mapreduce_rs_spark.operators.events import theta_daily_overlap

    return theta_daily_overlap(load_tables(spark, sf))


def _bigram_surprisal_scores(spark, sf):
    from mapreduce_rs_spark.operators.text_analysis import bigram_surprisal_scores

    return bigram_surprisal_scores(load_table(spark, sf, "documents"))


def _join_size_estimate(spark, sf):
    from mapreduce_rs_spark.operators.relational import join_size_estimate

    return join_size_estimate(load_tables(spark, sf))


def _materialize_jobs(spark, sf):
    """One row: how many Spark jobs a materialize(spark.range(10)) starts,
    counted through a job group once the listener bus has drained."""
    from mapreduce_rs_spark.operators.materialize import materialize

    sc, group = spark.sparkContext, "materialize-jobs"
    sc.setJobGroup(group, "materialize(spark.range(10))")
    try:
        materialize(spark.range(10))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    return spark.createDataFrame([(n,)], "n_jobs int")


# case -> (builder, sort key, fewest materialize() calls the case makes)
CASES = {
    "minhash_lsh_pairs": (_minhash_lsh_pairs, ("doc_a", "doc_b"), 1),
    # signatures, CC edges, init labels, >= 1 round
    "dedup_components": (_dedup_components, ("doc_id",), 4),
    "semdedup": (_semdedup, ("centroid_id",), 1),
    # edges + >= 1 round
    "bfs_hops": (_bfs_hops, ("partkey",), 2),
    "cms_word_counts": (_cms_word_counts, ("word",), 1),
    # daily users + daily sketches
    "theta_daily_overlap": (_theta_daily_overlap, ("day_a",), 2),
    # pair tf + unigram counts
    "bigram_surprisal_scores": (_bigram_surprisal_scores, ("doc_id",), 2),
    # both frequency tables + both sketches
    "join_size_estimate": (_join_size_estimate, ("n_keys_a",), 4),
    "materialize_jobs": (_materialize_jobs, ("n_jobs",), 1),
}


def run_case(spark, name: str, sf: str) -> list[tuple]:
    build, keys, _ = CASES[name]
    return [tuple(r) for r in build(spark, sf).orderBy(*keys).collect()]


def _parquet_dirs(root: str) -> set[str]:
    return {
        d for d in os.listdir(root)
        if os.path.exists(os.path.join(root, d, "_SUCCESS"))
    }


def serve(checkpoint_dir: str) -> None:
    """Child process: one durable-mode session (the shared test
    session's confs plus ``spark.checkpoint.dir``); each stdin line
    ``<case> <sf dir> <result file>`` pickles (rows, new parquet dirs)
    or ("error", traceback) to the result file, then prints _DONE."""
    from mapreduce_rs_spark.session import get_spark

    spark = get_spark(
        "tests-durable",
        **{"spark.sql.shuffle.partitions": "8", "spark.checkpoint.dir": checkpoint_dir},
    )
    root = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    for line in sys.stdin:
        name, sf, out = line.split()
        before = _parquet_dirs(root)
        try:
            result = (run_case(spark, name, sf), sorted(_parquet_dirs(root) - before))
        except Exception:
            result = ("error", traceback.format_exc())
        with open(out, "wb") as f:
            pickle.dump(result, f)
        print(_DONE, flush=True)


@pytest.fixture(scope="module")
def durable(tmp_path_factory):
    work = tmp_path_factory.mktemp("durable")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys; from tests.test_materialize import serve; serve(sys.argv[1])",
            str(work / "checkpoints"),
        ],
        cwd=ROOT,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    calls = itertools.count()

    def run(name: str, sf: str) -> tuple[list[tuple], list[str]]:
        out = work / f"result-{next(calls)}.pkl"
        proc.stdin.write(f"{name} {sf} {out}\n")
        proc.stdin.flush()
        for line in proc.stdout:
            if line.strip() == _DONE:
                break
        else:
            raise RuntimeError(f"durable-mode child exited with {proc.wait()}")
        with open(out, "rb") as f:
            rows, dirs = pickle.load(f)
        if rows == "error":
            raise AssertionError(f"{name} failed in durable mode:\n{dirs}")
        return rows, dirs

    yield run
    proc.stdin.close()
    proc.wait(timeout=120)


def _check(spark, durable, name: str, sf: str) -> None:
    rows, dirs = durable(name, sf)
    assert rows == run_case(spark, name, sf)
    # every materialize() call writes its own fresh <uuid4 hex> directory
    assert len(dirs) >= CASES[name][2], dirs
    assert all(re.fullmatch(r"[0-9a-f]{32}", d) for d in dirs), dirs


def test_minhash_lsh_pairs_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "minhash_lsh_pairs", sf_dir)


def test_dedup_components_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "dedup_components", sf_dir)


def test_semdedup_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "semdedup", sf_dir)


def test_bfs_hops_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "bfs_hops", sf_dir)


def test_cms_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "cms_word_counts", sf_dir)


def test_theta_daily_overlap_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "theta_daily_overlap", sf_dir)


def test_bigram_surprisal_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "bigram_surprisal_scores", sf_dir)


def test_join_size_estimate_parquet_path_byte_identical(spark, sf_dir, durable):
    _check(spark, durable, "join_size_estimate", sf_dir)


def test_durable_path_byte_identical_at_sf01(spark, durable):
    """The durable path at BENCH scale, not just the test SF:
    minhash_lsh_pairs and the iterative CC labels at sf0.1. (The
    measured wall deltas live in SCALE.md round 5: +23% / +32% for
    executor-loss-safe intermediates.)"""
    _check(spark, durable, "minhash_lsh_pairs", SF01)
    _check(spark, durable, "dedup_components", SF01)


def test_durable_materialize_starts_only_the_write_job(sf_dir, durable):
    """The read-back declares the schema it just wrote, so a durable
    materialize starts one job (the parquet write) and no footer
    schema-inference job."""
    rows, dirs = durable("materialize_jobs", sf_dir)
    assert rows == [(1,)]
    assert len(dirs) == 1, dirs
