"""The one way the engine materializes an intermediate.

MinHash signatures, IVF assignments, and per-round CC labels are each
read >= 2x by their consumers; without materialization Catalyst expands
every consumer into its own copy of the producing subtree (the round-1
double-compute disease, PLANS.md). Every such intermediate goes through
``materialize(df)``, so one deployment setting decides how all of them
are stored: Spark's own checkpoint directory (``spark.checkpoint.dir``
or ``SparkContext.setCheckpointDir``).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Materialize an intermediate that downstream plans read >= 2x.

    * No checkpoint directory (the default): ``localCheckpoint`` —
      in-session, no filesystem I/O, right for local mode / tests /
      single-session benches; blocks are unreplicated, so not
      executor-loss-safe.
    * A checkpoint directory is set: write parquet to a fresh
      ``<checkpoint dir>/<uuid4 hex>`` and re-read it with the written
      schema (no inference job) — the cluster path: on a shared
      filesystem the intermediate survives executor loss (SCALE.md
      round 5 measured its cost at +23% / +32%).

    Both paths cut lineage; results are byte-identical either way
    (tests/test_materialize.py proves it per operator).
    """
    root = df.sparkSession.sparkContext.getCheckpointDir()
    if root is None:
        return df.localCheckpoint()
    path = os.path.join(root, uuid.uuid4().hex)
    df.write.parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)
