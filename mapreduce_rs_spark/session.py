"""SparkSession factory with scale-conscious defaults.

The reference engine's execution knobs were argv integers (map_n, reduce_n,
worker_n — reference ``src/bin/mrcoordinator.rs:11-20``). Here the
equivalents are Spark confs, set once: shuffle parallelism, AQE (runtime
re-planning, skew-join splitting, partition coalescing), and a pinned UTC
session timezone so timestamp semantics match the DuckDB oracle.

On a real cluster the same confs apply; only ``master`` and memory sizing
change. Nothing in the engine assumes local mode.

Cold start. A fresh driver JVM spends most of its start-up loading and
verifying classes, so ``get_spark`` launches it against a dynamic
class-data-sharing archive (JEP 350), one per install, under
``$XDG_CACHE_HOME/spark-graft/`` (else ``~/.cache/spark-graft/``):
- The archive is keyed on the JDK (``java.home``, its ``release`` file
  and its ``lib/server`` listing, which holds the base archive the JVM
  checks), the ``$SPARK_HOME/jars`` listing (names, sizes, mtimes) and
  the driver heap.
- The first launch for a key dumps the classes its JVM loaded, at exit,
  to ``<key>.<pid>.tmp``; this process waits for that dump before it
  exits. The next launch publishes the finished temp as ``<key>.jsa``
  with ``os.replace``, deletes other temps and other keys' archives, and
  maps it. While another live process dumps the key, a launch goes
  without the archive rather than write a second one.
- A stale, truncated or garbage archive costs only the speed-up: the
  JVM's default ``-Xshare:auto`` ignores an archive it cannot map.
- JDK 17 refuses an archive whose classpath holds a non-empty directory,
  and Spark puts its conf dir on the classpath. A conf dir holding only
  ``*.template`` files is swapped for an empty one for the launch. A
  conf dir with a real config file, or any extra driver classpath, means
  a launch exactly as without the archive: user config is never hidden.
Delete the cache dir to clear the archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Defaults chosen for the local[/n/] test harness; on a 1000-executor
# cluster you would raise shuffle partitions to ~2-3x total cores (or rely
# on AQE coalescing from a high initial value, as we do here).
_DEFAULT_CONFS: dict[str, str] = {
    # Local mode = one JVM: driver memory is the only heap knob that
    # matters (default 1g would OOM wide aggregations well before the
    # bench SF). Static conf — applies only when this factory creates
    # the JVM, ignored on an already-running session.
    "spark.driver.memory": "16g",
    # Non-interactive engine runs: the web UI costs startup time and a
    # port per session and serves nothing here.
    "spark.ui.enabled": "false",
    # Deterministic timestamp comparisons vs the oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join handling,
    # broadcast-join demotion/promotion from runtime stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start higher than cores; AQE coalesces down. At 100 TB you'd set
    # this to O(10k) and let AQE right-size each stage.
    "spark.sql.shuffle.partitions": "64",
    # Arrow for any pandas_udf / mapInPandas path (the sanctioned slow
    # path); batch size tuned for wide binary/embedding columns.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast joins for bounded dims (region/nation/supplier are tiny
    # at every SF; customer/part are broadcastable well past sf100).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Input split sizing: keep scan partitions near executor-memory-safe
    # sizes; at 100 TB this is the knob that bounds per-task input.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}


# The JVMs this process launched that dump a class archive at exit.
_DUMPERS: list[subprocess.Popen] = []


def _archive_key(spark_home: str, heap: str) -> str:
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME")
        else shutil.which("java")
    )
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256(f"{java_home}\0{heap}\0".encode())
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    # lib/server holds the JVM's own base archive: a dynamic archive
    # dumped on top of another base archive is refused at every launch.
    for listed in (os.path.join(java_home, "lib", "server"), os.path.join(spark_home, "jars")):
        for name in sorted(os.listdir(listed)):
            st = os.stat(os.path.join(listed, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:16]


def _dumping(tmp_name: str) -> bool:
    """Whether the JVM writing ``<key>.<pid>.tmp`` may still be running."""
    field = tmp_name.split(".")[1]
    if not field.isdigit():
        return False
    if int(field) == os.getpid():
        return any(proc.poll() is None for proc in _DUMPERS)
    try:
        os.kill(int(field), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _class_archive(confs: dict[str, str]) -> tuple[str, str] | None:
    """(java option, empty conf dir) for a fresh driver JVM's class
    archive, or None to launch without one (see the module docstring)."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
        return None
    if confs.get("spark.driver.extraClassPath") or any(
        os.environ.get(v) for v in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
    ):
        return None
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(root, "spark-graft")
    empty_conf = os.path.join(cache, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    key = _archive_key(spark_home, confs["spark.driver.memory"])
    jsa = os.path.join(cache, f"{key}.jsa")
    tmps = [n for n in os.listdir(cache) if n.endswith(".tmp")]
    live = {n for n in tmps if _dumping(n)}
    if not os.path.exists(jsa):
        for name in tmps:
            if name.startswith(f"{key}.") and name not in live:
                with contextlib.suppress(FileNotFoundError):
                    os.replace(os.path.join(cache, name), jsa)
                    break
    for name in os.listdir(cache):
        if name.endswith((".tmp", ".jsa")) and name != f"{key}.jsa" and name not in live:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(cache, name))
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa}", empty_conf
    if any(n.startswith(f"{key}.") for n in live):
        return None
    return f"-XX:ArchiveClassesAtExit={os.path.join(cache, f'{key}.{os.getpid()}.tmp')}", empty_conf


def _await_dump(proc: subprocess.Popen) -> None:
    """At exit: end the JVM (it exits when its stdin closes) and wait
    while it writes its archive, so the temp is finished once this
    process's pid is gone."""
    if proc.poll() is None:
        proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=300)


def get_spark(app_name: str = "mapreduce-rs-spark", **extra_confs: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores),
    mirroring the bench harness contract. A call that launches the JVM
    appends the class-archive options to any
    ``spark.driver.extraJavaOptions`` the caller passes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # local[N, 2]: allow one task retry, the local-mode analog of the
    # cluster default (spark.task.maxFailures=4) and the engine-side
    # replacement for the reference's lease-based failure recovery
    # (src/mr/coordinator.rs:72-131) — a deterministic failure still
    # fails the job, a transient one is retried and the job completes
    # (tests/test_fault_tolerance.py injects exactly that).
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus},2]")
    confs = {**_DEFAULT_CONFS, **extra_confs}
    archive = None
    if SparkContext._gateway is None:  # this call launches the JVM
        with contextlib.suppress(OSError):  # e.g. a read-only cache dir
            archive = _class_archive(confs)
    if archive is not None:
        opts = [confs.get("spark.driver.extraJavaOptions"), archive[0], "-Xlog:cds*=off"]
        confs["spark.driver.extraJavaOptions"] = " ".join(filter(None, opts))
    for key, value in confs.items():
        builder = builder.config(key, value)
    caller_conf_dir = os.environ.get("SPARK_CONF_DIR")
    try:
        if archive is not None:
            os.environ["SPARK_CONF_DIR"] = archive[1]
        spark = builder.getOrCreate()
    finally:
        if caller_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = caller_conf_dir
    if archive is not None and archive[0].startswith("-XX:ArchiveClassesAtExit="):
        _DUMPERS.append(SparkContext._gateway.proc)
        atexit.register(_await_dump, SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
