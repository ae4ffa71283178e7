"""The class-data-sharing launch path of ``session.get_spark``.

Each case launches a fresh driver JVM, so each runs in its own child
Python process (the ``tests/test_materialize.py`` child pattern), with
``XDG_CACHE_HOME`` pointed at a temp dir. The child reports what its
JVM got: a job's count, a system property, a Spark conf, its input
arguments and the ``.jsa`` files it maps (``/proc/<pid>/maps``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from mapreduce_rs_spark import session
from pyspark.find_spark_home import _find_spark_home

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = session._archive_key(_find_spark_home(), session._DEFAULT_CONFS["spark.driver.memory"])


def report(confs_json: str) -> None:
    """Child process: ``get_spark(**confs)``, then print one JSON line."""
    spark = session.get_spark("tests-cds", **json.loads(confs_json))
    jvm = spark._jvm
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/maps") as f:
        mapped = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
    print(json.dumps({
        "count": spark.range(10).count(),
        "probe": jvm.System.getProperty("graft.probe"),
        "marker": spark.conf.get("spark.graft.marker", None),
        "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "mapped": mapped,
    }))


def launch(cache, confs: dict[str, str] | None = None, conf_dir=None) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": str(cache)}
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from tests.test_session_cds import report; report(sys.argv[1])",
            json.dumps(confs or {}),
        ],
        cwd=ROOT,
        env=env,
        stdout=subprocess.PIPE,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def archive_args(result: dict) -> list[str]:
    return [a for a in result["args"] if "ArchiveClassesAtExit" in a or "SharedArchiveFile" in a]


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return tmp_path_factory.mktemp("cds-cache")


def test_second_launch_publishes_and_maps_the_archive(cache):
    """Mutant: a launch that never publishes the temp (or never passes
    ``SharedArchiveFile``) leaves the second JVM unmapped."""
    cds = cache / "spark-graft"
    first = launch(cache)
    assert first["count"] == 10
    [dump] = archive_args(first)
    assert dump.startswith(f"-XX:ArchiveClassesAtExit={cds}/{KEY}.") and dump.endswith(".tmp")
    # the child waited for its JVM to write the archive before it exited
    assert [str(p) for p in cds.glob("*.tmp")] == [dump.split("=", 1)[1]]
    assert not list(cds.glob("*.jsa"))
    assert not [m for m in first["mapped"] if m.startswith(str(cds))]

    second = launch(cache)
    assert second["count"] == 10
    assert archive_args(second) == [f"-XX:SharedArchiveFile={cds}/{KEY}.jsa"]
    assert f"{cds}/{KEY}.jsa" in second["mapped"]
    assert sorted(p.name for p in cds.iterdir()) == sorted(["conf", f"{KEY}.jsa"])


def test_garbage_archive_costs_only_the_speedup(tmp_path):
    """Mutant: launching with ``-Xshare:on`` (map the archive or die)
    fails the JVM on these bytes."""
    cds = tmp_path / "spark-graft"
    cds.mkdir()
    (cds / f"{KEY}.jsa").write_bytes(os.urandom(1024))
    result = launch(tmp_path)
    assert result["count"] == 10
    assert archive_args(result) == [f"-XX:SharedArchiveFile={cds}/{KEY}.jsa"]


def test_caller_java_options_are_merged(cache):
    """Mutant: a plain dict merge, in either order, drops one side's
    options: the caller's property or the engine's archive flag."""
    result = launch(cache, {"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
    assert result["probe"] == "1"
    assert len(archive_args(result)) == 1


def test_real_conf_dir_is_honoured_without_archive(cache, tmp_path):
    """Mutant: swapping every conf dir for the empty one hides the
    caller's ``spark-defaults.conf``."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.marker  from-conf-dir\n")
    cds = cache / "spark-graft"
    before = sorted(p.name for p in cds.iterdir()) if cds.exists() else []
    result = launch(cache, conf_dir=conf)
    assert result["count"] == 10
    assert result["marker"] == "from-conf-dir"
    assert archive_args(result) == []
    assert not [m for m in result["mapped"] if m.startswith(str(cache))]
    assert (sorted(p.name for p in cds.iterdir()) if cds.exists() else []) == before


def test_key_follows_the_jvm_base_archive(tmp_path, monkeypatch):
    """A regenerated base archive (``lib/server/classes.jsa``) makes the
    JVM refuse every dynamic archive dumped on the old one, so the key
    must change with it. Mutant: a key that lists only the Spark jars
    keeps pointing at the refused archive."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").touch()
    (jdk / "release").write_text('JAVA_VERSION="17"\n')
    (jdk / "lib" / "server").mkdir(parents=True)
    base = jdk / "lib" / "server" / "classes.jsa"
    base.write_bytes(b"base")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    before = session._archive_key(_find_spark_home(), "16g")
    os.utime(base, ns=(0, base.stat().st_mtime_ns + 1))
    assert session._archive_key(_find_spark_home(), "16g") != before
