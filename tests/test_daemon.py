"""sif_spark._daemon: the zip import-cache rule and its session wiring.

Spark runs ``importlib.invalidate_caches()`` at the start of every task
of a reused Python worker. The daemon keeps a zip archive's parsed
directory across those calls while the file is unchanged, and must
still pick up an archive that was rewritten."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
PATCHED = sys.version_info < (3, 13)

CACHE_RULE = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from sif_spark._daemon import install

    def write(mods):
        with zipfile.ZipFile("lib.zip", "w") as z:
            for name in mods:
                z.writestr(name + ".py", "NAME = %r\\n" % name)

    write(["mod_a"])
    sys.path.insert(0, os.path.abspath("lib.zip"))
    import mod_a

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    zipimport._read_directory = counting_read
    # install() re-reads the archives already cached, once
    assert install()
    assert reads == [os.path.abspath("lib.zip")], reads

    # an unchanged archive is not re-parsed, however often caches drop
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1, reads

    # a rewritten archive is re-read and its new module imports
    write(["mod_a", "mod_b"])
    importlib.invalidate_caches()
    import mod_b
    assert mod_b.NAME == "mod_b"
    assert len(reads) == 2, reads
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 2, reads
    print("OK")
    """
)


def _env_without_pythonpath() -> dict[str, str]:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.13 is left unpatched")
def test_zip_cache_kept_while_archive_unchanged(tmp_path):
    env = _env_without_pythonpath()
    env["PYTHONPATH"] = str(ROOT)
    out = subprocess.run(
        [sys.executable, "-c", CACHE_RULE],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "OK"


def test_daemon_conf_only_for_local_masters():
    from sif_spark.session import session_conf

    local = session_conf("local[2]", 2)
    assert local["spark.python.daemon.module"] == "sif_spark._daemon"
    assert str(ROOT) in local["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    kept = session_conf(
        "local[2]", 2, {"spark.executorEnv.PYTHONPATH": "extra-libs"}
    )["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert kept == ["extra-libs", str(ROOT)]
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        conf = session_conf(master, 2)
        assert "spark.python.daemon.module" not in conf, master
        assert "spark.executorEnv.PYTHONPATH" not in conf, master


def test_session_workers_run_patched_daemon(spark):
    from pyspark.sql import functions as F

    if not spark.sparkContext.master.startswith("local["):
        pytest.skip("the daemon is wired for local masters only")

    @F.pandas_udf("boolean")
    def patched(s: pd.Series) -> pd.Series:
        import zipimport

        on = getattr(
            zipimport.zipimporter.invalidate_caches, "_sif_keeps_unchanged", False
        )
        return pd.Series([on] * len(s))

    got = {r[0] for r in spark.range(0, 8, numPartitions=2).select(patched("id")).collect()}
    assert got == {PATCHED}


FRESH_SESSION = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from pyspark.sql import functions as F

    from sif_spark.session import get_session
    from sif_spark.sources.table_stream import register_table_source
    from sif_spark.table import SifTable

    spark = get_session("daemon-wiring", master="local[2]", shuffle_partitions=2)

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    assert [r[0] for r in spark.range(3).select(plus_one("id")).collect()] == [1, 2, 3]

    path = os.path.abspath("events")
    SifTable.create(spark, path, spark.range(5).withColumnRenamed("id", "k"), key_col="k")
    register_table_source(spark)
    stream = spark.readStream.format("sif_table").option("path", path).load()
    q = stream.writeStream.format("memory").queryName("events_out").start()
    q.processAllAvailable()
    q.stop()
    got = sorted(r["k"] for r in spark.table("events_out").collect())
    assert got == [0, 1, 2, 3, 4], got
    spark.stop()
    print("OK")
    """
)


def test_fresh_session_outside_repo_runs_python_workers(tmp_path):
    """The daemon module must import in every worker Spark starts, even
    when neither the driver's cwd nor its PYTHONPATH holds the package
    root: a daemon that cannot start breaks every Python UDF, Python
    data source planner and streaming-source read of the session."""
    env = _env_without_pythonpath()
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    out = subprocess.run(
        [sys.executable, "-c", FRESH_SESSION, str(ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().endswith("OK"), out.stdout[-2000:]
