"""Session defaults that are not a single query's business: the codegen
cache size, and which errors session start-up tolerates."""

from __future__ import annotations

import pytest


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def test_codegen_cache_holds_a_warm_pass(spark):
    """A warm perfbench pass generates ~90-110 distinct classes; Spark's
    100-entry default cache evicts some of them before the next pass
    (Guava evicts per segment), so every pass re-ran Janino on
    byte-identical sources. 120 distinct projections, run twice: the
    second round must compile nothing."""
    frames = [spark.range(3).selectExpr(f"id * {i + 2} + {i} AS x") for i in range(120)]
    for df in frames:
        df.collect()
    c0 = _compiles(spark)
    for df in frames:
        df.collect()
    assert _compiles(spark) - c0 == 0


def test_protobuf_shim_failure_tolerates_only_oserror(spark, monkeypatch):
    """A shim that cannot be written (OSError) does not stop a session;
    any other error from the shim builder is a bug and raises."""
    from sif_spark import session as sess
    from sif_spark.streaming import tws_env

    master = spark.sparkContext.master

    def fail(exc):
        def raise_():
            raise exc

        return raise_

    monkeypatch.setattr(tws_env, "ensure_protobuf_env", fail(OSError("read-only")))
    assert sess.get_session("sif_spark_tests", master=master, shuffle_partitions=8) is spark
    monkeypatch.setattr(tws_env, "ensure_protobuf_env", fail(RuntimeError("bug")))
    with pytest.raises(RuntimeError, match="bug"):
        sess.get_session("sif_spark_tests", master=master, shuffle_partitions=8)


def test_ship_package_ships_once_and_lets_errors_raise(monkeypatch):
    """``_ship_package`` ships the zip unless the context already holds
    one, and a failing file listing raises instead of shipping blind."""
    from sif_spark import session as sess

    class Ctx:
        def __init__(self, files):
            self._files = files
            self.shipped = []

        @property
        def listFiles(self):
            if isinstance(self._files, Exception):
                raise self._files
            return self._files

        def addPyFile(self, path):
            self.shipped.append(path)

    class Spark:
        def __init__(self, files):
            self.sparkContext = Ctx(files)

    monkeypatch.setattr(sess, "_build_pkg_zip", lambda: "/x/sif_spark_pyfiles_1.zip")
    fresh = Spark([])
    sess._ship_package(fresh)
    assert fresh.sparkContext.shipped == ["/x/sif_spark_pyfiles_1.zip"]
    shipped = Spark(["spark://h/files/sif_spark_pyfiles_0.zip"])
    sess._ship_package(shipped)
    assert shipped.sparkContext.shipped == []
    with pytest.raises(RuntimeError):
        sess._ship_package(Spark(RuntimeError("no listing")))
