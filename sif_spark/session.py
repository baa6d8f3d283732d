"""SparkSession factory with scale-appropriate defaults.

The reference hand-rolls its execution substrate (LRU partition cache +
LZ4 spill, pull-based shuffle, range-bucketed sorted indexes — SURVEY.md
§4.2). All of that is built into Spark; the only thing this module owns
is configuration: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized Python interop), UTC
session timezone (oracle comparability), and a shuffle-partition count
sized to the local machine rather than the 200 default.

At cluster scale the same settings hold — `spark.sql.shuffle.partitions`
becomes a starting hint that AQE coalesces/splits at runtime, which is
exactly the behavior you want at 100 TB where static tuning is hopeless.

Python workers: on ``local[n]`` masters Spark forks its UDF and Python
RDD workers from ``sif_spark._daemon`` instead of ``pyspark.daemon``. It
is the same daemon plus one change: a reused worker no longer re-parses
``pyspark.zip``'s ~1,300-entry directory at the start of every task
(CPython < 3.13), which was ~0.2 CPU-s of fixed cost per Python task.
Other masters keep Spark's daemon, because their executors have no
``sif_spark`` to import until ``addPyFile`` runs inside a task. A
cluster whose executors have ``sif_spark`` installed can opt in with the
plain Spark conf ``spark.python.daemon.module=sif_spark._daemon``;
sif_spark adds no option of its own. Spark starts its data-source
planner workers from ``pyspark.daemon`` whatever that conf says. Spark
also keys each daemon by its runner's environment, so the tasks of a
Python RDD (``createDataFrame`` over Python rows) start a second daemon
and its own workers beside the pandas-UDF ones. Frames that sif_spark
builds on the driver therefore reach the JVM as Arrow
(``sources.memory.local_frame``), which runs no Python task.

Codecs come in two tiers. Bytes sif_spark keeps (pipeline checkpoints,
table groups, change files, deletion-vector sidecars, bucketed stores,
index tables, ingest epochs) are written once and re-read, so every
parquet file is ``PARQUET_CODEC``, zstd: about half the bytes of
Spark's snappy default on the corpus text perfbench cleans. Transient
bytes (shuffle and spill) stay LZ4, the reference's codec. Both are
plain Spark defaults that a user overrides as any other:
``spark.sql.parquet.compression.codec`` and
``spark.io.compression.codec`` in ``extra_conf``, or a write's own
``.option("compression", ...)``. The ``sif_table`` data-source writer
is the exception: it writes with pyarrow from a sessionless Python
worker that Spark's conf does not reach, so it always uses
``PARQUET_CODEC``.

Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``, a static
conf) holds 1,000 compiled classes instead of 100. One warm perfbench
pass generates 86 distinct classes on ``corpus_clean`` and 104 on
``ann_ingest``; Guava evicts per segment, so at 100 entries every later
pass re-compiled 26 and 50 of them from byte-identical sources, and at
1,000 none. Set it in ``extra_conf`` to change it; it cannot change
after the session starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Codec of every parquet file sif_spark writes (see the module docstring).
PARQUET_CODEC = "zstd"

_DEFAULTS: dict[str, str] = {
    # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Python<->JVM data transfer (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle (naive-UTC).
    "spark.sql.session.timeZone": "UTC",
    # Lz4 matches the reference's spill/shuffle codec (SURVEY.md §4.2).
    "spark.io.compression.codec": "lz4",
    # Kept bytes (checkpoints, table groups, index tables) are zstd.
    "spark.sql.parquet.compression.codec": PARQUET_CODEC,
    # Room for every class a warm pipeline pass generates (module docstring).
    "spark.sql.codegen.cache.maxEntries": "1000",
    # FileOutputCommitter v2: task commits move files into the final
    # dir directly instead of a second job-commit rename pass. Every
    # sif_spark write lands in a fresh unique dir whose visibility is
    # gated by a separate commit (SifTable manifests, the epoch
    # stores' _SUCCESS marker), so v1's job-level atomicity buys
    # nothing here — v2 drops one rename per written file, which at
    # 100 TB (or on object stores) is the difference between an O(1)
    # and O(files) commit tail.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Read parquet TIMESTAMP(NANOS) (which Spark has no native type for)
    # as long nanos; sources.parquet converts to microsecond timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Tz-less parquet timestamps read as plain (LTZ) TimestampType, not
    # TIMESTAMP_NTZ — with the UTC session zone the instant equals the
    # naive value, and no post-scan cast blocks date-filter pushdown.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_session(
    app_name: str = "sif_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with sif_spark defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at real
    cluster scale callers pass a value sized to input volume and let AQE
    coalesce.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        # SPARK_GRAFT_MASTER lets any entry point (tests, bench,
        # check_oracle) run under a DISTRIBUTED master — e.g.
        # local-cluster[2,16,4096] for the 2-worker multi-process
        # validation (CLUSTER.md) — without code changes.
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # TWS protocol env must precede the JVM: local-mode python workers
    # inherit the environment the context STARTS with, so the protobuf
    # shim (sif_spark/streaming/tws_env.py) has to be on $PYTHONPATH
    # now for q167/q168's transformWithState to run in this session.
    # No-op when protobuf is installed. A shim that cannot be written
    # (OSError) leaves the session without it: only the TWS entries
    # need it, and they report a missing protobuf themselves.
    from sif_spark.streaming.tws_env import ensure_protobuf_env

    try:
        ensure_protobuf_env()
    except OSError:
        pass

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        _ship_package(spark)
    return spark


def session_conf(
    master: str,
    shuffle_partitions: int,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark conf ``get_session`` starts a context with on ``master``.

    ``local[n]`` masters get ``sif_spark._daemon`` as the Python worker
    daemon (see the module docstring). Spark starts it as ``python -m
    <module>`` in its own work directory, so the package root also goes
    on the workers' PYTHONPATH (``spark.executorEnv.PYTHONPATH``)."""
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local mode: one JVM; driver memory is the only knob. Leave headroom.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local["):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        conf.setdefault("spark.python.daemon.module", "sif_spark._daemon")
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), root) if p)
    return conf


def _ship_package(spark: SparkSession) -> None:
    """Ship sif_spark to the executors as a zip (addPyFile).

    In ``local[n]`` the Python workers fork from the driver and inherit
    its sys.path, which silently masks a real-cluster failure mode: on
    any multi-process master (local-cluster, standalone, YARN, k8s)
    executors spawn their OWN workers, and every cloudpickled closure
    that references a sif_spark module unpickles with
    ModuleNotFoundError unless the package ships with the job — the
    exact failure the round-6 local-cluster validation surfaced on 16
    catalog entries (CLUSTER.md). This is the same mechanism
    spark-submit --py-files uses, so the fix IS the production deploy
    story, not a test shim.

    ADVICE r6 hardening: the zip is written to a PER-PROCESS unique
    temp name (a fixed path was racy — one process could rewrite the
    zip while another's executors were mid-fetch), ship-once is
    decided by checking the context's registered files up front
    (instead of a bare ``except Exception: pass`` around addPyFile,
    which could silently swallow a genuine shipping failure and
    reintroduce the very ModuleNotFoundError this code prevents), and
    any addPyFile error now propagates."""
    sc = spark.sparkContext
    if any("sif_spark_pyfiles" in f for f in sc.listFiles):
        return
    sc.addPyFile(_build_pkg_zip())


def _build_pkg_zip() -> str:
    """Zip the sif_spark package (arcnames rooted at sif_spark/ — the
    layout addPyFile must see) into a per-process unique temp file.

    The zip is registered for atexit removal (ADVICE r7: repeated
    get_session calls across bench/test processes otherwise accumulate
    unbounded multi-MB zips in the temp dir). atexit — not eager
    unlink — because executors fetch the file lazily on first task;
    the path must outlive the SparkContext, and process exit is the
    one point that's guaranteed after every context stop."""
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(prefix="sif_spark_pyfiles_", suffix=".zip")
    os.close(fd)
    atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return zpath


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
