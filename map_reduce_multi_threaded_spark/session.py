"""SparkSession factory tuned for this engine.

The reference engine hand-tuned its parallelism (reader/mapper thread
pairs, 1024 hash bins, cyclic bin ownership — ``map_reduce.cpp:22-37``,
``:470-471``, ``:306``). Here the equivalent knobs are Spark configs:
``spark.sql.shuffle.partitions`` plays the role of the 1024 bins, the
task scheduler replaces the pull-based file queue, and AQE re-plans at
runtime (coalescing small shuffles, converting to broadcast joins,
splitting skewed partitions) — things the reference could not do at all.

Scale note: the defaults below are for the local[32] test harness.  On a
real 1000-executor cluster against ~100 TB you would raise
``shuffle.partitions`` to O(cores × 2..4) or simply rely on
``spark.sql.adaptive.coalescePartitions`` with a large initial number —
every operator in this package is written to be agnostic to the actual
partition count (no collect()-based logic, no driver-side loops over
data).

Python workers: :func:`get_spark` starts them through this package's
own daemon module (``spark.python.daemon.module`` =
:mod:`.worker_daemon`) instead of ``pyspark.daemon``.  Measured on
Python 3.11, every Python task (even in a reused worker) spent ~0.2 s in
``importlib.invalidate_caches()``, called by pyspark's
``worker_util.setup_spark_files`` before any UDF code runs; cProfile of
``pyspark.worker.main`` put all of it in the zip importers cached for
paths inside ``pyspark.zip``, each re-reading the archive's 1328-entry
directory.  The daemon re-reads an archive only when its (mtime, size)
changed and otherwise runs the stock ``pyspark.daemon.manager()`` —
the behaviour CPython 3.13 adopted itself (``zipimport`` there only
drops the cached directory and re-reads it lazily), so on 3.13+ it
patches nothing.  The package's parent directory is put on
``spark.executorEnv.PYTHONPATH`` so the workers can import the daemon
(and every UDF module) from any working directory.  The daemon conf is
static: a session created elsewhere and handed to :func:`ensure_confs`
keeps the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that must hold for correctness (not just speed).
_REQUIRED_CONFS = {
    # Legacy driver fixtures stored events.ts as TIMESTAMP(NANOS),
    # which Spark's vectorized reader rejects unless read as raw int64
    # nanos (normalized in sources.tables.normalize_event_ts; the
    # current micros fixture is unaffected by this conf).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for TimestampType; the DuckDB
    # oracle reads the same parquet as naive (no-tz) timestamps.
    "spark.sql.session.timeZone": "UTC",
}

_PERF_CONFS = {
    # AQE: runtime coalescing of shuffle partitions, dynamic
    # broadcast-join conversion, skew-join splitting.  This is the
    # modern replacement for the reference's fixed 1024-bin layout.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / mapInPandas path (similarity,
    # multimodal): batch transfer instead of row-at-a-time pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Python UDTFs default to row-at-a-time pickle transfer
    # (BatchEvalPythonUDTF) — opt into the Arrow-batched evaluator so
    # the table-function path honors the same no-row-eval policy as
    # every other Python stage (found by tests/test_plan_policy.py).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Partial aggregation pushdown for distinct-style aggregates.
    "spark.sql.optimizer.distinctBeforeIntersect.enabled": "true",
}


#: directory holding this package — the Python workers' import root
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _worker_pythonpath(current: str) -> str:
    """``current`` (a PYTHONPATH value, possibly empty) with the
    package's parent directory in front."""
    paths = [p for p in current.split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.insert(0, _PACKAGE_PARENT)
    return os.pathsep.join(paths)


def get_spark(
    app_name: str = "map_reduce_multi_threaded_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's required configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for the test harness; on a cluster, leave it unset and let
    spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)

    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))

    extra_confs = extra_confs or {}
    confs = {
        **_REQUIRED_CONFS,
        **_PERF_CONFS,
        "spark.python.daemon.module": "map_reduce_multi_threaded_spark.worker_daemon",
        **extra_confs,
        _WORKER_PYTHONPATH: _worker_pythonpath(extra_confs.get(_WORKER_PYTHONPATH, "")),
    }
    for k, v in confs.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    # If an existing session was reused, make sure the correctness
    # configs still hold (they are all runtime-settable).
    for k, v in _REQUIRED_CONFS.items():
        spark.conf.set(k, v)
    return spark


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an externally
    created session (the driver hands us one in ``__spark_entry__``)."""
    for k, v in _REQUIRED_CONFS.items():
        spark.conf.set(k, v)
    for k, v in _PERF_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark
