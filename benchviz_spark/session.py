"""SparkSession factory.

Defaults are tuned for the driver's harness (local[N], single JVM)
but every knob is chosen for cluster-scale behavior first:

- AQE on: runtime partition coalescing, skew-join splitting, and
  join-strategy switching replace hand-tuned shuffle counts at 100 TB.
- Arrow on: every Pandas UDF / toPandas crossing is Arrow-batched.
- shuffle.partitions matches local cores here; on a real cluster the
  AQE coalescer makes the static number mostly irrelevant.
- UTC session timezone so timestamp semantics are stable across the
  Spark/DuckDB oracle boundary.
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``,
  on by default in Spark 4.1). With it on, every ``F.col`` call and every
  Column method captures its Python call site: it looks up the active
  session, reads ``stackTracesInDataFrameContext`` over py4j, walks the
  Python stack (re-trying a failing ``import ipykernel``), then sets and
  clears the origin with two more py4j calls. That is about 10 extra
  py4j round trips per Column method, paid by every query's
  construction. With it off, an analysis error no longer names the
  Python ``file:line`` that built the failing Column; it keeps its
  error class and the plan.
- Python workers find this package from any working directory: its
  parent directory is prepended to the workers' ``PYTHONPATH``
  (``spark.executorEnv.PYTHONPATH``), so pandas-UDF, codec and streaming
  queries do not depend on being launched from the repository root.
- The file-stream-sink metadata probe logs at ERROR only. A batch file
  read of ONE path first checks it for a ``_spark_metadata`` directory;
  the bench-log reader's path is a date-dir glob, which is no literal
  path, so every fact build logged a WARN with a full
  ``FileNotFoundException`` stack trace before reading as usual. The
  probe itself cannot be skipped without a conf
  (``spark.sql.streaming.fileStreamSink.ignoreMetadata``, which would
  also stop reading real sink outputs through their log) or a second
  path, so only that one logger is quieted; its other messages are
  "assume no metadata" fallbacks of the same kind.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the benchviz_spark package (this file's
# package), which Python workers need on their path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"
# the file-stream-sink metadata probe (see module docstring), under its
# Spark 4.1 and its earlier class name
_QUIET_LOGGERS = (
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    "org.apache.spark.sql.execution.streaming.FileStreamSink",
)


def get_spark(
    app_name: str = "benchviz_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores),
    matching the driver's bench harness contract.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size-based broadcast decisions, sized to the executors: the
        # 10 MB default is tuned for small-heap clusters and planted a
        # plan CLIFF inside the knn re-rank's scale probes — the 20k-
        # vector tier broadcast its 5 MB vector relation (no exchange)
        # while the 60k tier (16 MB) fell off to a shuffle join whose
        # pair-relation spill exhausted local disk. 64 MB is still
        # conservative against a 128 GiB executor, and the decision
        # stays AQE's size-measured runtime choice — a corpus-scaled
        # relation exceeds any threshold and shuffles, which is the
        # 100-TB-safe behavior (broadcast HINTS on SF-scaled subtrees
        # remain banned by tests/test_plan_sweep.py).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Parquet vectorized reader + nested-column pruning: scan-side wins
        # that matter far more at 100 TB than at sf0.1.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Keep timestamps as written by the generator (no rebase surprises).
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # no per-Column Python call-site capture (see module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    conf[_WORKER_PATH_KEY] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get(_WORKER_PATH_KEY)) if p
    )
    for key, value in conf.items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j
    for logger in _QUIET_LOGGERS:
        log4j.core.config.Configurator.setLevel(logger, log4j.Level.ERROR)
    return spark
