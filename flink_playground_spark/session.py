"""Engine session: SparkSession construction and scale-oriented tuning.

Mirrors the reference's environment setup — every job there builds a
``StreamExecutionEnvironment`` + ``StreamTableEnvironment`` and sets
parallelism (``DataStreamJob.java:49-53``, ``WithStateTtlJob.java:40-44``).
Here the equivalent knobs are shuffle partitions, AQE, and broadcast
thresholds; state-TTL config (``WithStateTtlJob.java:43-45``) maps to the
watermark/retention settings consumed by :mod:`flink_playground_spark.streaming`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Configs that must be set at session build time.
BUILD_CONF: dict[str, str] = {
    # local[32] runs the whole engine in one JVM; PySpark's 1g default
    # heap starves 32 executor threads (localCheckpoint blocks, shuffle
    # spill) long before the machine's memory does. Sized for the
    # sf1 step-up fixture; override via SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    # The synthetic events table carries parquet TIMESTAMP(NANOS), which
    # Spark has no native type for; read as long and convert exactly
    # (sources.tables.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # MinHash signatures aggregate K=128 mins in one HashAggregate: its
    # 129-field buffer is past the default limit of 100 fields, which
    # drops the whole stage out of whole-stage codegen.
    "spark.sql.codegen.maxFields": "200",
    # Compiled-class cache of generated code (a static conf). The four
    # near-dup kernels alone compile ~190 distinct classes; at the default
    # of 100 entries, calling them in turn evicts every class before its
    # next use, so each call recompiled all of its code (85 janino
    # compiles per dedup_clusters call).
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# Subset that is runtime-settable — applied defensively to externally
# provided sessions (the verify driver owns its own SparkSession).
RUNTIME_CONF: dict[str, str] = {
    # Runtime row-level Bloom pruning: on a selective shuffled join,
    # Catalyst builds a bloom_filter_agg over the creation side's join
    # keys and injects might_contain into the application side's scan —
    # rows that cannot match are dropped BEFORE the shuffle. The size
    # thresholds are left at their defaults (creation ≤10MB, application
    # scan ≥10GB) so this fires exactly in the 100 TB regime it exists
    # for; tests/test_plans.py lowers them to pin the plan shape.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # whole-stage codegen for the K=128 MinHash aggregate (see BUILD_CONF)
    "spark.sql.codegen.maxFields": "200",
}


def get_spark(app_name: str = "flink-playground-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` controls local parallelism (reference: ``setParallelism``,
    ``WithStateTtlJob.java:40-41``); default ``local[*]``. Ships this
    package to the executors, as ``tune`` does for a session we don't
    own, so Python workers import engine modules whatever the driver's
    working directory.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session.

    Safe on sessions we don't own; ignores conf keys the running Spark
    version refuses to set at runtime. Also ships this package to the
    executors (once per SparkContext; ``get_spark`` already has) so
    Python-UDF closures that reference engine modules resolve regardless
    of the driver's working directory (on a real cluster this is the
    --py-files equivalent).
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - version-specific static confs
            pass
    _ship_package(spark)
    return spark


def scratch_dir(prefix: str) -> str:
    """A fresh temporary directory, removed when the interpreter exits:
    the work directory of a fold or stream called without one. Results
    read it lazily, so it must outlive the call that made it."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_fps_pyfile_shipped", False):
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = scratch_dir("fps_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "flink_playground_spark"),
        "zip",
        root_dir=pkg_root,
        base_dir="flink_playground_spark",
    )
    try:
        sc.addPyFile(zip_path)
    except Exception:  # pragma: no cover - e.g. repeated add under same name
        pass
    sc._fps_pyfile_shipped = True
