"""Parquet corpus source (SURVEY §2.1 S8) — the engine's primary batch source.

The reference has no file connector (Kafka appears only as a commented-out
pom example); parquet is our batch backbone: columnar scan with predicate
pushdown and column pruning, both verified in tests via ``explain``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# events.ts may arrive as parquet TIMESTAMP(NANOS,false): Spark has no
# nanosecond timestamp type, so the scan reads it as long (nanosAsLong)
# and this expression converts ns -> microsecond TIMESTAMP_NTZ with pure
# integer math (no double rounding; exactly DuckDB's CAST(ts AS
# TIMESTAMP)). When the file carries µs timestamps instead, the scan
# already yields a timestamp type and only an NTZ normalization applies.
_NS_TO_TS_NTZ = (
    "cast('1970-01-01 00:00:00' as timestamp_ntz)"
    " + make_dt_interval(0, 0, 0, cast({col} div 1000 as decimal(20,0)) / 1000000)"
)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Turn on nanosAsLong for sessions that lack it. Engine sessions
    already carry it (``BUILD_CONF``/``RUNTIME_CONF``), so this only
    writes session conf once, on a session someone else built."""
    try:
        if spark.conf.get(_NANOS_AS_LONG, "false") != "true":
            spark.conf.set(_NANOS_AS_LONG, "true")
    except Exception:  # pragma: no cover
        pass


def _stamp(path: str) -> tuple | None:
    """Every file's (path, size, mtime) under a local ``path``; None when
    ``path`` is not a local file or directory."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs)
    else:
        return None
    return tuple((f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)])


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema at ``path``, inferred once per file version.

    Reading parquet without a schema runs a footer-reading Spark job on
    every call; the schema of an unchanged local table is reused
    instead, per session (inference depends on session conf). The key
    is the ``_stamp`` of its files, so a rewritten table re-reads its
    footers and drift still shows. A path that is not local is inferred
    on every call, as before. Two threads that miss at once both infer
    the same schema."""
    schemas = spark.__dict__.setdefault("_fps_schemas", {})
    stamp = _stamp(path)
    hit = schemas.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if stamp is not None:
        schemas[path] = (stamp, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table; normalizes nanosecond timestamps to NTZ µs."""
    _ensure_nanos_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP_NTZ µs whatever the file
    carried: long nanos (TIMESTAMP(NANOS) under nanosAsLong), µs NTZ
    (identity), or an LTZ/other timestamp (plain cast)."""
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr(_NS_TO_TS_NTZ.format(col="ts")))
    if ts_type != "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register corpus tables as temp views for the SQL entry point (E1)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
