"""Output checks: DuckDB oracles, per-op fingerprints and the cache-leak guard.

Expected outputs come from the registry's own DuckDB oracle SQL, run over
the same seeded parquet the engine reads, and are cached per seed as
parquet. Every op is materialized once, through the ``noop`` sink, with
an ``Observation`` that counts its rows and sums a 64-bit hash of every
row. The same fingerprint of the oracle's rows, read back from the cached
parquet and cast to the op's schema, must match. The op is therefore
checked without being run a second time. Small outputs (the ``wave_fold``
warm-up) are also compared value by value with ``tools/check.py``'s
``compare``.
"""

from __future__ import annotations

import multiprocessing
import os
import pathlib
import sys
from concurrent.futures import ProcessPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))

from check import compare  # noqa: E402  (tools/check.py, the repo's oracle gate)


def oracle(sql: str, views: dict[str, list[str] | str]) -> pa.Table:
    """Run oracle ``sql`` over ``views`` (name -> parquet file or files)."""
    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        for name, files in views.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({list(files) if isinstance(files, list) else [files]!r})")
        return con.sql(sql).arrow()
    finally:
        con.close()


def oracle_pool() -> ProcessPoolExecutor:
    """One process that computes oracle outputs beside the warm-up. Its
    DuckDB threads and memory leave with it, before the measured phase."""
    return ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))


class ExpectedCache:
    """Oracle outputs of one seed, kept as parquet under ``root``."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, key: str, sql: str, views: dict) -> str:
        """Path of the oracle output ``key``, computed on first use."""
        path = f"{self.root}/{key}.parquet"
        if not os.path.exists(path):
            tmp = f"{path}.tmp"
            pq.write_table(oracle(sql, views), tmp)
            os.replace(tmp, path)
        return path


def _fingerprint(cols: list[str]) -> list:
    # decimal sum: ANSI mode would reject an overflowing long sum
    h = F.xxhash64(*[F.col(c) for c in sorted(cols)]).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observation of its row-count/hash fingerprint."""
    obs = Observation()
    return df.observe(obs, *_fingerprint(df.columns)), obs


def result_of(obs: Observation) -> tuple[int, int]:
    m = obs.get
    return int(m["n"]), int(m["h"] or 0)


def fingerprint_of(spark: SparkSession, expected: str, like: DataFrame) -> tuple | str:
    """Fingerprint of the oracle rows in parquet file ``expected``, cast
    to ``like``'s schema, or a problem string when the column sets differ."""
    src = spark.read.parquet(expected)
    if sorted(src.columns) != sorted(like.columns):
        return f"columns {sorted(like.columns)} != oracle {sorted(src.columns)}"
    typed = src.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in like.schema.fields])
    row = typed.agg(*_fingerprint(typed.columns)).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def full_compare(df: DataFrame, expected: str) -> list[str]:
    """Value-by-value comparison of ``df``'s rows with the oracle's."""
    return compare(df.toPandas(), pq.read_table(expected).to_pandas())


def clear_leaks(spark: SparkSession) -> int:
    """Count persisted RDDs and cached relations left behind by the last
    op, then drop them so the next op cannot read them."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    leaked = rdds.size()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        leaked += 1
        spark.catalog.clearCache()
    for rdd in list(rdds.values()):
        rdd.unpersist(False)
    return leaked
