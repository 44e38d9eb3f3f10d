"""Incremental SCD2 maintenance over a changelog stream.

Batch ``scd2_build`` (operators/scd.py) derives validity intervals from
the full changelog; this maintainer keeps the SCD2 table current as
changes arrive in micro-batches, with per-batch IO proportional to the
buckets the batch touches — the same IO contract as the keyed
foreachBatch state (streaming/txn_state.py). Unlike that store, this
maintainer rewrites its buckets by dynamic partition overwrite: not
atomic across buckets, and no replay ledger.

Why the state is the RAW changelog, not the intervals: intervals are a
LOSSY collapse (consecutive equal states merge). With history A@1, A@5
collapsed to A[1, inf), a late-arriving B@3 must resurrect the boundary:
the truth becomes A[1,3) B[3,5) A[5,inf) — underivable from the
collapsed form, which still knows only A@1. Keeping the per-key change
rows makes out-of-order arrival a non-event: each batch re-derives
intervals for the touched BUCKETS from their stored changes (bounded
work — a bucket holds its keys' changes, not the corpus) and
dynamically overwrites just those interval partitions.

Both stores shard on the DIMENSION key, so a key's entire history and
its intervals live in one bucket each — the property that keeps the
rebuild prunable. At 100 TB these are bucket-partitioned tables and the
rebuild is scd2_build's single window pass over the touched buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.operators.dedup import dedup_latest
from flink_playground_spark.operators.scd import scd2_build
from flink_playground_spark.streaming.txn_state import BUCKET_COL


class Scd2Maintainer:
    """Maintain an SCD2 interval table incrementally from change batches."""

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        ts_col: str,
        attr_cols: Sequence[str],
        tiebreaker: str,
        n_buckets: int = 16,
    ):
        import glob
        import os

        self.keys = list(keys)
        self.ts_col = ts_col
        self.attr_cols = list(attr_cols)
        self.tiebreaker = tiebreaker
        self.n_buckets = n_buckets
        self.changes_path = f"{path}/changes"
        self.intervals_path = f"{path}/intervals"
        self._has_state = os.path.isdir(self.changes_path) and bool(
            glob.glob(f"{self.changes_path}/{BUCKET_COL}=*")
        )

    def _bucket(self) -> F.Column:
        # shard by the DIMENSION key: a key's whole history lives in one
        # bucket, so rebuilds only ever read the buckets a batch touched
        return F.pmod(F.xxhash64(*self.keys), F.lit(self.n_buckets)).cast("int")

    def apply_batch(self, batch: DataFrame) -> DataFrame:
        """Fold a change batch in; returns the rebuilt intervals of the
        touched buckets (without the bucket column)."""
        spark = batch.sparkSession
        tagged = batch.withColumn(BUCKET_COL, self._bucket())
        touched = [r[0] for r in tagged.select(BUCKET_COL).distinct().collect()]

        if self._has_state:
            # pre-merge contents of the touched buckets only (partition
            # pruning); localCheckpoint so the union below cannot lazily
            # re-read files the dynamic overwrite is about to replace
            old = (
                spark.read.parquet(self.changes_path)
                .filter(F.col(BUCKET_COL).isin(touched))
                .localCheckpoint(eager=True)
            )
            base = old.unionByName(tagged)
        else:
            base = tagged
        # dedup redelivered change rows on their full identity
        # (at-least-once delivery safe); keep-latest on the tiebreaker is
        # an arbitrary-but-deterministic pick among exact redeliveries
        history = dedup_latest(
            base.drop(BUCKET_COL),
            self.keys + [self.ts_col, self.tiebreaker],
            self.tiebreaker,
        ).withColumn(BUCKET_COL, self._bucket()).localCheckpoint(eager=True)

        (
            history.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.changes_path)
        )
        self._has_state = True

        # rebuild intervals for the touched buckets from their full history
        rebuilt = scd2_build(
            history.drop(BUCKET_COL),
            self.keys,
            self.ts_col,
            self.attr_cols,
            self.tiebreaker,
        ).withColumn(BUCKET_COL, self._bucket()).localCheckpoint(eager=True)
        (
            rebuilt.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.intervals_path)
        )
        return rebuilt.drop(BUCKET_COL)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The current SCD2 interval table, or None before any batch."""
        import glob
        import os

        if not (
            os.path.isdir(self.intervals_path)
            and glob.glob(f"{self.intervals_path}/{BUCKET_COL}=*")
        ):
            return None
        return spark.read.parquet(self.intervals_path).drop(BUCKET_COL)
