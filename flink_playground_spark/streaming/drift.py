"""Streaming numeric drift monitor: PSI against a frozen reference.

Completes the engine's drift triple — IVF centroid staleness
(streaming/ann_index.py) watches embeddings, corpus signatures
(streaming/corpus_sig.py) watch text, this watches a numeric column's
DISTRIBUTION as waves arrive: the first batch freezes the reference
bucket histogram; every later batch folds its bucket counts into the
live histogram (exactly-once — a redelivered wave must not shift the
distribution); ``psi`` computes the Population Stability Index of live
vs reference any time, from state alone.

Buckets are fixed-width (deterministic edges; sample quantiles would
move between runs), smoothing is add-one per observed bucket — the
same conventions as the batch ``value_drift_psi`` query, whose oracle
also pins this module's math (the streaming query reproduces it over
the parity waves).

State is two TransactionalKeyState ledgers keyed by bucket, ``ref`` and
``live``, of ONE state directory: one manifest and one replay mark, so
each wave commits once wherever it lands. Per-batch IO is proportional
to buckets touched by the wave, and the PSI read aggregates state rows
(≤ distinct buckets), never history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.txn_state import TransactionalKeyState


class StreamingDriftMonitor:
    """Freeze batch 0 as the reference; accumulate later waves as live."""

    def __init__(
        self,
        path: str,
        value_col: str = "value",
        bucket_width: float = 10.0,
        writer_id: str = "drift",
    ):
        self.value_col = value_col
        self.bucket_width = bucket_width
        self.writer_id = writer_id
        self.ref = TransactionalKeyState(path, ["bucket"], ledger="ref")
        self.live = TransactionalKeyState(path, ["bucket"], ledger="live")

    def _counts(self, batch: DataFrame) -> DataFrame:
        return (
            batch.select(
                F.floor(F.col(self.value_col) / self.bucket_width)
                .cast("bigint")
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def ingest(self, batch: DataFrame, batch_id: int) -> bool:
        """Batch 0 freezes the reference; later batches fold into live.
        Exactly once per (writer, batch) — replays are no-ops."""
        target = self.ref if batch_id == 0 else self.live
        return target.merge_aggregate(
            self.writer_id, batch_id, self._counts(batch), [F.sum("n").cast("long").alias("n")]
        )

    def psi(self, spark: SparkSession) -> DataFrame:
        """Per-bucket PSI terms of live vs reference (add-one smoothed,
        6-dp rounded — identical math to the batch value_drift_psi)."""
        ref = self.ref.read(spark)
        live = self.live.read(spark)
        if ref is None or live is None:
            raise RuntimeError("need the reference batch and at least one live wave")
        # null-safe key equality: a NULL value column yields a NULL
        # bucket on BOTH sides, which the batch query's GROUP BY merges
        # into one row — a plain full-outer equi-join would split it
        # into two and shift every probability
        a = ref.select(F.col("bucket").alias("__ba"), F.col("n").alias("n_a"))
        b = live.select(F.col("bucket").alias("__bb"), F.col("n").alias("n_b"))
        c = (
            a.join(b, a["__ba"].eqNullSafe(b["__bb"]), "full")
            .select(
                F.coalesce("__ba", "__bb").alias("bucket"),
                F.coalesce("n_a", F.lit(0)).alias("n_a"),
                F.coalesce("n_b", F.lit(0)).alias("n_b"),
            )
        )
        t = c.agg(
            F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"), F.count(F.lit(1)).alias("nb")
        )
        p = c.crossJoin(F.broadcast(t)).select(
            "bucket",
            "n_a",
            "n_b",
            ((F.col("n_a") + 1) / (F.col("ta") + F.col("nb")).cast("double")).alias("pa"),
            ((F.col("n_b") + 1) / (F.col("tb") + F.col("nb")).cast("double")).alias("pb"),
        )
        return p.select(
            "bucket",
            "n_a",
            "n_b",
            F.round("pa", 6).alias("p_a"),
            F.round("pb", 6).alias("p_b"),
            F.round(
                (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 6
            ).alias("psi_term"),
        )
