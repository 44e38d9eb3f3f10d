"""Incremental SCD2 maintenance over a changelog stream.

Batch ``scd2_build`` (operators/scd.py) derives validity intervals from
the full changelog; this maintainer keeps the SCD2 table current as
changes arrive in micro-batches. The raw changes live in one
``TransactionalKeyState`` bucketed on the DIMENSION keys, so each batch
rewrites only the buckets it touches (a key's whole history lives in one
bucket), commits with one atomic manifest replace, and is recorded in
the store's writers ledger.

Why the state is the RAW changelog, not the intervals: intervals are a
LOSSY collapse (consecutive equal states merge). With history A@1, A@5
collapsed to A[1, inf), a late-arriving B@3 must resurrect the boundary:
the truth becomes A[1,3) B[3,5) A[5,inf) — underivable from the
collapsed form, which still knows only A@1. Keeping the per-key change
rows makes out-of-order arrival a non-event: ``read`` derives the
intervals from the stored changes with ``scd2_build``'s single window
pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from flink_playground_spark.operators.dedup import dedup_latest
from flink_playground_spark.operators.scd import scd2_build
from flink_playground_spark.streaming.txn_state import BUCKET_COL, TransactionalKeyState

_WRITER = "scd2"


class Scd2Maintainer:
    """Maintain an SCD2 interval table incrementally from change batches."""

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        ts_col: str,
        attr_cols: Sequence[str],
        tiebreaker: str,
    ):
        self.keys = list(keys)
        self.ts_col = ts_col
        self.attr_cols = list(attr_cols)
        self.tiebreaker = tiebreaker
        self.changes = TransactionalKeyState(f"{path}/changes", self.keys)

    def apply_batch(self, batch: DataFrame) -> None:
        """Fold a change batch into the touched buckets' stored changes.
        Redelivered change rows collapse on their full identity (keys,
        ts, tiebreaker), so at-least-once delivery is safe. The batch
        commits as the store's next unseen batch id for writer ``scd2``:
        re-applying a batch whose commit failed folds it once."""
        # the keys fix the bucket, so grouping by it too changes no
        # group and lets the collapse reuse the write's clustering
        identity = [*self.keys, self.ts_col, self.tiebreaker, BUCKET_COL]
        batch_id = self.changes.next_batch(_WRITER)
        self.changes.merge_transform(
            _WRITER,
            batch_id,
            batch,
            lambda base, cols: dedup_latest(base, identity, self.tiebreaker),
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The current SCD2 interval table, or None before any batch."""
        changes = self.changes.read(spark)
        if changes is None:
            return None
        return scd2_build(changes, self.keys, self.ts_col, self.attr_cols, self.tiebreaker)
