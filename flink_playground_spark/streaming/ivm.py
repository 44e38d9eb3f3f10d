"""Incremental view maintenance: retractable aggregates over a
changelog stream — Flink's retract-mode GROUP BY.

The reference's jobs print changelogs (``toChangelogStream``,
``WithStateTtlJob.java:90``); the other half of that contract is
CONSUMING one: a downstream ``GROUP BY`` over an updating table must
apply ``+I``/``+U`` as additions and ``-U``/``-D`` as retractions so
the aggregate always equals the query over the table's current state —
Flink plans this as a retractable aggregate with state per group. This
module is that operator for the micro-batch engine:

- per batch: one hash aggregate turns the ops into SIGNED per-group
  partials (count ±1 per op, measures ±value) — map-side combined, rows
  ∝ groups touched, never ops;
- partials fold into ``TransactionalKeyState`` keyed by the group —
  at-least-once redelivery of a batch is a no-op, so retraction math is
  never applied twice (a double-retract would corrupt the view
  silently, which is why the exactly-once store is load-bearing here);
- measures are aggregated as fixed-scale DECIMAL: a retraction removes
  EXACTLY what the insertion added regardless of arrival order — float
  sums would drift under retraction and the view would diverge from the
  batch answer it must equal;
- a group whose live count reaches zero keeps a tombstone partial row
  (filtered on read); ``prune_tombstones`` — ``TransactionalKeyState
  .prune(cnt = 0)``, one commit that rewrites only the buckets holding
  tombstones — is the periodic cleanup;
- the state's layout (its bucket count) is the store's default, as for
  every fold: no view chooses it.

Correctness contract (pinned by the ``streaming_retractable_agg``
oracle): after consuming the keep-latest changelog of a stream, the
view equals ``GROUP BY`` over the batch keep-latest winners — the
materialized view a user would declare over the deduplicated table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.txn_state import TransactionalKeyState

_ADD_OPS = ("+I", "+U")


class RetractableAggView:
    """Continuous ``GROUP BY group_cols: count(*), sum(measures)`` over
    a changelog input with ``op`` ∈ {+I, -U, +U, -D}."""

    def __init__(
        self,
        path: str,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        op_col: str = "op",
        scale: int = 6,
        writer_id: str = "ivm",
    ):
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.op_col = op_col
        self.scale = scale
        self.writer_id = writer_id
        self.state = TransactionalKeyState(path, self.group_cols)

    def _partials(self, ops: DataFrame) -> DataFrame:
        sign = F.when(F.col(self.op_col).isin(*_ADD_OPS), 1).otherwise(-1)
        aggs = [F.sum(sign).cast("long").alias("cnt")]
        for c in self.sum_cols:
            aggs.append(
                F.sum(sign * F.col(c).cast(f"decimal(18,{self.scale})"))
                .cast(f"decimal(28,{self.scale})")
                .alias(f"sum_{c}")
            )
        return ops.groupBy(*self.group_cols).agg(*aggs)

    def apply_batch(self, ops: DataFrame, batch_id: int) -> bool:
        """Fold one changelog batch in; exactly once per (writer, batch)."""
        merge_aggs = [F.sum("cnt").cast("long").alias("cnt")] + [
            F.sum(f"sum_{c}").cast(f"decimal(28,{self.scale})").alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        return self.state.merge_aggregate(
            self.writer_id, batch_id, self._partials(ops), merge_aggs
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The view's current rows: groups with a live count > 0."""
        st = self.state.read(spark)
        if st is None:
            return None
        return st.filter(F.col("cnt") > 0).select(
            *self.group_cols, "cnt", *[f"sum_{c}" for c in self.sum_cols]
        )

    def prune_tombstones(self, spark: SparkSession) -> int:
        """Drop zero-count groups from state (periodic maintenance)."""
        return self.state.prune(spark, F.col("cnt") == 0)


class RetractableMinMaxView:
    """Continuous ``GROUP BY g: min(v), max(v)`` over a changelog.

    MIN/MAX are the textbook NON-retractable aggregates: a signed
    partial cannot undo "the retracted row WAS the minimum" — the
    engine must remember enough to find the runner-up, which is why
    Flink's retract-mode min/max keeps per-group value state rather
    than a scalar. Here the state is the value MULTISET as
    ``(group, value) -> live count`` rows (the standard formulation):
    an op just increments/decrements its value's count (same signed
    fold, same exactly-once store), and min/max are computed on read
    over values with count > 0 — one hash aggregate over state rows,
    which number distinct (group, value) pairs, not stream history.
    """

    def __init__(
        self,
        path: str,
        group_cols: Sequence[str],
        value_col: str,
        op_col: str = "op",
        writer_id: str = "ivm-minmax",
    ):
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.op_col = op_col
        self.writer_id = writer_id
        self.state = TransactionalKeyState(path, [*self.group_cols, value_col])

    def apply_batch(self, ops: DataFrame, batch_id: int) -> bool:
        sign = F.when(F.col(self.op_col).isin(*_ADD_OPS), 1).otherwise(-1)
        partials = ops.groupBy(*self.group_cols, self.value_col).agg(
            F.sum(sign).cast("long").alias("cnt")
        )
        return self.state.merge_aggregate(
            self.writer_id, batch_id, partials, [F.sum("cnt").cast("long").alias("cnt")]
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        st = self.state.read(spark)
        if st is None:
            return None
        return (
            st.filter(F.col("cnt") > 0)
            .groupBy(*self.group_cols)
            .agg(
                F.min(self.value_col).alias(f"min_{self.value_col}"),
                F.max(self.value_col).alias(f"max_{self.value_col}"),
            )
        )

    def prune_tombstones(self, spark: SparkSession) -> int:
        return self.state.prune(spark, F.col("cnt") == 0)
