"""Incremental Window Top-N: Flink SQL's windowed ranking pattern.

Flink's Window Top-N (the window TVF feeding ``ROW_NUMBER() OVER
(PARTITION BY window_start ORDER BY cnt DESC) <= N`` — the documented
companion of the window aggregations the reference's
WindowsProctimeAggJob.java:65-81 runs) keeps, per tumbling window, the
N hottest keys as events arrive. Spark's streaming engine cannot chain
a stateful window aggregate into a rank in one query, so the operator
splits exactly along the Flink runtime's own seam:

- **ingestion** maintains the window aggregate incrementally: each
  micro-batch is pre-aggregated to per-``(window_start, key)`` partial
  counts (map-side combine inside the wave — state traffic is
  ∝ distinct keys touched, not wave rows) and APPENDED as one delta of
  an ``AppendDeltaState`` keyed on ``(window_start, key)``. A wave
  spreads over most keys' hash buckets, so a bucketed merge would
  re-read and rewrite the whole state every wave; the append writes
  only the wave's partials. Counts are mergeable aggregates, which
  double-count under foreachBatch's at-least-once delivery, so the
  store's (writer, batch) replay skip is load-bearing here, exactly as
  in streaming/search_index.py. Every ``compact_every`` appends the
  store folds its deltas into one inside the same commit (SUM of
  ``cnt``, MAX of ``window_end``), which bounds the read fan-in.
- **ranking** is evaluated on read, over state alone (never re-touching
  events): the live deltas are folded per ``(window_start, key)``, then
  ranked per window by row_number with a deterministic tie-break.
  Rank is NOT distributive — a key outside every wave's local top-N can
  win globally — so ranking partial top-Ns would be wrong; ranking the
  folded counts is exact.

State size is ∝ distinct (window, key) summed over the live deltas
(at most ``compact_every`` of them), within a constant of the bound
Flink's own window rank operator carries until retention fires;
``expire`` drops windows past a horizon as a transactional predicate
delete (``AppendDeltaState.prune``, whose survivors land in one delta),
so steady-state size is ∝ live-horizon windows × keys.

Scale shape: per-wave IO ∝ the wave's partials; the read-side fold and
rank share ONE Exchange on window_start (the fold's grouping keys
include it), and Catalyst's window-group-limit pushes N below the sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.operators.windows import tumble_agg
from flink_playground_spark.sqltext import quote
from flink_playground_spark.streaming.txn_state import AppendDeltaState

# the fold of one (window_start, key)'s partial counts, shared by the
# store's compaction and the read. window_end is functionally determined
# by window_start; MAX is a deterministic way to carry it through.
_FOLD = ("MAX(window_end) AS window_end", "SUM(cnt) AS cnt")


class StreamingWindowTopN:
    """Maintain per-window key counts over waves; rank any time."""

    def __init__(
        self,
        path: str,
        key_col: str,
        time_col: str = "ts",
        size: str = "1 hour",
        writer_id: str = "window-topn",
    ):
        self.key_col = key_col
        self.time_col = time_col
        self.size = size
        self.writer_id = writer_id
        self.state = AppendDeltaState(path, ["window_start", key_col])

    def ingest(self, batch: DataFrame, batch_id: int) -> bool:
        """Append one wave's per-(window, key) counts as a delta, exactly
        once per (writer_id, batch_id) — a replayed wave is a no-op.
        Pass the foreachBatch epoch id as ``batch_id``."""
        partials = tumble_agg(
            batch,
            self.time_col,
            self.size,
            [self.key_col],
            [F.count(F.lit(1)).cast("long").alias("cnt")],
        ).select("window_start", self.key_col, "window_end", "cnt")
        return self.state.append(
            partials, self.writer_id, batch_id, [F.expr(e) for e in _FOLD]
        )

    def expire(self, spark: SparkSession, older_than) -> int:
        """Window retention: transactionally drop state for windows that
        END before ``older_than`` (a timestamp or ISO string). Returns
        the partial-count rows removed (one per live delta holding the
        window and key, not one per window and key). The replay ledger
        survives, so a replayed wave touching expired windows is still
        skipped, never resurrected."""
        return self.state.prune(
            spark, F.col("window_end") < F.lit(older_than).cast("timestamp_ntz")
        )

    def topn(self, spark: SparkSession, n: int = 3) -> DataFrame:
        """Current top-``n`` keys per window from state alone:
        (window_start, window_end, key, cnt, rn) with rn 1..n, ties
        broken by key ascending (deterministic, engine-portable)."""
        state = self.state.read(spark)
        if state is None:
            raise ValueError("window top-n state is empty — ingest first")
        # one SQL text, analyzed once; the REPARTITION hint is the plan's
        # one Exchange, which both the fold (grouped by window_start and
        # key) and the per-window rank reuse
        k = quote(self.key_col)
        return spark.sql(
            f"""SELECT * FROM (
                  SELECT window_start, window_end, {k}, cnt,
                         ROW_NUMBER() OVER (PARTITION BY window_start
                                            ORDER BY cnt DESC, {k}) AS rn
                  FROM (SELECT window_start, {k}, {", ".join(_FOLD)}
                        FROM (SELECT /*+ REPARTITION(window_start) */ * FROM {{state}})
                        GROUP BY window_start, {k}))
                WHERE rn <= {int(n)}""",
            state=state,
        )
