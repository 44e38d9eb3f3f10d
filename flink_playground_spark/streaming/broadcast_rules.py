"""Broadcast-state pattern: a low-volume CONTROL stream updates rules,
a high-volume DATA stream is evaluated against the rules *as of* its
wave — Flink's ``BroadcastProcessFunction`` / ``MapStateDescriptor``
(the canonical Flink dynamic-fraud-rules example).

The reference repo's Flink version ships this as a first-class
DataStream pattern; re-expressed Spark-first:

- rule state is a keyed keep-latest table in
  :class:`~flink_playground_spark.streaming.txn_state.TransactionalKeyState`
  (exactly-once per control wave — a replayed rule update cannot
  resurrect a deleted rule or double-apply a change). Tombstones
  (``op = 'D'``) stay in state so keep-latest ordering wins over any
  replayed earlier upsert; reads filter them out.
- per data wave the CURRENT rule snapshot (small by construction — it
  is the state a Flink job literally broadcasts to every task) is
  ``F.broadcast``-joined to the wave: the evaluation is a codegen'd
  hash join, no shuffle of the data side, exactly how the 100 TB
  version should run.
- an event matching several rules emits one output row per match
  (Flink's ``processElement`` may emit any number of results).

Ordering contract between the two streams: control wave ``k`` is
applied before data wave ``k`` — Flink gives NO cross-stream ordering
guarantee, so any test/oracle fixes one; this is the one used by the
``streaming_broadcast_rules`` query and its SQL oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.txn_state import TransactionalKeyState

RULE_COLS = ("rule_id", "seq", "op", "event_type", "min_value", "action")


class BroadcastRulesEngine:
    """Rules = (rule_id, seq, op['U'|'D'], event_type, min_value, action):
    an event matches a live rule when its ``event_type`` equals the
    rule's and its ``value >= min_value``."""

    def __init__(self, path: str, writer_id: str = "rules"):
        self.writer_id = writer_id
        self.state = TransactionalKeyState(f"{path}/rules", ["rule_id"])

    def update_rules(self, control_batch: DataFrame, batch_id: int) -> bool:
        """Fold one control wave in (keep-latest per rule_id by ``seq``,
        tombstones included), exactly once per (writer, batch)."""
        return self.state.merge_keep_latest(
            self.writer_id,
            batch_id,
            control_batch.select(*RULE_COLS),
            order_col="seq",
            tiebreakers=("op",),
        )

    def current_rules(self, spark: SparkSession) -> DataFrame:
        """Live rules (tombstones filtered). Empty-but-valid before any
        control wave."""
        st = self.state.read(spark)
        if st is None:
            return spark.createDataFrame(
                [], "rule_id string, seq long, op string, event_type string, "
                "min_value double, action string"
            )
        return st.filter(F.col("op") != "D")

    def process(
        self,
        data_batch: DataFrame,
        select_cols: Sequence[str] = ("event_id", "user_id", "event_type", "value"),
    ) -> DataFrame:
        """Evaluate one data wave against the CURRENT rule snapshot:
        broadcast hash join on event_type + the value predicate pushed
        into the join condition. One output row per (event, rule) match,
        tagged with the matched rule's id and action."""
        rules = self.current_rules(data_batch.sparkSession).select(
            F.col("rule_id"),
            F.col("event_type").alias("__r_type"),
            F.col("min_value"),
            F.col("action"),
        )
        cond = (F.col("event_type") == F.col("__r_type")) & (
            F.col("value") >= F.col("min_value")
        )
        return (
            data_batch.join(F.broadcast(rules), cond, "inner")
            .select(*select_cols, "rule_id", "action")
        )
