"""Allowed lateness + late-data side output — Flink's
``WindowedStream.allowedLateness(...)`` / ``sideOutputLateData(...)``
contract on the Structured Streaming micro-batch engine.

Spark's native watermarking silently DROPS rows that arrive behind the
watermark; Flink's windowed operators are richer and that richness is
what production pipelines rely on:

- a row behind the watermark but within ``allowed_lateness`` still
  lands in its window, refining the previously emitted aggregate;
- a row whose window is past ``watermark - allowed_lateness`` is routed
  to a SIDE OUTPUT (with the watermark that rejected it) instead of
  vanishing — the audit trail that makes data-loss visible.

Reproduced here with ``foreachBatch`` + exactly-once keyed state:

- **watermark**: max event time over all PRIOR batches minus ``delay``
  (Flink advances watermarks between bundles; availableNow replay makes
  this deterministic — batch k's admission decisions depend only on
  batches < k). Each batch's max is one ``high_water`` row kept in the
  state manifest (``ManifestRecords``).
- **window counts**: admitted rows fold per-(window, key) count
  partials into the ``counts`` ``TransactionalKeyState`` ledger of the
  same directory. The counts and the batch's high-water row commit in
  ONE manifest replace under the (writer, batch) replay mark — an
  at-least-once redelivery is a no-op, so refinement never
  double-counts and the watermark never moves twice.
- **side output**: rejected rows append under ``side/b{batch_id}/``
  (overwrite per batch id — replays rewrite the same files, appends
  never duplicate), carrying ``batch_id`` and the rejecting watermark.

Flink drops the window STATE at ``window_end + allowed_lateness``; the
row-routing rule here is the same boundary — a row is sided iff
``window_end + allowed_lateness <= watermark``.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.txn_state import ManifestRecords, TransactionalKeyState


class LateDataWindowCounts:
    """Tumbling-window counts per key with Flink late-data semantics."""

    def __init__(
        self,
        path: str,
        keys=("event_type",),
        ts_col: str = "ts",
        window: str = "1 hour",
        delay_s: float = 1800.0,
        allowed_lateness_s: float = 0.0,
        writer_id: str = "late_window_counts",
    ):
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.window = window
        self.delay = _dt.timedelta(seconds=delay_s)
        self.lateness_us = round(allowed_lateness_s * 1_000_000)
        self.writer_id = writer_id
        self.counts = TransactionalKeyState(
            path, ["window_start", "window_end", *self.keys], ledger="counts"
        )
        self.high_water = ManifestRecords(path, "high_water")  # [batch_id, max ts]
        os.makedirs(f"{path}/side", exist_ok=True)

    def _watermark(self, batch_id: int) -> _dt.datetime | None:
        """Max event time over batches strictly before ``batch_id`` minus
        the delay — replays of batch k see exactly what the first run of
        batch k saw."""
        prior = [
            _dt.datetime.fromisoformat(ts) for b, ts in self.high_water.rows() if b < batch_id
        ]
        return max(prior) - self.delay if prior else None

    # -- per-batch fold -----------------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        win = F.window(F.col(self.ts_col), self.window)
        # four actions consume this frame per batch (side probe, side
        # write, high-water max, count partials) — persist so the wave's
        # input is read once, not per action
        with_win = batch.withColumn("window_start", win.start).withColumn(
            "window_end", win.end
        ).persist()
        wm = self._watermark(batch_id)
        if wm is None:
            admitted, side = with_win, None
        else:
            wm_lit = F.lit(wm.isoformat()).cast(with_win.schema["window_end"].dataType)
            beyond = (
                F.col("window_end") + F.expr(f"INTERVAL '{self.lateness_us}' MICROSECOND")
                <= wm_lit
            )
            admitted = with_win.filter(~beyond)
            side = with_win.filter(beyond).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).withColumn("watermark", wm_lit)
        if side is not None and side.limit(1).count() > 0:
            # per-batch-id dir + overwrite: a replayed batch rewrites its
            # own side files instead of appending duplicates. A batch
            # with no late rows writes nothing — an empty parquet dir
            # has no inferable schema and would break read_side (the
            # decision is deterministic per batch, so replays agree).
            side.write.mode("overwrite").parquet(f"{self.path}/side/b{batch_id}")
        partials = admitted.groupBy("window_start", "window_end", *self.keys).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        writes = [self.counts.stage_aggregate(partials, [F.sum("cnt").cast("long").alias("cnt")])]
        high = with_win.agg(F.max(self.ts_col).alias("m")).first()["m"]  # 1 row, bounded
        if high is not None:
            writes.append((self.high_water, [batch_id, high.isoformat()]))
        TransactionalKeyState.commit_all(writes, self.writer_id, batch_id)
        with_win.unpersist()

    # -- readers ------------------------------------------------------------
    def read_counts(self, spark: SparkSession) -> DataFrame | None:
        return self.counts.read(spark)

    def read_side(self, spark: SparkSession) -> DataFrame | None:
        dirs = [
            f"{self.path}/side/{d}"
            for d in sorted(os.listdir(f"{self.path}/side"))
            if d.startswith("b")
        ]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)


def late_window_counts_stream(
    stream: DataFrame, path: str, **kwargs
) -> LateDataWindowCounts:
    """Drain ``stream`` (availableNow) through a LateDataWindowCounts
    instance; returns the folded aggregator for reading counts + side."""
    agg = LateDataWindowCounts(path, **kwargs)
    q = (
        stream.writeStream.foreachBatch(lambda b, i: agg.apply_batch(b, i))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg
