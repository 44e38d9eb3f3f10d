"""Streaming decontamination: flag contaminated docs at ingestion time.

The batch ``contamination_overlap`` (functions/dedupe.py) scans a
finished corpus against an eval set; the ingestion-time question is
"does THIS incoming wave touch the benchmark?", answered per
micro-batch so contaminated documents never enter the training corpus
at all.

Design:

- the eval set's distinct shingle hashes are computed ONCE and persisted
  (they change only when the benchmark does) — a small parquet that
  broadcasts into every batch's overlap join;
- each micro-batch shingles ONLY its own documents (work ∝ batch) and
  semi-joins the eval shingles; hits accumulate in a
  ``TransactionalKeyState`` ledger, exactly once per wave, so the
  running contamination ledger is queryable at any time;
- per-batch cost is flat in stream history: nothing ever re-scans
  previously ingested documents (the property the round-1 streaming
  near-dup lacked and round 2 fixed — same contract here from day one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import shingle_index
from flink_playground_spark.streaming.txn_state import TransactionalKeyState

_WRITER = "decontam"


class StreamingDecontaminator:
    """Maintain a running contamination ledger over document waves."""

    def __init__(
        self,
        path: str,
        eval_df: DataFrame,
        id_col: str,
        text_col: str,
        n: int = 3,
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.eval_path = f"{path}/eval_shingles"
        self.ledger = TransactionalKeyState(f"{path}/ledger", [id_col])
        # benchmark shingles: computed once, persisted, reused every batch
        (
            shingle_index(eval_df, id_col, text_col, n)
            .select("shingle")
            .distinct()
            .write.mode("overwrite")
            .parquet(self.eval_path)
        )

    def apply_batch(self, batch: DataFrame) -> DataFrame:
        """Shingle the batch, overlap against the persisted eval shingles,
        fold hits into the ledger; returns this batch's flagged docs. The
        wave commits as the ledger's next unseen batch id, so re-applying
        a wave whose commit failed folds it once."""
        spark = batch.sparkSession
        ev = F.broadcast(spark.read.parquet(self.eval_path))
        hits = (
            shingle_index(batch, self.id_col, self.text_col, self.n)
            .select("doc", "shingle")
            .join(ev, "shingle")
            .groupBy("doc")
            .agg(F.count_distinct("shingle").cast("long").alias("n_overlap"))
            .select(F.col("doc").alias(self.id_col), "n_overlap")
        )
        # append-only ingestion: each doc arrives once, so keep-latest on
        # the doc id is a plain upsert of its overlap count
        batch_id = self.ledger.next_batch(_WRITER)
        self.ledger.merge_keep_latest(_WRITER, batch_id, hits, "n_overlap")
        return hits

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The running ledger: every contaminated doc seen so far."""
        return self.ledger.read(spark)
