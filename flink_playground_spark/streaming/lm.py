"""Incrementally-maintained bigram language model — the streaming half
of ``functions/lm.py``.

Because the batch LM's "model" is literally two count relations plus a
vocabulary count, incremental maintenance is exact: each document wave
contributes integer partial counts, folded through
:class:`TransactionalKeyState.merge_aggregate` (exactly-once per
(writer, batch) — a replayed wave cannot double-count a bigram, which
would silently sharpen every probability it touches). Scoring reads
state alone and applies the SAME arithmetic as the batch scorer, so a
drained stream's scores are bit-identical to scoring the union batch —
the property the test pins.

Both count stores are ledgers (``bigrams``, ``unigrams``) of ONE state
directory, so a wave commits into both with one manifest replace and
one replay mark — the model never holds one wave's bigrams without its
unigrams.

Per-wave work ∝ wave tokens; state size ∝ distinct bigrams/vocabulary,
never corpus size. The vocabulary count is NOT a stored scalar (a
scalar can't merge under replays) — it derives from the unigram store's
row count at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.functions.lm import _tok_array, doc_bigrams
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


class StreamingBigramLM:
    """Fold document waves into bigram/unigram count state; score any
    DataFrame against the CURRENT model."""

    def __init__(self, path: str, writer_id: str = "lm"):
        self.writer_id = writer_id
        self.bigrams = TransactionalKeyState(path, ["w1", "w2"], ledger="bigrams")
        self.unigrams = TransactionalKeyState(path, ["w"], ledger="unigrams")

    def ingest(self, batch: DataFrame, batch_id: int, id_col: str, text_col: str) -> bool:
        """Fold one wave's counts in, exactly once per (writer, batch).
        Unigram rows carry BOTH the history count (occurrences as a
        bigram's first token) and a seen-flag for vocabulary size, so
        one store serves c1 and V. Both stores commit in one manifest
        replace; a replayed batch returns False."""
        bg = doc_bigrams(batch, id_col, text_col)
        pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n"))
        hist = bg.groupBy(F.col("w1").alias("w")).agg(
            F.count(F.lit(1)).cast("long").alias("h")
        )
        seen = (
            batch.select(F.explode(_tok_array(text_col)).alias("w"))
            .groupBy("w")
            .agg(F.lit(0).cast("long").alias("h"))
        )
        uni = (
            hist.unionByName(seen)
            .groupBy("w")
            .agg(F.sum("h").cast("long").alias("h"))
        )
        writes = [
            self.bigrams.stage_aggregate(pairs, [F.sum("n").cast("long").alias("n")]),
            self.unigrams.stage_aggregate(uni, [F.sum("h").cast("long").alias("h")]),
        ]
        return TransactionalKeyState.commit_all(writes, self.writer_id, batch_id) is not None

    def score(
        self, df: DataFrame, id_col: str, text_col: str, alpha: float = 0.5
    ) -> DataFrame:
        """Per-doc average bigram log-prob under the CURRENT state —
        identical arithmetic to functions/lm.py: bigram_lm_scores, so a
        drained stream scores bit-identically to the batch model.

        Like the batch scorer, this is the SELF-scoring form: a bigram
        absent from the model (possible only when ``df`` was never
        ingested) drops out of the average instead of receiving the
        smoothed floor — acceptable for in-corpus outlier ranking; add
        an anti-join floor term before using it on novel text."""
        spark: SparkSession = df.sparkSession
        c2 = self.bigrams.read(spark)
        uni = self.unigrams.read(spark)
        if c2 is None or uni is None:
            raise RuntimeError("LM state is empty — ingest at least one wave first")
        a = float(alpha)
        bg = doc_bigrams(df, id_col, text_col)
        vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
        scored = (
            bg.join(c2.select("w1", "w2", F.col("n").cast("double").alias("c2")), ["w1", "w2"])
            .join(
                uni.select(F.col("w").alias("w1"), F.col("h").cast("double").alias("c1")),
                ["w1"],
            )
            .crossJoin(F.broadcast(vocab))
            .withColumn(
                "lp",
                F.round(
                    F.log(
                        (F.col("c2") + F.lit(a)) / (F.col("c1") + F.lit(a) * F.col("v"))
                    ),
                    6,
                ),
            )
        )
        return scored.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
