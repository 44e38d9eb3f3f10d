"""Incremental search-index maintenance: BM25 over a document stream.

Batch ``bm25_topk`` (functions/tfidf.py) scans the corpus per query;
a serving system keeps the INDEX — postings (doc, term, tf), document
lengths, and the corpus scalars — continuously up to date as documents
arrive, and answers queries from the index alone without ever
re-reading a document.

All three state relations are mergeable aggregates, so ingestion is
exactly the bucketed-state pattern:

- postings ``(term, doc) -> tf``: per-wave term counts SUM in (append-
  only ingestion: a doc arrives once, so waves never overlap on
  (term, doc));
- doclen ``doc -> dl``: per-wave doc lengths are final on arrival;
- the corpus scalars (N, sum_dl) derive from doclen at query time — two
  numbers, not state to maintain.

Per-batch work ∝ the wave's tokens; nothing re-scans ingested docs.
Queries score exactly like ``bm25_topk`` — same rational idf, same
fixed-order term sum — so a drained index answers bit-identically to
the batch function over the same corpus (the test's oracle).

Both stores are TRANSACTIONAL (txn_state.py): tf/dl are aggregate
merges, which double-count under foreachBatch's at-least-once delivery
unless replays are skipped — pass the streaming epoch id as
``batch_id`` and a re-delivered wave is a no-op (r2 ADVICE; the same
hole chunkdedup was migrated off in r2). They are the ``postings`` and
``doclen`` ledgers of ONE state directory, so a wave lands in both with
one manifest replace and one replay mark: a crash leaves the index at
the previous wave, never with one store a wave ahead of the other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_playground_spark.functions.tfidf import whitespace_tokens
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


class StreamingSearchIndex:
    """Maintain BM25 index state over document waves; query any time."""

    def __init__(
        self,
        path: str,
        id_col: str,
        text_col: str,
        writer_id: str = "search-index",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.writer_id = writer_id
        self.postings = TransactionalKeyState(path, ["term", id_col], ledger="postings")
        self.doclen = TransactionalKeyState(path, [id_col], ledger="doclen")

    def ingest(self, batch: DataFrame, batch_id: int | None = None) -> bool:
        """Fold a document wave into the index (work ∝ wave tokens),
        exactly once per (writer_id, batch_id). Pass the foreachBatch
        epoch id as ``batch_id``; a replayed batch returns False and
        changes nothing. Without one, the next unseen id is assigned.
        Both stores commit in one manifest replace."""
        if batch_id is None:
            batch_id = self.postings.next_batch(self.writer_id)
        toks = whitespace_tokens(batch, self.id_col, self.text_col)
        tf = toks.groupBy("term", self.id_col).agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
        dl = toks.groupBy(self.id_col).agg(F.count(F.lit(1)).cast("long").alias("dl"))
        writes = [
            self.postings.stage_aggregate(tf, [F.sum("tf").cast("long").alias("tf")]),
            self.doclen.stage_aggregate(dl, [F.sum("dl").cast("long").alias("dl")]),
        ]
        return TransactionalKeyState.commit_all(writes, self.writer_id, batch_id) is not None

    def query(
        self,
        spark: SparkSession,
        query_terms: list[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """BM25 top-k from index state alone — no document access. Same
        arithmetic as ``bm25_topk`` (rational idf, fixed-order term sum,
        two-level salted rank)."""
        id_col = self.id_col
        dl = self.doclen.read(spark)
        g = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        tfq = self.postings.read(spark).filter(F.col("term").isin(*query_terms))
        dft = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        contrib = (
            tfq.join(F.broadcast(dft), "term")
            .join(dl, id_col)
            .join(F.broadcast(g))
            .withColumn(
                "c",
                ((F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
                * (
                    (F.col("tf") * F.lit(k1 + 1.0))
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * ((F.col("dl") * F.col("n")) / F.col("sum_dl"))
                        )
                    )
                ),
            )
        )
        per_term = contrib.groupBy(id_col).agg(
            *[
                F.coalesce(
                    F.first(F.when(F.col("term") == t, F.col("c")), ignorenulls=True),
                    F.lit(0.0),
                ).alias(f"__c{i}")
                for i, t in enumerate(query_terms)
            ]
        )
        score = None
        for i in range(len(query_terms)):
            col = F.col(f"__c{i}")
            score = col if score is None else score + col
        scored = per_term.withColumn("score", F.round(score, 6)).withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(64))
        )
        w_local = Window.partitionBy("__salt").orderBy(F.desc("score"), F.asc(id_col))
        survivors = scored.withColumn("__lr", F.row_number().over(w_local)).filter(
            F.col("__lr") <= k
        )
        # single-partition by construction (<= k*64 salt survivors);
        # single_group keeps gate runs warning-free — see tfidf.py
        from flink_playground_spark.operators.windows import single_group

        w_global = Window.partitionBy(single_group(id_col)).orderBy(
            F.desc("score"), F.asc(id_col)
        )
        return (
            survivors.withColumn("rank", F.row_number().over(w_global).cast("long"))
            .filter(F.col("rank") <= k)
            .select(id_col, "score", "rank")
        )
