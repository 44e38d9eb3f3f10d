"""Incremental (streaming) chunk-level dedup.

The batch ``chunk_dedup`` query answers "which passages appear in ≥2
documents of this corpus". The streaming variant answers the ingestion
question: as document waves arrive, keep per-passage occurrence state
up to date and know, at any point, every cross-document duplicated
passage seen so far — with per-batch work proportional to the BATCH,
not the corpus.

Design:

- Each micro-batch computes its chunk fingerprints (one window + one
  bounded collect per (doc, chunk) — functions/chunking.py) and
  pre-aggregates them to per-fingerprint partials: (chunk_fp, n_tokens,
  n_occurrences, n_docs, canonical_doc).
- Partials fold into a ``TransactionalKeyState`` via ``merge_aggregate``
  keyed by the foreachBatch epoch id — EXACTLY-ONCE under replay (a
  crash between state write and checkpoint commit re-delivers the
  batch; the committed-batch-id skip makes the re-delivery a no-op
  instead of a double count — streaming/txn_state.py):
  only the hash buckets the batch's fingerprints touch are read and
  rewritten into a fresh ``t<txn>`` directory, so state IO is O(batch
  fingerprints), while total state grows with the corpus. The bucket
  count is the store's default, and each folded batch is one committed
  ``txn`` of the state's manifest.
- The merge is exact because the aggregates are MERGEABLE given
  append-only ingestion (each document arrives in exactly one batch —
  the standard corpus-ingestion contract): occurrence counts and
  per-batch distinct-doc counts sum across batches without overlap,
  and the canonical owner is a running MIN.
- The drained state filtered to n_docs ≥ 2 equals the batch
  ``chunk_dedup`` answer bit-for-bit — that is the oracle test.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_playground_spark.functions.chunking import chunk_fingerprints
from flink_playground_spark.session import scratch_dir
from flink_playground_spark.streaming.txn_state import TransactionalKeyState

def _merge_agg() -> list[F.Column]:
    # built lazily: classic-mode Columns need an active SparkContext
    return [
        F.first("n_tokens").alias("n_tokens"),
        F.sum("n_occurrences").cast("bigint").alias("n_occurrences"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.min("canonical_doc").alias("canonical_doc"),
    ]


def streaming_chunk_dedup(
    doc_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 4,
    work_dir: str | None = None,
) -> DataFrame:
    """Drain ``doc_stream`` (availableNow) through incremental
    chunk-level dedup; returns the duplicated-passage table
    (chunk_fp, n_tokens, n_occurrences, n_docs, canonical_doc) for
    every passage currently known to appear in ≥2 documents."""
    spark = doc_stream.sparkSession
    work = work_dir or scratch_dir("fps_chunkdedup_")
    state = TransactionalKeyState(f"{work}/state", ["chunk_fp"])
    writer = uuid.uuid4().hex  # one logical query per drain; see txn_state docstring
    seen = {"any": False}

    def fold(batch: DataFrame, epoch_id: int) -> None:
        fps = chunk_fingerprints(batch, id_col, text_col).filter(
            F.col("n_tokens") >= min_tokens
        )
        partials = fps.groupBy("chunk_fp").agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct(F.col(id_col)).cast("bigint").alias("n_docs"),
            F.min(F.col(id_col)).alias("canonical_doc"),
        )
        state.merge_aggregate(writer, epoch_id, partials, _merge_agg())
        seen["any"] = True

    q = doc_stream.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
    q.awaitTermination()
    if not seen["any"]:
        raise RuntimeError("document stream produced no data")
    return state.read(spark).filter(F.col("n_docs") >= 2)
