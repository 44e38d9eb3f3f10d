"""Incremental PQ (product-quantization) index over a vector stream.

The IVF counterpart (streaming/ann_index.py) stores raw vectors in
cells; this one stores only m-byte CODE arrays — the 32× compression
that makes a 100 TB embedding corpus servable — with the same
train-once / stream-assignments lifecycle every production ANN
deployment separates:

- CODEBOOKS train once (first wave, ``pq_train``'s Lloyd rounds) and
  freeze — they are the index geometry; changing them invalidates every
  stored code, i.e. an offline rebuild, not an ingest. NOTE the raw
  vectors are NOT retained (that is the point of PQ), so ``retrain``
  here requires the caller to supply a training corpus — the index
  cannot rebuild geometry from codes alone, and says so loudly.
- CODES stream: each arriving vector encodes against the frozen book
  (``pq_encode_rows`` — ONE zero-shuffle Arrow pass covering all m
  subspaces, book dict cached driver-side and shipped in the task
  closure) and upserts keep-latest on the vector id, so re-ingesting a
  vector moves it to its current codes. Per-batch work ∝ wave × (m·k);
  nothing re-reads old vectors, and the book parquet is read at most
  once per process (reattach).

Queries score by asymmetric distance computation against the CURRENT
code state (``pq_adc_topk`` — the same serving math as the batch
``pq_topk``, bit-identical sims for identical codes).

STALENESS: frozen codebooks degrade when the ingest distribution
drifts — quantization error (the winning codeword's squared L2, which
the encode pass computes anyway) creeps up with no error anywhere.
Each ingest records the wave's mean error in the same ``DriftLog`` as
the IVF index, with the same fit-ratio contract — the codes and the
drift row are ledgers of the index directory, committed with one
manifest replace per wave — and versions its book the same way:
``book/w<wave>``, read once that wave's codes commit
(``ann_index.committed_geometry``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_playground_spark.functions.similarity import (
    pq_adc_topk,
    pq_encode_rows,
    pq_train,
)
from flink_playground_spark.streaming.ann_index import DriftLog, committed_geometry
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


class StreamingPQIndex:
    """Maintain PQ codes over vector waves; ADC-query any time."""

    def __init__(
        self,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        m: int = 8,
        n_codes: int = 16,
        iters: int = 2,
    ):
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim, self.m, self.n_codes, self.iters = dim, m, n_codes, iters
        self.book_path = f"{path}/book"
        self.drift = DriftLog(path, "mean_err")
        self.codes = TransactionalKeyState(path, ["vid"], ledger="codes")
        # the frozen geometry is BOUNDED (m × n_codes entries) and
        # immutable between (re)trains, so it lives driver-side for the
        # index's lifetime: the parquet copy is the durable/reattach
        # format, read at most ONCE per process and version — round 7
        # re-read and re-collected it on every ingest AND query, the
        # largest orchestration cost on the bench board.
        self._book_cache: tuple[str, dict] | None = None  # (path, book)

    def _book(self, spark: SparkSession) -> tuple[str, dict] | None:
        """The committed (path, {(sub, code): codeword}) book, cached
        driver-side; one parquet read on reattach. None before the
        first train commits."""
        path = committed_geometry(self.book_path, self.codes)
        if path is not None and (self._book_cache is None or self._book_cache[0] != path):
            self._book_cache = (path, {
                (int(r["sub"]), int(r["code"])): [float(x) for x in r["codeword"]]
                for r in spark.read.parquet(path).collect()
            })
        return None if path is None else self._book_cache

    def _book_df(self, spark: SparkSession) -> DataFrame:
        """The cached book as the bounded (sub, code, codeword) relation
        pq_adc_topk broadcasts — rebuilt from the dict, no parquet read."""
        return spark.createDataFrame(
            [(s, c, cw) for (s, c), cw in sorted(self._book(spark)[1].items())],
            "sub int, code int, codeword array<double>",
        )

    def _train(self, corpus: DataFrame) -> tuple[str, dict]:
        """Train a book over ``corpus`` into the directory of the wave
        about to fold (``committed_geometry``); its (path, book). The
        driver-side book comes straight from pq_train (it holds the
        book across Lloyd rounds).

        The durable parquet copy is written in-process by pyarrow: the
        geometry is m × n_codes tiny rows, and the former ``book_df.write.parquet`` cost a ~0.7s
        Spark job per index build (round-13 profile) to move a few KB."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as papq

        _, book = pq_train(
            corpus, self.id_col, self.vec_col, self.dim, self.m,
            self.n_codes, self.iters, _return_book_dict=True,
        )
        path = f"{self.book_path}/w{self.drift.next_wave()}"
        rows = sorted(book.items())
        os.makedirs(path, exist_ok=True)
        papq.write_table(
            pa.table(
                {
                    "sub": pa.array([s for (s, _), _ in rows], pa.int32()),
                    "code": pa.array([c for (_, c), _ in rows], pa.int32()),
                    "codeword": pa.array(
                        [cw for _, cw in rows], pa.list_(pa.float64())
                    ),
                }
            ),
            f"{path}/book.parquet",
        )
        return path, book

    def _fold(self, vectors: DataFrame, phase: str, book: tuple[str, dict]) -> None:
        """Encode ``vectors`` against ``book`` and fold the codes
        into state and the drift log, in one commit. The encode is ONE
        zero-shuffle Arrow stage (``pq_encode_rows``: all m subspaces per
        batch, no explode, no (vid)-keyed re-assembly exchange; codes
        bit-identical to the exploded batch encoder) that also yields each vector's
        quantization error (Σ over subspaces of the winning codeword's
        squared L2) as ``err``. LAZY checkpoint: the drift log's stats
        job both executes the encode pass and materializes the
        checkpoint blocks, so the wave costs no separate materialization
        job; the state merge then reads the checkpointed rows, never
        re-encoding."""
        encoded = pq_encode_rows(
            vectors, book[1], self.id_col, self.vec_col, self.dim, self.m, keep_err=True
        )
        self.drift.fold(self.codes, encoded.localCheckpoint(eager=False), phase)
        self._book_cache = book  # committed with the fold

    def ingest(self, batch: DataFrame) -> None:
        """Encode a vector wave against the frozen codebooks and upsert
        the codes. The first wave also trains (then freezes) the book.
        Every wave appends its quantization error to the drift log."""
        book = self._book(batch.sparkSession)
        if book is None:
            self._fold(batch, "train", self._train(batch))
        else:
            self._fold(batch, "ingest", book)

    def drift_report(self, spark: SparkSession) -> DataFrame:
        """Per-wave fit series (``DriftLog.drift_report``); the metric is
        ``mean_err``, the mean squared quantization error."""
        return self.drift.drift_report(spark)

    def needs_retrain(
        self,
        spark: SparkSession,
        threshold: float = 1.5,
        min_delta: float = 0.05,
    ) -> bool:
        """``DriftLog.needs_retrain`` in quantization-error units."""
        return self.drift.needs_retrain(spark, threshold, min_delta)

    def retrain(self, spark: SparkSession, corpus: DataFrame) -> None:
        """Offline geometry rebuild from a CALLER-SUPPLIED training
        corpus (codes are lossy — the index cannot reconstruct training
        vectors), then re-encode and upsert that corpus under the new
        book and reset the fit baseline. Vectors not in ``corpus`` keep
        codes from the OLD geometry and should be re-ingested — the same
        caveat as any PQ index rebuild without stored raws."""
        self._fold(corpus, "retrain", self._train(corpus))

    def query(self, spark: SparkSession, queries: DataFrame, k: int = 5) -> DataFrame:
        """Approximate top-k neighbors of each query vector from the
        current code state by ADC — (query_id, neighbor_id, sim, rank),
        bit-identical to the batch ``pq_topk`` serving math."""
        state = self.codes.read(spark)
        if state is None:
            raise ValueError("PQ index state is empty — ingest first")
        return pq_adc_topk(
            state.select("vid", "codes"),
            self._book_df(spark),
            queries,
            self.id_col,
            self.vec_col,
            self.dim,
            self.m,
            self.n_codes,
            k,
        )
