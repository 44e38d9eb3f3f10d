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
the IVF index, with the same fit-ratio contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_playground_spark.functions.similarity import (
    pq_adc_topk,
    pq_encode_rows,
    pq_train,
)
from flink_playground_spark.streaming.ann_index import DriftLog
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
        n_buckets: int = 8,
    ):
        import os

        self.id_col = id_col
        self.vec_col = vec_col
        self.dim, self.m, self.n_codes, self.iters = dim, m, n_codes, iters
        self.book_path = f"{path}/book"
        self.drift = DriftLog(f"{path}/metrics", "mean_err")
        self.codes = TransactionalKeyState(f"{path}/codes", ["vid"], n_buckets)
        self._trained = os.path.isdir(self.book_path)
        # the frozen geometry is BOUNDED (m × n_codes entries) and
        # immutable between (re)trains, so it lives driver-side for the
        # index's lifetime: the parquet copy is the durable/reattach
        # format, read at most ONCE per process — round 7 re-read and
        # re-collected it on every ingest AND query, the largest
        # orchestration cost on the bench board.
        self._book_dict: dict | None = None

    def _book(self, spark: SparkSession) -> dict:
        """The frozen {(sub, code): codeword} book, cached driver-side;
        falls back to one parquet read on reattach."""
        if self._book_dict is None:
            self._book_dict = {
                (int(r["sub"]), int(r["code"])): [float(x) for x in r["codeword"]]
                for r in spark.read.parquet(self.book_path).collect()
            }
        return self._book_dict

    def _book_df(self, spark: SparkSession) -> DataFrame:
        """The cached book as the bounded (sub, code, codeword) relation
        pq_adc_topk broadcasts — rebuilt from the dict, no parquet read."""
        return spark.createDataFrame(
            [(s, c, cw) for (s, c), cw in sorted(self._book(spark).items())],
            "sub int, code int, codeword array<double>",
        )

    def _set_book(
        self, spark: SparkSession, book_df: DataFrame, book_dict: dict | None = None
    ) -> None:
        """Freeze a newly trained geometry: persist the durable parquet
        copy and cache the driver-side dict — taken straight from
        pq_train when available (it holds the book driver-side across
        Lloyd rounds), else collected from the bounded local relation.

        The durable parquet copy is written in-process by pyarrow, as
        the drift log's rows are: the geometry is m × n_codes tiny
        rows, and the former ``book_df.write.parquet`` cost a ~0.7s
        Spark job per index build (round-13 profile) to move a few KB."""
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as papq

        self._book_dict = book_dict or {
            (int(r["sub"]), int(r["code"])): [float(x) for x in r["codeword"]]
            for r in book_df.collect()
        }
        rows = sorted(self._book_dict.items())
        if os.path.isdir(self.book_path):
            shutil.rmtree(self.book_path)  # overwrite semantics (retrain)
        os.makedirs(self.book_path, exist_ok=True)
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
            f"{self.book_path}/book.parquet",
        )
        self._trained = True

    def _fold(self, vectors: DataFrame, phase: str) -> None:
        """Encode ``vectors`` against the current book and fold the codes
        into state and the drift log. The encode is ONE zero-shuffle
        Arrow stage (``pq_encode_rows``: all m subspaces per batch, no
        explode, no (vid)-keyed re-assembly exchange; codes bit-identical
        to the exploded batch encoder) that also yields each vector's
        quantization error (Σ over subspaces of the winning codeword's
        squared L2) as ``err``. LAZY checkpoint: the drift log's stats
        job both executes the encode pass and materializes the
        checkpoint blocks, so the wave costs no separate materialization
        job; the state merge then reads the checkpointed rows, never
        re-encoding."""
        encoded = pq_encode_rows(
            vectors, self._book(vectors.sparkSession), self.id_col, self.vec_col,
            self.dim, self.m, keep_err=True,
        )
        self.drift.fold(self.codes, encoded.localCheckpoint(eager=False), phase)

    def ingest(self, batch: DataFrame) -> None:
        """Encode a vector wave against the frozen codebooks and upsert
        the codes. The first wave also trains (then freezes) the book.
        Every wave appends its quantization error to the drift log."""
        spark = batch.sparkSession
        first = not self._trained
        if first:
            bdf, bdict = pq_train(
                batch, self.id_col, self.vec_col, self.dim, self.m,
                self.n_codes, self.iters, _return_book_dict=True,
            )
            self._set_book(spark, bdf, bdict)
        self._fold(batch, "train" if first else "ingest")

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
        bdf, bdict = pq_train(
            corpus, self.id_col, self.vec_col, self.dim, self.m,
            self.n_codes, self.iters, _return_book_dict=True,
        )
        self._set_book(spark, bdf, bdict)
        self._fold(corpus, "retrain")

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
