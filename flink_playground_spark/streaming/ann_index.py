"""Incremental ANN index: IVF cell assignments over a vector stream.

The batch ``ivf_topk`` (functions/similarity.py) trains centroids and
assigns the whole corpus per call; a serving system separates the two
lifecycles the way every production ANN deployment does:

- CENTROIDS train once (here: on the first wave, Lloyd-refined) and
  freeze — they are the index GEOMETRY, and changing them means
  reassigning everything, i.e. an offline rebuild, not an ingest;
- ASSIGNMENTS stream: each arriving vector joins its nearest frozen
  centroid and upserts into the cells' ``TransactionalKeyState``
  (keep-latest on the vector id, exactly once per wave — re-ingesting a
  vector moves it to its current cell).
  Per-batch work ∝ wave × centroids; nothing re-reads old vectors.

Queries probe ``nprobe`` cells against the CURRENT state — candidates
come from the cell join, never a cross product, and their cosines are
the exact scores (same ``cosine`` as the batch path), so every returned
similarity matches the brute-force value bit-for-bit even though the
candidate SET is approximate.

STALENESS: frozen geometry silently degrades when the ingest
distribution drifts — new vectors land far from every centroid, cells
bloat unevenly, recall drops with no error anywhere. Each ingest
therefore records the wave's FIT (mean cosine distance of its vectors
to their assigned centroid, a per-wave aggregate of the assignment the
ingest computes anyway — zero extra passes). ``drift_report`` exposes
the series; ``needs_retrain`` compares the latest wave's drift against
the geometry's own training fit (ratio > threshold ⇒ stale);
``retrain`` is the explicit offline rebuild: re-run Lloyd over the
CURRENT state, swap the geometry, reassign every stored vector once,
and reset the fit baseline. The trigger is exposed, not automatic —
rebuild cost is a capacity decision, the engine's job is to make the
drift visible and the rebuild one call.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_playground_spark.functions.similarity import (
    cosine,
    ivf_assign,
    kmeans_centroids,
)
from flink_playground_spark.streaming.txn_state import TransactionalKeyState
from flink_playground_spark.streaming.wave_index import release_checkpoint

# the writer id of an index's state; its batch ids are drift-log waves
_WRITER = "waves"


class DriftLog:
    """Per-wave fit log of a frozen-geometry index: one ``(wave, phase,
    n, <metric>)`` row per wave, the metric being the wave's mean fit
    error (IVF: cosine distance to the assigned centroid; PQ: squared
    quantization error).

    The wave number is also the state's batch id and keep-latest order
    (``fold``), and the row is appended AFTER the state commit: a wave
    re-ingested after a crash between the two finds its batch committed,
    skips the merge, and writes its row once."""

    def __init__(self, path: str, metric: str):
        self.path = path
        self.metric = metric
        self._next: int | None = None  # counted from the log on reattach

    def next_wave(self) -> int:
        if self._next is None:
            # one tiny file per wave, counted from the footers: no Spark job
            self._next = (
                ds.dataset(self.path, format="parquet").count_rows()
                if os.path.isdir(self.path)
                else 0
            )
        return self._next

    def append(self, wave: int, phase: str, n: int, value: float | None) -> None:
        """Write the wave's row in-process (pyarrow, no Spark job); one
        file per wave, so a re-append rewrites the same row."""
        os.makedirs(self.path, exist_ok=True)
        papq.write_table(
            pa.table(
                {
                    "wave": pa.array([wave], pa.int32()),
                    "phase": pa.array([phase], pa.string()),
                    "n": pa.array([n], pa.int64()),
                    self.metric: pa.array([value], pa.float64()),
                }
            ),
            f"{self.path}/wave-{wave:06d}.parquet",
        )
        self._next = wave + 1

    def fold(self, state: TransactionalKeyState, rows: DataFrame, phase: str) -> None:
        """Fold one checkpointed wave — keyed on ``vid``, with a per-row
        ``err`` — into ``state`` (keep-latest, the wave number as batch
        id and order) and into the log; the checkpoint is released when
        the fold ends, committed or raised. One stats job, then the
        state merge."""
        try:
            wave = self.next_wave()
            r = rows.agg(F.count(F.lit(1)).alias("n"), F.avg("err").alias("e")).first()
            state.merge_keep_latest(
                _WRITER, wave, rows.drop("err").withColumn("__seq", F.lit(wave)), "__seq"
            )
            self.append(wave, phase, int(r["n"]), r["e"])
        finally:
            release_checkpoint(rows)

    def drift_report(self, spark: SparkSession) -> DataFrame:
        """Per-wave fit series: (wave, phase, n, <metric>, baseline,
        ratio). ``baseline`` is the most recent train/retrain fit at or
        before the wave — the geometry each wave was assigned under."""
        # bounded global window: one row per wave; single_group pins the
        # bound and silences the warning
        from flink_playground_spark.operators.windows import single_group

        m = (
            Window.partitionBy(single_group("wave"))
            .orderBy("wave")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        base = F.last(
            F.when(F.col("phase").isin("train", "retrain"), F.col(self.metric)),
            ignorenulls=True,
        ).over(m)
        return (
            spark.read.parquet(self.path)
            .withColumn("baseline", base)
            # try_divide: a perfectly-fit geometry has baseline 0.0 and
            # under ANSI x/0 throws; NULL ratio is handled (and still
            # triggers) in needs_retrain via the absolute floor
            .withColumn("ratio", F.try_divide(F.col(self.metric), F.col("baseline")))
        )

    def needs_retrain(self, spark: SparkSession, threshold: float, min_delta: float) -> bool:
        """True when the latest wave's fit error exceeds ``threshold`` ×
        the current geometry's training fit AND the absolute degradation
        exceeds ``min_delta`` (metric units). The floor keeps a snug
        geometry (baseline ≈ 0, where held-out noise inflates the ratio)
        from triggering a full rebuild over an immaterial absolute
        change. One-row collect of a bounded (per-wave) log."""
        last = self.drift_report(spark).orderBy(F.desc("wave")).limit(1).collect()
        if not last or last[0]["baseline"] is None:
            return False
        r = last[0]
        if r[self.metric] - r["baseline"] <= min_delta:
            return False
        # a perfectly-fit geometry (baseline 0.0 — Spark's /0 yields a
        # NULL ratio, and an fp-epsilon-negative baseline flips its
        # sign) must not mask drift: past the absolute floor, a
        # degenerate baseline alone is staleness
        if r["ratio"] is None or r["baseline"] <= 0:
            return True
        return r["ratio"] > threshold


class StreamingIVFIndex:
    """Maintain IVF cell state over vector waves; query any time."""

    def __init__(
        self,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        kmeans_iters: int = 2,
        n_buckets: int = 8,
    ):
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        self.kmeans_iters = kmeans_iters
        self.centroids_path = f"{path}/centroids"
        self.drift = DriftLog(f"{path}/metrics", "mean_drift")
        self.cells = TransactionalKeyState(f"{path}/cells", ["vid"], n_buckets)
        self._trained = os.path.isdir(self.centroids_path)

    def _centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.centroids_path)

    def _fold(self, vectors: DataFrame, phase: str) -> None:
        """Assign ``vectors`` to the current centroids — (vid, vec,
        centroid_id) plus the fit error — and fold them into the cells
        and the drift log; one assignment pass feeds both."""
        assigned = (
            ivf_assign(
                vectors, self._centroids(vectors.sparkSession), self.id_col, self.vec_col,
                nprobe=1, keep_sim=True,
            )
            .withColumn("err", 1.0 - F.col("csim"))
            .drop("csim")
            .localCheckpoint(eager=True)
        )
        self.drift.fold(self.cells, assigned, phase)

    def ingest(self, batch: DataFrame) -> None:
        """Assign a vector wave to frozen centroids and upsert the cells.
        The first wave also trains (then freezes) the centroids. Every
        wave appends its fit to the drift log."""
        first = not self._trained
        if first:
            kmeans_centroids(
                batch, self.id_col, self.vec_col, self.n_centroids, self.kmeans_iters
            ).write.mode("overwrite").parquet(self.centroids_path)
            self._trained = True
        self._fold(batch, "train" if first else "ingest")

    def drift_report(self, spark: SparkSession) -> DataFrame:
        """Per-wave fit series (``DriftLog.drift_report``); the metric is
        ``mean_drift``, the mean cosine distance to the assigned centroid."""
        return self.drift.drift_report(spark)

    def needs_retrain(
        self,
        spark: SparkSession,
        threshold: float = 1.5,
        min_delta: float = 0.05,
    ) -> bool:
        """``DriftLog.needs_retrain`` in cosine-distance units."""
        return self.drift.needs_retrain(spark, threshold, min_delta)

    def retrain(self, spark: SparkSession) -> None:
        """Offline geometry rebuild: Lloyd over the CURRENT state, swap
        centroids, reassign every stored vector once, reset the fit
        baseline. Cost is one full pass over state — the documented
        rebuild lifecycle, now one call instead of a new index."""
        state = self.cells.read(spark)
        if state is None:
            raise RuntimeError("retrain before any ingest")
        corpus = state.select(
            F.col("vid").alias(self.id_col), F.col("vec").alias(self.vec_col)
        )
        kmeans_centroids(
            corpus, self.id_col, self.vec_col, self.n_centroids, self.kmeans_iters
        ).write.mode("overwrite").parquet(self.centroids_path)
        self._fold(corpus, "retrain")

    def query(
        self, spark: SparkSession, queries: DataFrame, k: int = 5, nprobe: int = 4
    ) -> DataFrame:
        """Approximate top-k neighbors from the current cell state; the
        returned sims are exact cosines of the candidates."""
        state = self.cells.read(spark)
        probes = ivf_assign(
            queries, self._centroids(spark), self.id_col, self.vec_col, nprobe=nprobe
        )
        cand = (
            probes.alias("q")
            .join(
                state.alias("c"),
                (F.col("q.centroid_id") == F.col("c.centroid_id"))
                & (F.col("q.vid") != F.col("c.vid")),
            )
            .select(
                F.col("q.vid").alias("query_id"),
                F.col("c.vid").alias("neighbor_id"),
                F.col("q.vec").alias("qvec"),
                F.col("c.vec").alias("cvec"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        scored = cand.withColumn(
            "sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
        ).select("query_id", "neighbor_id", "sim")
        w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
        return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
