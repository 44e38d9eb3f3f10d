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
the series; the rows are the ``drift`` ledger of the index directory,
committed with the wave's cells in one manifest replace (``DriftLog``).
``needs_retrain`` compares the latest wave's drift against
the geometry's own training fit (ratio > threshold ⇒ stale);
``retrain`` is the explicit offline rebuild: re-run Lloyd over the
CURRENT state, swap the geometry, reassign every stored vector once,
and reset the fit baseline. Every (re)trained geometry lands in its own
``centroids/w<wave>`` directory and is read only once its wave's cells
commit (``committed_geometry``), so a crash never leaves cells beside
centroids they were not assigned under. The trigger is exposed, not
automatic — rebuild cost is a capacity decision, the engine's job is to
make the drift visible and the rebuild one call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_playground_spark.functions.similarity import (
    cosine,
    ivf_assign,
    kmeans_centroids,
)
from flink_playground_spark.streaming.txn_state import ManifestRecords, TransactionalKeyState
from flink_playground_spark.streaming.wave_index import release_checkpoint

# the writer id of an index's log; its batch ids are drift-log waves
_WRITER = "waves"


def committed_geometry(root: str, state: TransactionalKeyState) -> str | None:
    """The newest ``root/w<wave>`` geometry whose wave ``state`` has
    committed, or None. Each (re)train writes a fresh directory named
    after the wave that trains it, so a geometry whose wave never
    committed stays invisible beside the one the state was assigned
    under (and is rewritten when that wave is redelivered)."""
    last = state.next_batch(_WRITER) - 1
    waves = [
        int(d[1:])
        for d in (os.listdir(root) if os.path.isdir(root) else ())
        if d[:1] == "w" and d[1:].isdigit() and int(d[1:]) <= last
    ]
    return f"{root}/w{max(waves)}" if waves else None


class DriftLog(ManifestRecords):
    """Per-wave fit log of a frozen-geometry index: one ``(wave, phase,
    n, <metric>)`` row per wave, the metric being the wave's mean fit
    error (IVF: cosine distance to the assigned centroid; PQ: squared
    quantization error).

    The rows are the ``drift`` ledger of the index directory, kept in
    its manifest. The wave number is the log's next batch id, and
    ``fold`` commits a wave's state merge (keyed on the wave as batch id
    and order) and its row in ONE manifest replace: a crash anywhere in
    a wave leaves neither, so the redelivered wave folds — and records
    its phase — exactly once."""

    def __init__(self, path: str, metric: str):
        super().__init__(path, "drift")
        self.metric = metric

    def next_wave(self) -> int:
        return self.next_batch(_WRITER)

    def fold(self, state: TransactionalKeyState, rows: DataFrame, phase: str) -> None:
        """Fold one checkpointed wave — keyed on ``vid``, with a per-row
        ``err`` — into ``state`` (keep-latest) and the log in one
        commit; the checkpoint is released when the fold ends, committed
        or raised. One stats job, then the state merge."""
        try:
            wave = self.next_wave()
            r = rows.agg(F.count(F.lit(1)).alias("n"), F.avg("err").alias("e")).first()
            cells = rows.drop("err").withColumn("__seq", F.lit(wave))
            row = [wave, phase, int(r["n"]), r["e"]]
            self.commit_all([state.stage_keep_latest(cells, "__seq"), (self, row)], _WRITER, wave)
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
        schema = f"wave int, phase string, n bigint, {self.metric} double"
        return (
            spark.createDataFrame(self.rows(), schema)
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
    ):
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        self.kmeans_iters = kmeans_iters
        self.centroids_path = f"{path}/centroids"
        self.drift = DriftLog(path, "mean_drift")
        self.cells = TransactionalKeyState(path, ["vid"], ledger="cells")

    def _train(self, corpus: DataFrame) -> str:
        """Train centroids over ``corpus`` into the directory of the wave
        about to fold (``committed_geometry``); its path."""
        out = f"{self.centroids_path}/w{self.drift.next_wave()}"
        kmeans_centroids(
            corpus, self.id_col, self.vec_col, self.n_centroids, self.kmeans_iters
        ).write.mode("overwrite").parquet(out)
        return out

    def _fold(self, vectors: DataFrame, phase: str, centroids: str) -> None:
        """Assign ``vectors`` to the ``centroids`` — (vid, vec,
        centroid_id) plus the fit error — and fold them into the cells
        and the drift log; one assignment pass feeds both."""
        assigned = (
            ivf_assign(
                vectors, vectors.sparkSession.read.parquet(centroids), self.id_col,
                self.vec_col, nprobe=1, keep_sim=True,
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
        centroids = committed_geometry(self.centroids_path, self.cells)
        if centroids is None:
            self._fold(batch, "train", self._train(batch))
        else:
            self._fold(batch, "ingest", centroids)

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
        self._fold(corpus, "retrain", self._train(corpus))

    def query(
        self, spark: SparkSession, queries: DataFrame, k: int = 5, nprobe: int = 4
    ) -> DataFrame:
        """Approximate top-k neighbors from the current cell state; the
        returned sims are exact cosines of the candidates."""
        state = self.cells.read(spark)
        centroids = spark.read.parquet(committed_geometry(self.centroids_path, self.cells))
        probes = ivf_assign(queries, centroids, self.id_col, self.vec_col, nprobe=nprobe)
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
