"""Incremental frame-hash-set near-dup index: the streaming video
counterpart of StreamingPhashIndex.

The batch query (queries.video_scene_neardup) compares videos by EXACT
Jaccard over their distinct sampled-frame perceptual-hash sets, pruned
with the PPJoin prefix filter. This index maintains that answer as
video waves arrive: which new titles near-duplicate anything seen so
far. Like every streaming index here, it never sees frames — callers
hash upstream (multimodal.frame_phash) and feed (doc, shingle) rows,
one row per distinct frame hash, so state is ~16 longs per title
regardless of payload size.

Candidate generation is PREFIX FILTERING in a *streaming-stable* total
order: the batch operator orders shingles rarest-first (document
frequency), but document frequency drifts as the corpus grows — a
prefix computed in wave 3 under wave-3 frequencies would not be
comparable with state written under wave-1 frequencies. Prefixes here
use ascending shingle VALUE instead: any fixed global total order makes
the prefix theorem hold (two sets with Jaccard >= t share an element
inside both prefixes — Chaudhuri ICDE'06; the proof never uses *which*
order), and hash-value order never changes after the fact, so a
prefix flag written at ingest time stays valid forever. The PPJoin
positional bound (Xiao WWW'08 §3.2) survives for the same reason —
ranks are positions in the same global order on both sides. The cost
of value order vs rarest-first is that a globally-common shingle can
sit inside prefixes (more candidates, never less recall); verification
stays exact either way, so drained == batch.

Per wave: the wave's sets rank + prefix-flag (one window over wave
rows), candidates come from prefix⋈prefix joins against ONLY the state
rows whose shingles the wave's prefixes touch (semi-join prune), and
exact Jaccard verification (dedupe.verify_pairs) reads full sets just
for the candidate docs. State and emitted pairs are ``AppendDeltaState``
ledgers under the per-wave protocol of ``wave_index.WaveIndex``.
Precondition, ENFORCED: each doc's FULL signature arrives in exactly
one wave — a violating wave raises ``OneWavePerDocViolation`` or
quarantines the doc per ``on_conflict``, never silently folds two
conflicting ``(n_sh, rk)`` generations.

Guard scope: the grams ARE per-doc raw facts and the guard's seen-docs
source, so no separate docs ledger is needed; zero-shingle docs store
no rows and are invisible to the guard by construction — and harmless,
they can never seed a pair. Only CROSS-wave redelivery is detectable: a
doc id whose rows within ONE wave mix two frame-hash generations cannot
be told apart — the input is already exploded (doc, shingle) set rows,
and one set is indistinguishable from the union of two (unlike the
other families, whose per-doc payloads make an intra-wave conflict
visible). Callers must emit each doc's frame set atomically into its
wave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_playground_spark.functions.dedupe import verify_pairs
from flink_playground_spark.streaming.wave_index import Ledger, WaveIndex, _with_candidates


class StreamingFrameSetIndex(WaveIndex):
    """Feed ``ingest`` one wave of (doc, shingle) distinct frame-hash
    rows at a time; read ``pairs`` for every (id_a, id_b, jaccard) with
    exact set-Jaccard >= threshold emitted so far."""

    _LEDGERS = (Ledger("grams", ("doc", "shingle"), ("n_sh", "rk"), "grams_removed"),)
    _SCORE = ("jaccard", "double")

    def __init__(self, workdir: str, threshold: float = 0.8, on_conflict: str = "error"):
        """``on_conflict``: the one-wave-per-doc guard's reaction —
        ``"error"`` raises ``OneWavePerDocViolation`` (default),
        ``"quarantine"`` routes the conflicting doc's rows whole to a
        quarantine ledger surfaced in ``ops_metrics``."""
        super().__init__(workdir, on_conflict)
        self.threshold = threshold

    def _source(self, grams: DataFrame) -> DataFrame:
        """Rank each doc's distinct shingles by value, checkpointed;
        n_sh/rk are per-doc, so dropping a quarantined doc's rows leaves
        the survivors' prefixes untouched."""
        g = grams.select("doc", "shingle").distinct()
        counts = g.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        return self._pin(
            g.join(counts, "doc")
            .withColumn(
                "rk", F.row_number().over(Window.partitionBy("doc").orderBy("shingle"))
            )
            .select("doc", "n_sh", "shingle", "rk")
        )

    def _prepare(self, wave: DataFrame) -> dict:
        return {"docs": wave.select("doc").distinct(), "grams": wave}

    def _prefix(self, grams: DataFrame) -> DataFrame:
        """Prefix rows under the streaming-stable value order: the first
        floor((1-t)*n_sh)+1 shingles of each doc by ascending value."""
        return grams.filter(
            F.col("rk") <= F.floor((1.0 - self.threshold) * F.col("n_sh")) + F.lit(1)
        )

    def _cand_join(self, a: DataFrame, b: DataFrame, cross_state: bool) -> DataFrame:
        """Prefix⋈prefix candidates with the size and PPJoin positional
        filters (both order-agnostic — see module docstring)."""
        t = self.threshold
        cond = (
            (F.col("a.shingle") == F.col("b.shingle"))
            & (
                F.least("a.n_sh", "b.n_sh")
                >= t * F.greatest("a.n_sh", "b.n_sh") - F.lit(1e-9)
            )
            & (
                F.lit(1)
                + F.least(F.col("a.n_sh") - F.col("a.rk"), F.col("b.n_sh") - F.col("b.rk"))
                >= (t / (1.0 + t)) * (F.col("a.n_sh") + F.col("b.n_sh")) - F.lit(1e-9)
            )
        )
        if cross_state:
            # state never holds this wave's docs (one-wave-per-doc), so
            # the pair orientation is free — canonicalize to (min, max)
            cond = cond & (F.col("a.doc") != F.col("b.doc"))
            sel = [
                F.least("a.doc", "b.doc").alias("id_a"),
                F.greatest("a.doc", "b.doc").alias("id_b"),
            ]
        else:
            cond = cond & (F.col("a.doc") < F.col("b.doc"))
            sel = [F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b")]
        return a.alias("a").join(b.alias("b"), cond).select(*sel).distinct()

    def _wave_pairs(self, w: dict, batch_id: int, dead: DataFrame | None) -> DataFrame:
        wave = w["grams"]
        wave_prefix = self._prefix(wave)
        cand = self._cand_join(wave_prefix, wave_prefix, cross_state=False)
        idx = wave
        state = self._live_state(wave.sparkSession, dead)
        if state is not None:
            # only state rows in shingles the wave's prefixes touch can
            # seed a candidate; only candidate docs' full sets are read
            # for verification — both prunes keep per-wave work ∝ wave
            # size x true-duplicate density, not corpus age
            touched = wave_prefix.select("shingle").distinct()
            state_prefix = self._prefix(state).join(
                F.broadcast(touched), "shingle", "left_semi"
            )
            cand = cand.unionByName(
                self._cand_join(wave_prefix, state_prefix, cross_state=True)
            ).distinct()
            idx = _with_candidates(wave, state, cand)
        return verify_pairs(idx.select("doc", "n_sh", "shingle"), cand, self.threshold)
