"""End-to-end incremental near-dup pipeline: doc waves → fingerprint
index → this wave's new pairs → incremental duplicate clusters, fused
in ONE per-wave fold — the composition a training-data pipeline
actually runs inside ``foreachBatch``.

The pieces exist separately: the streaming pair indexes
(``wave_index.WaveIndex`` and its families) emit PAIRS per wave, and
StreamingDupClusters folds pair waves into the CLUSTER mapping dedup
acts on. The composition keeps the cluster mapping as one more ledger
of the index's directory (``<index workdir>/mapping``), so every ledger
the pipeline writes sits under ONE ``manifest.json``, and each verb
lands with ONE manifest replace:

- ``ingest(wave, b)``: the index's wave protocol (wave_index.py) with
  the cluster stage inside it — the wave's verified pairs are pinned
  once, folded into the mapping (work ∝ wave × touched-component
  mass), and the mapping delta joins the index's deltas in the wave's
  one commit under the index's one replay mark. A crash anywhere
  leaves the committed state as it was and redelivers the wave; a
  replay of a committed wave is skipped before any work.
- ``update(wave, b)``: the same, with the index's deletion-vector
  upserts and a cluster relabel over the surviving pairs (the committed
  pairs minus those touching the wave's docs, plus the wave's new
  pairs). The +I/+U/-D triple is the changelog contract the reference
  exercises everywhere (WithStateTtlJob.java:73-77 PK upsert;
  WithDeduplicateJoinJob.java:88-104 keep-latest).
- ``forget(docs)``: the index's surgical prunes and the cluster
  relabel of the touched components, in one replace — a takedown is
  applied whole or not at all, and a crashed one is simply repeated.

Reference intent: the reference's dedup job (WithDeduplicateJoinJob
.java:88-104) deduplicates a changelog stream end-to-end inside one
pipeline; this operator is that composition for content-level near-dup
at training-data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.cc_index import StreamingDupClusters


class StreamingNearDupPipeline:
    """Compose any per-wave pair index with the incremental cluster
    fold. ``index`` is a ``wave_index.WaveIndex``; the cluster mapping
    lives in its directory."""

    def __init__(self, index):
        self.index = index
        self.clusters = StreamingDupClusters(index.workdir)

    def ingest(self, wave: DataFrame, batch_id: int) -> None:
        """Fold one doc wave through both stages in one commit. ``wave``
        is whatever the index eats: (doc, sh) fingerprints for the
        Hamming index, (doc, shingle) frame-hash rows for the frameset
        index."""

        def clusters(pairs, dead):
            return self.clusters.stage_ingest(pairs, src="id_a", dst="id_b")

        self.index._fold(wave, batch_id, False, clusters)

    def pairs(self, spark: SparkSession) -> DataFrame:
        """Every near-dup pair emitted so far (the index's view)."""
        return self.index.pairs(spark)

    def mapping(self, spark: SparkSession) -> DataFrame:
        """Current (node, comp) duplicate-cluster assignment over every
        doc that appeared in a pair; comp = min doc id (canonical)."""
        return self.clusters.mapping(spark)

    def update(self, wave: DataFrame, batch_id: int) -> None:
        """Fold one wave of CHANGED docs through both stages under ONE
        batch id and one commit — the one-call changed-doc path (+U)
        the ingest guard otherwise refuses. The index retracts the
        docs' stale pairs and emits their new ones; the cluster stage
        relabels exactly the components the excision and the addition
        touch (StreamingDupClusters.update), from the surviving pairs:
        the committed pairs minus those touching a wave doc, plus the
        wave's new pairs."""
        spark = wave.sparkSession

        def clusters(pairs, dead):
            surviving = self.index.pairs(spark)
            for col in ("id_a", "id_b"):
                gone = dead.select(F.col("doc").alias(col))
                surviving = surviving.join(F.broadcast(gone), col, "left_anti")
            surviving = surviving.select("id_a", "id_b").unionByName(
                pairs.select("id_a", "id_b")
            )
            return self.clusters.stage_update(spark, dead, surviving, new_edges=pairs)

        self.index._fold(wave, batch_id, True, clusters)

    def forget(self, spark: SparkSession, docs) -> dict:
        """Takedown across BOTH stages in one commit: surgical prune of
        the pair index and the cluster relabel of the components the
        cohort touched. Returns the index's removal stats plus the
        relabel's under ``clusters``."""
        relabel, stats = self.clusters.stage_forget(
            spark, docs, surviving_edges=self.index.pairs(spark)
        )
        out = self.index._forget(docs, also=[relabel] if relabel is not None else [])
        out["clusters"] = stats
        return out

    def ops_metrics(self) -> dict:
        """Day-2 snapshot of every ledger in the composition — the one
        call a dashboard makes per pipeline."""
        return {
            "index": self.index.ops_metrics(),
            "clusters": self.clusters.ops_metrics(),
        }
