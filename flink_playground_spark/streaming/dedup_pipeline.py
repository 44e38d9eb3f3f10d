"""End-to-end incremental near-dup pipeline: doc waves → fingerprint
index → this wave's new pairs → incremental duplicate clusters, fused
in ONE per-wave fold — the composition a training-data pipeline
actually runs inside ``foreachBatch`` (r11 verdict Next #1).

The pieces existed separately: the streaming pair indexes
(``wave_index.WaveIndex`` and its families) emit PAIRS per wave, and
StreamingDupClusters folds pair waves into the CLUSTER mapping dedup
acts on. What was missing is the composed operator — and the crash
points composition creates: a wave's work now spans TWO independent
transactional ledgers (the index's commit and the cluster ledger's),
and a crash can land between them.

The fold per wave ``b``:

1. whole-wave replay probe: if the CLUSTER ledger committed ``b``, the
   entire wave (both stages) already happened — skip before any work.
   (The cluster ingest is the LAST commit of the wave, so it is the
   composition's commit point.)
2. ``index.ingest(wave, b)`` — itself replay-safe: if the index
   committed ``b`` but the cluster ledger did not (the crash-between-
   ledgers case), the ingest skips internally and loses nothing.
3. ``index.pairs_for_batch(b)`` — the wave's pairs, read back from the
   pair ledger rather than returned in memory, PRECISELY so step 2's
   skip path still has them: every pair row carries the wave that
   emitted it (``since_batch``, stable under compaction's min-fold
   because a pair is emitted in exactly one wave).
4. ``clusters.ingest(pairs, b)`` — the commit point. A crash anywhere
   before it redelivers the wave; steps 2–3 reproduce the identical
   pair set (the index's ledgers are already committed and immutable),
   so the cluster fold converges to the same mapping.

Scale shape: nothing new moves — step 3 is a columnar filter over the
pair ledger (wave-sized output), and the index/cluster stages keep
their own proven per-wave bounds (work ∝ wave × touched state, write
IO ∝ wave). The composition adds one probe and one ledger filter per
wave, not a new shuffle.

Takedown composes too: ``forget(docs)`` prunes the pair index
surgically (raw per-doc facts), then cascades into the cluster mapping
with the SURVIVING pair set (``StreamingDupClusters.forget`` relabels
exactly the touched components in one atomic upsert) — wrapped in a
durable INTENT ledger (r12 ADVICE) because no wave redelivery retries
a takedown: a crash between the two stages leaves a pending intent
that ``resume_takedowns`` replays idempotently on restart.

Updates compose as the third verb (r12 verdict Next #1): ``update
(wave, b)`` is the one-call changed-doc path — per-index atomic
deletion-vector upserts (excision + re-ingest in the index's one
manifest commit, write IO ∝ wave) under ONE batch id, then a cluster relabel that
handles both retracted and added edges, with the cluster upsert as the
composition's commit point. The +I/+U/-D triple is the
changelog contract the reference exercises everywhere
(WithStateTtlJob.java:73-77 PK upsert; WithDeduplicateJoinJob.java:
88-104 keep-latest).

Reference intent: the reference's dedup job (WithDeduplicateJoinJob
.java:88-104) deduplicates a changelog stream end-to-end inside one
pipeline; this operator is that composition for content-level near-dup
at training-data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.cc_index import StreamingDupClusters
from flink_playground_spark.streaming.txn_state import AppendDeltaState


class StreamingNearDupPipeline:
    """Compose any per-wave pair index with the incremental cluster
    fold. ``index`` is a ``wave_index.WaveIndex`` (the contract:
    ``ingest``/``update``/``committed``/``pairs_for_batch``/``pairs``/
    ``wave_doc_ids``/``forget``/``ops_metrics``)."""

    def __init__(self, workdir: str, index):
        self.index = index
        self.clusters = StreamingDupClusters(f"{workdir}/clusters")
        # takedown intent ledger (r12 ADVICE): forget spans two stages
        # with no wave redelivery to heal a crash between them — the
        # intent row (appended BEFORE stage 1) plus the done marker
        # (appended AFTER stage 2) make an unfinished cascade DETECTABLE
        # and resumable instead of silently half-applied
        self._intents = AppendDeltaState(f"{workdir}/takedown_intents", keys=["tid", "doc"])
        self._intents_done = AppendDeltaState(f"{workdir}/takedown_done", keys=["tid"])

    def ingest(self, wave: DataFrame, batch_id: int) -> None:
        """Fold one doc wave through both stages (see module docstring
        for the crash protocol). ``wave`` is whatever the index eats:
        (doc, sh) fingerprints for the Hamming index, (doc, shingle)
        frame-hash rows for the frameset index."""
        spark = wave.sparkSession
        if self.clusters.committed(batch_id):
            return  # whole wave already folded (cluster ledger = commit point)
        self.index.ingest(wave, batch_id)
        pairs = self.index.pairs_for_batch(spark, batch_id)
        self.clusters.ingest(pairs, batch_id, src="id_a", dst="id_b")

    def pairs(self, spark: SparkSession) -> DataFrame:
        """Every near-dup pair emitted so far (the index's view)."""
        return self.index.pairs(spark)

    def mapping(self, spark: SparkSession) -> DataFrame:
        """Current (node, comp) duplicate-cluster assignment over every
        doc that appeared in a pair; comp = min doc id (canonical)."""
        return self.clusters.mapping(spark)

    def update(self, wave: DataFrame, batch_id: int) -> None:
        """Fold one wave of CHANGED docs through both stages — the
        one-call changed-doc path (+U) the ingest guard otherwise
        refuses. Before this existed the only route was ``forget`` then
        re-ingest in a later wave: two separate transactions with a
        crash window between them in which the doc has silently
        VANISHED from the index (forget committed, the re-ingest wave
        never redelivered). Here everything lands under ONE batch id:

        1. whole-wave replay probe on the CLUSTER ledger (the
           composition's commit point, same as ``ingest``);
        2. ``index.update(wave, b)`` — deletion-vector upserts of every
           index ledger in one replay-marked commit (the protocol in
           wave_index.py): stale pairs retracted, new pairs emitted
           under ``since_batch=b``;
        3. the wave's new pairs recovered from the pair ledger (after a
           crash between the index and cluster commits they are read
           back exactly like ``ingest`` does);
        4. ``clusters.update(...)`` — relabel exactly the components
           the excision/addition touches, in one atomic upsert that
           is the composition's commit point. Removed edges can RAISE
           labels (which the ingest min-fold cannot express) and new
           edges can merge previously-untouched clusters — both
           handled (StreamingDupClusters.update).

        A crash between stage 2's commit and stage 4's redelivers the
        wave: the probe is false, the index skips internally, and steps
        3-4 catch up on the recovered pair set — the identical protocol
        ``ingest`` pins, now for updates."""
        spark = wave.sparkSession
        if self.clusters.committed(batch_id):
            return  # whole update already folded
        upd = self.index.wave_doc_ids(wave)
        self.index.update(wave, batch_id)
        new_pairs = self.index.pairs_for_batch(spark, batch_id)
        self.clusters.update(
            spark,
            upd,
            surviving_edges=self.index.pairs(spark),
            batch_id=batch_id,
            src="id_a",
            dst="id_b",
            new_edges=new_pairs,
        )

    def forget(self, spark: SparkSession, docs) -> dict:
        """Takedown across BOTH stages: surgical prune of the pair
        index, then the cluster-relabel cascade from the surviving pair
        set. Returns the per-stage removal stats.

        Crash safety (r12 ADVICE): the two stages are separate
        transactions and — unlike ``ingest``/``update`` — no wave
        redelivery will retry a takedown that died between them. So the
        cascade is wrapped in an INTENT ledger: the doc cohort is
        appended durably BEFORE stage 1 and marked done only AFTER
        stage 2. A crash anywhere between leaves a pending intent that
        ``pending_takedowns`` surfaces (and ``ops_metrics`` counts) and
        ``resume_takedowns`` replays — both stages are idempotent
        (pruning already-pruned ids is a no-op; the cluster relabel
        from surviving edges converges), so the retry is safe."""
        ids = sorted(set(docs))
        tid = self._next_intent_id(spark)
        spark_df = spark.createDataFrame([(tid, int(d)) for d in ids], "tid long, doc long")
        self._intents.append(spark_df)
        stats = self._forget_stages(spark, ids)
        self._intents_done.append(spark.createDataFrame([(tid,)], "tid long"))
        return stats

    def _forget_stages(self, spark: SparkSession, ids) -> dict:
        stats = dict(self.index.forget(spark, ids))
        stats["clusters"] = self.clusters.forget(
            spark, ids, surviving_edges=self.index.pairs(spark)
        )
        return stats

    def _next_intent_id(self, spark: SparkSession) -> int:
        cur = self._intents.read(spark)
        if cur is None:
            return 1
        row = cur.agg(F.max("tid").alias("m")).first()
        return int(row["m"] or 0) + 1

    def pending_takedowns(self, spark: SparkSession) -> DataFrame:
        """Takedown cohorts whose cascade started but never finished
        (tid, doc) — what a restart must re-run before trusting the
        cluster mapping. Empty in any healthy state."""
        intents = self._intents.read(spark)
        if intents is None:
            return spark.createDataFrame([], "tid long, doc long")
        done = self._intents_done.read(spark)
        if done is None:
            return intents.select("tid", "doc")
        return intents.join(done.select("tid").distinct(), "tid", "left_anti").select(
            "tid", "doc"
        )

    def resume_takedowns(self, spark: SparkSession) -> dict:
        """Re-run every unfinished takedown cascade (idempotent — see
        ``forget``) and mark it done. Call on restart, before serving
        the mapping. Returns {tid: stats} for what was resumed."""
        pending = self.pending_takedowns(spark).collect()
        by_tid: dict[int, list[int]] = {}
        for r in pending:
            by_tid.setdefault(int(r["tid"]), []).append(int(r["doc"]))
        out = {}
        for tid in sorted(by_tid):
            out[tid] = self._forget_stages(spark, sorted(set(by_tid[tid])))
            self._intents_done.append(spark.createDataFrame([(tid,)], "tid long"))
        return out

    def ops_metrics(self) -> dict:
        """Day-2 snapshot of every ledger in the composition — the one
        call a dashboard makes per pipeline. ``pending_takedowns``
        counts intent rows with no done marker (alert on > 0: a
        takedown cascade crashed mid-flight and needs
        ``resume_takedowns``)."""
        return {
            "index": self.index.ops_metrics(),
            "clusters": self.clusters.ops_metrics(),
            "takedown_intents": self._intents.metrics(),
            "takedown_done": self._intents_done.metrics(),
            "pending_takedowns": self._pending_count(),
        }

    def _pending_count(self) -> int:
        """File-level pending-intent count (pyarrow over the two tiny
        ledgers, no Spark session — same discipline as every
        ops_metrics here): intent rows whose tid has no done marker."""
        done = set(self._intents_done.column("tid"))
        return sum(1 for t in self._intents.column("tid") if t not in done)
