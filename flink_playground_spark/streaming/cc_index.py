"""Incremental connected components: streaming duplicate-cluster
maintenance over edge waves.

The streaming near-dup indexes (minhash, phash, frameset) emit PAIRS
incrementally, but turning pairs into CLUSTERS — the step a dedup
pipeline actually acts on — was batch-only (operators/graph.py over the
full edge set). This index maintains the cluster mapping as edge waves
arrive: per wave it solves connected components over ONLY the wave's
edges plus the stored members of the components those edges touch, so
per-wave work tracks wave size x touched-component mass, never corpus
age. A wave that merges two old clusters relabels exactly their
members; everything else is untouched.

Why a min-fold ledger is exactly right: the component label is the
minimum reachable node id, and adding edges can only GROW components —
a node's label is monotonically non-increasing over the stream. That
makes per-node MIN an order-free fold (``AppendDeltaState``'s
contract): each wave appends (node, comp) rows for the nodes it
touched, and the current mapping is ``min(comp) per node`` over all
live deltas — no rewrite of prior state, per-wave write IO ∝ touched
nodes, replay skipped per (writer, batch), compaction bounding read
fan-in. The same monotonicity argument is why label-propagation CC
converges at all; here it doubles as the storage contract.

Correctness per wave: let T be the set of stored components containing
any endpoint of the wave's edges. The solve runs over (wave edges) ∪
(star edges node→comp for every stored member of T). Any two nodes
connected in the accumulated graph are connected in this sub-graph
union the untouched components (which the wave cannot affect), so the
new labels are the true component minima; nodes outside T keep their
stored rows. Drained mapping == batch ``connected_components`` over
the union of all waves' edges — the parity the tests and the
``streaming_dedup_clusters`` oracle query pin.

At 100 TB: the per-wave solve reuses operators/graph.py (partition-local
union-find contraction + O(log n) pointer-doubling loop), so even a
wave that touches a giant component stays distributed; state IO is the
append-only ledger shape every table format implements natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.operators.graph import connected_components
from flink_playground_spark.streaming.txn_state import AppendDeltaState


class StreamingDupClusters:
    """Feed ``ingest`` one wave of (u, v) near-dup edges at a time; read
    ``mapping`` for the current (node, comp) cluster assignment, comp =
    min node id of the component (the canonical-survivor rule every
    batch cluster operator here uses).

    The mapping is the ledger ``mapping`` of ``workdir``'s transaction
    log, so it can share a directory (and a commit) with other ledgers:
    each verb commits on its own under the replay mark ``"cc"``, and its
    ``stage_*`` half returns the one ``AppendDeltaState.commit_all``
    write instead — how the composed pipeline (dedup_pipeline.py) lands
    the mapping in its index's wave commit."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        self._state = AppendDeltaState(
            workdir, keys=["node"], tomb_match=[["node"]], ledger="mapping"
        )

    @staticmethod
    def _agg() -> list:
        # labels only decrease as components merge — MIN is the exact,
        # order-free fold (see module docstring)
        return [F.min("comp").alias("comp")]

    def mapping(self, spark: SparkSession) -> DataFrame:
        """Current (node, comp) assignment for every node ever seen in
        an edge (isolated docs are their own cluster by convention and
        never enter the graph — same contract as connected_components)."""
        out = self._state.read(spark)
        if out is None:
            return spark.createDataFrame([], "node long, comp long")
        return out.groupBy("node").agg(*self._agg())

    def ingest(self, edges: DataFrame, batch_id: int, src: str = "u", dst: str = "v") -> None:
        """Fold one wave of undirected edges. Replay of a committed
        batch_id is probed before any write. Batch ids must be
        MONOTONICALLY NON-DECREASING (the foreachBatch contract — see
        AppendDeltaState.committed): the replay probe keeps only a
        high-water mark, so a genuinely NEW batch delivered with an id
        below it would be skipped as a replay. Within that contract the
        CONTENT of waves may be permuted freely — the min-fold absorbs
        any interleaving of edges across re-sequenced waves (pinned by
        the out-of-order test)."""
        if not self._state.committed("cc", batch_id):
            AppendDeltaState.commit_all([self.stage_ingest(edges, src, dst)], "cc", batch_id)

    def stage_ingest(self, edges: DataFrame, src: str = "u", dst: str = "v") -> tuple:
        """``ingest``'s write, uncommitted."""
        spark = edges.sparkSession
        e = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        graph = e
        state = self._state.read(spark)
        if state is not None:
            cur = state.groupBy("node").agg(*self._agg())
            # components the wave touches: comps of any endpoint node...
            wave_nodes = e.select(F.col("u").alias("node")).unionByName(
                e.select(F.col("v").alias("node"))
            ).distinct()
            touched = (
                cur.join(F.broadcast(wave_nodes), "node", "left_semi")
                .select("comp")
                .distinct()
            )
            # ...and ALL stored members of those comps ride in as star
            # edges, so a wave edge bridging two old clusters relabels
            # both completely (work ∝ touched-component mass)
            members = cur.join(F.broadcast(touched), "comp", "left_semi")
            star = members.filter(F.col("node") != F.col("comp")).select(
                F.col("node").alias("u"), F.col("comp").alias("v")
            )
            graph = e.unionByName(star)
        new_map = connected_components(graph, "u", "v").select("node", "comp")
        return (self._state, None, new_map, self._agg())

    def update(
        self,
        spark: SparkSession,
        upd_docs: DataFrame,
        surviving_edges: DataFrame,
        batch_id: int,
        src: str = "id_a",
        dst: str = "id_b",
        new_edges: DataFrame | None = None,
    ) -> None:
        """Fold one UPDATE wave — docs whose content CHANGED upstream,
        so their edges may have been both REMOVED and ADDED. ``ingest``
        cannot express removal (labels only fall under a min-fold) and
        ``forget`` cannot express addition, so this is the +U half of
        the changelog contract (reference intent: the PK upsert of
        WithStateTtlJob.java:73-77 and the keep-latest dedup of
        WithDeduplicateJoinJob.java:88-104 — both replace a key's
        contribution, never merely accumulate it).

        ``upd_docs``: single-column ``node`` DataFrame of the updated
        doc ids. ``surviving_edges``: the pair set AFTER the index
        applied the update — stale pairs gone, the wave's new pairs in
        (exactly what ``index.pairs()`` returns post-update).

        Mechanics: the touched scope is every stored member of every
        component containing an updated doc OR an endpoint of a
        surviving edge that references one — then the solve reruns over
        the surviving edges with either endpoint in scope, and ONE
        atomic deletion-vector ``upsert`` (tombstone scope, add new
        labels) lands the new mapping with the replay mark in the same
        commit: a crash anywhere leaves the old mapping or the new one,
        and a replayed update wave skips instead of double-applying.
        Work AND write IO ∝ touched-component mass, like ingest;
        untouched components are never read into the solve, rewritten,
        or even re-copied (the merge-on-read tombstones settle at the
        next compaction).

        Scope completeness: a surviving edge with NO endpoint in scope
        joins two components containing neither an updated doc nor a
        new-pair endpoint — such an edge predates the wave, so its
        components already merged at its own ingest; it cannot need a
        relabel now. Updated docs isolated by the update (no surviving
        edge) leave the mapping — the 'isolated docs never enter the
        graph' convention."""
        if not self._state.committed("cc", batch_id):
            write = self.stage_update(spark, upd_docs, surviving_edges, src, dst, new_edges)
            AppendDeltaState.commit_all([write], "cc", batch_id)

    def stage_update(
        self,
        spark: SparkSession,
        upd_docs: DataFrame,
        surviving_edges: DataFrame,
        src: str = "id_a",
        dst: str = "id_b",
        new_edges: DataFrame | None = None,
    ) -> tuple:
        """``update``'s write, uncommitted."""
        edges = (
            surviving_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        upd = upd_docs.select(F.col(upd_docs.columns[0]).alias("node")).distinct()
        # seed nodes: updated docs + endpoints of edges referencing them
        # (their NEW neighbors, possibly in components previously
        # untouched by any updated doc — an update can MERGE clusters).
        # When the caller already knows the wave's new pairs
        # (``new_edges`` — the composed pipeline passes the wave's
        # staged pairs), seed from those directly instead of
        # scanning the full surviving set for updated-doc references:
        # every pair an update wave emits references a wave doc, so the
        # two derivations are equivalent and the explicit one is
        # wave-sized.
        if new_edges is not None:
            touching = new_edges.select(
                F.col(src).alias("u"), F.col(dst).alias("v")
            ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        else:
            upd_u = upd.withColumnRenamed("node", "u")
            upd_v = upd.withColumnRenamed("node", "v")
            touching = edges.join(F.broadcast(upd_u), "u", "left_semi").unionByName(
                edges.join(F.broadcast(upd_v), "v", "left_semi")
            )
        seeds = (
            upd.unionByName(touching.select(F.col("u").alias("node")))
            .unionByName(touching.select(F.col("v").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = self.mapping(spark)
        touched_comps = (
            cur.join(F.broadcast(seeds), "node", "left_semi").select("comp").distinct()
        )
        members = cur.join(F.broadcast(touched_comps), "comp", "left_semi").select("node")
        scope = members.unionByName(seeds).distinct().localCheckpoint(eager=True)
        keep_u = edges.join(F.broadcast(scope.withColumnRenamed("node", "u")), "u", "left_semi")
        keep_v = edges.join(F.broadcast(scope.withColumnRenamed("node", "v")), "v", "left_semi")
        in_scope = keep_u.unionByName(keep_v).distinct().localCheckpoint(eager=True)
        new_map = (
            connected_components(in_scope, "u", "v").select("node", "comp")
            if not in_scope.isEmpty()
            else None
        )
        # ONE atomic deletion-vector upsert: scope nodes' old min-fold
        # rows are tombstoned (so labels can RAISE) and the new labels
        # land, with the replay mark, in the same manifest commit —
        # write IO ∝ touched-component mass, never the whole mapping
        return (self._state, scope, new_map, self._agg())

    def forget(
        self,
        spark: SparkSession,
        docs,
        surviving_edges: DataFrame | None = None,
        src: str = "id_a",
        dst: str = "id_b",
    ) -> dict:
        """Takedown CASCADE to clusters (r11 verdict Next #3): excise a
        doc cohort from the mapping and RELABEL the components it
        touched from the surviving edges. A plain prune cannot do this:
        the mapping's rows are min-FOLDED labels, and a forgotten doc's
        id may BE the label of its surviving co-members — removing the
        min member raises the component minimum, which an append-only
        min-fold can never express. So the touched components are
        recomputed and relabelled by ONE deletion-vector ``upsert``: the
        touched members' old rows are tombstoned and the new labels land
        in the same manifest commit (a crash leaves either the old
        mapping or the new one, never label-less survivors). Write IO ∝
        touched-component mass, like ``update``.

        ``surviving_edges``: the pair set with or without the cohort's
        pairs — any edge referencing a forgotten doc is dropped here, so
        the pre-forget pair set is as good as what the pair indexes'
        ``forget`` leaves behind (the composed pipeline passes the
        former: its index prune lands in the same commit). Edges of
        UNTOUCHED components are pruned by a semi-join
        against the touched members before the CC solve — work ∝
        touched-component mass, like ingest. Survivors isolated by the
        excision (no surviving edge) leave the mapping entirely — the
        'isolated docs never enter the graph' convention.

        Replay stays safe: the relabel carries no writer mark and leaves
        the writers map untouched, so the cohort's ORIGINAL waves remain
        skipped (a delete must not resurrect data through the
        at-least-once path)."""
        write, stats = self.stage_forget(spark, docs, surviving_edges, src, dst)
        if write is not None:
            AppendDeltaState.commit_all([write])
        return stats

    def stage_forget(
        self,
        spark: SparkSession,
        docs,
        surviving_edges: DataFrame | None = None,
        src: str = "id_a",
        dst: str = "id_b",
    ) -> tuple:
        """``forget``'s write, uncommitted (None for a no-op), and its
        stats."""
        ids = sorted(set(docs))
        noop = {"forgotten": 0, "touched_members": 0}
        cur = self.mapping(spark)
        if not ids:
            return None, noop
        victims = cur.filter(F.col("node").isin(ids))
        touched = victims.select("comp").distinct()
        members = (
            cur.join(F.broadcast(touched), "comp", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_members = members.count()
        if n_members == 0:
            return None, noop  # no-op stays a no-op
        member_nodes = members.select("node")
        edges = None
        if surviving_edges is not None:
            edges = (
                surviving_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
                .filter(
                    F.col("u").isNotNull()
                    & F.col("v").isNotNull()
                    & ~F.col("u").isin(ids)
                    & ~F.col("v").isin(ids)
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            # when the edges are the ones this mapping was folded from,
            # an edge touching a member has BOTH endpoints among the
            # members (components are edge-closed at ingest), but a
            # caller's pair set can reference an endpoint never
            # ingested here. Prune on the UNION of both endpoints so the
            # relabel solve's input is well-defined regardless: an edge
            # is kept iff EITHER endpoint is a touched member, never
            # asymmetrically by which side happens to be the member.
            keep_u = edges.join(
                F.broadcast(member_nodes.withColumnRenamed("node", "u")), "u", "left_semi"
            )
            keep_v = edges.join(
                F.broadcast(member_nodes.withColumnRenamed("node", "v")), "v", "left_semi"
            )
            edges = keep_u.unionByName(keep_v).distinct().localCheckpoint(eager=True)
            if edges.isEmpty():
                edges = None
        new_map = (
            connected_components(edges, "u", "v").select("node", "comp")
            if edges is not None
            else None
        )
        n_victims = members.filter(F.col("node").isin(ids)).count()
        stats = {"forgotten": n_victims, "touched_members": n_members - n_victims}
        return (self._state, member_nodes, new_map, self._agg()), stats

    def ops_metrics(self) -> dict:
        """Day-2 snapshot (file-level, no Spark session) — same surface
        as the other streaming indexes."""
        return {"mapping": self._state.metrics()}

