"""Distributed connected components over an edge DataFrame.

The missing last step of every near-duplicate pipeline: pair detection
(MinHash/LSH, SimHash, n-gram Jaccard — functions/dedupe.py) emits
*edges*; deduplication needs *clusters* (one canonical document per
connected component). The reference corpus has no graph operator — this
is part of the training-data-pipeline extension surface.

Two cooperating strategies, picked by measured edge count (the same
adaptive philosophy as AQE's broadcast decision):

1. **Partition-local contraction** (default first pass): edges are
   split into partitions of at most ``local_max_edges`` rows; each
   partition runs an in-memory union-find (Arrow ``mapInPandas``, one
   executor task per partition, never the driver) and emits a
   ``node -> local-min-label`` mapping. Every original edge lives in
   some partition where both endpoints got the same local label, so
   the star edges ``(node, label)`` preserve connectivity exactly while
   collapsing all intra-partition structure. When the whole edge set
   fits one partition — the common case after near-dup pipelines
   collapse exact duplicates to representatives — the mapping IS the
   global answer and ZERO iterative rounds run.

2. **Min-label propagation with pointer doubling** over the contracted
   star graph (or the raw graph when contraction is disabled): the
   standard O(log n)-round MapReduce formulation (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SoCC'14 — the
   alternating-star family; label-propagation-with-doubling converges
   in the same round bound for the star-shaped outputs we produce):

   per round
     1. neighbor-min:   comp(u) <- min(comp(u), min_{v in N(u)} comp(v))
     2. pointer jump:   comp(u) <- min(comp(u), comp(comp(u)))

   Step 2 is the doubling: a chain of length L converges in O(log L)
   rounds instead of O(L). Every round is two shuffle joins plus an
   aggregate — all DataFrame ops, map-side-combined mins, no
   driver-side graph state. Lineage is truncated per round with
   ``localCheckpoint`` (eager) so the iterative plan does not grow
   unboundedly — the property that matters for a 100 TB run where one
   round's plan must not replay every previous round's shuffles.

Convergence is detected distributedly (count of changed labels == 0);
the driver never holds nodes or edges. At 100 TB the contraction pass
turns E edges into <= V star edges before the first shuffle round, and
chains inside a partition collapse entirely — strictly fewer and
smaller rounds than running the loop raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-partition edge budget for the contraction pass. 2M (u, v) pairs
# are ~32 MB of longs in Arrow — seconds of union-find per executor
# task, far below executor memory; beyond it the graph is split and the
# distributed loop finishes the cross-partition stitching.
LOCAL_MAX_EDGES = 2_000_000


def _symmetrize(e: DataFrame) -> DataFrame:
    """Both directions + distinct, so one groupBy(u) sees the full
    neighborhood of every node."""
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()


def _partition_union_find(e: DataFrame, nparts: int) -> DataFrame:
    """One union-find per partition (executor-side, Arrow-batched):
    emits (node, label) with label = min node id of the node's
    partition-local component. Union-by-min + path compression keeps
    the root of every set at its minimum member."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    node_t = e.schema["u"].dataType.simpleString()
    out_schema = f"node {node_t}, label {node_t}"

    def run(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru  # attach larger root under smaller: root stays min
        nodes = list(parent)
        yield pd.DataFrame({"node": nodes, "label": [find(x) for x in nodes]})

    from flink_playground_spark.functions.similarity import _source_partitions

    # ``e`` is a checkpoint: its partition count is read off its RDD,
    # without running a job
    cur = _source_partitions(e)
    if cur > nparts:
        e = e.coalesce(nparts)  # narrow, no shuffle
    elif cur < nparts:
        # a huge edge set can arrive in few partitions (e.g. few large
        # input files): spread it so no union-find task exceeds the
        # per-partition budget — this shuffle replaces loop rounds
        e = e.repartition(nparts)
    return e.mapInPandas(run, out_schema)


def _minlabel_loop(sym: DataFrame, max_iter: int, stats: dict | None) -> DataFrame:
    """The iterative pass over an already-symmetrized, checkpointed edge
    set. Returns (node, comp)."""
    # fused round 0: with identity labels, the first neighbor-min step is
    # just min(u, min neighbor) — one aggregate over sym instead of a full
    # join round (saves two joins + a convergence check per run)
    comp = (
        sym.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("comp"))
        .select(F.col("u").alias("node"), "comp")
    )
    comp = comp.localCheckpoint(eager=True)

    rounds = 0
    for rounds in range(1, max_iter + 1):
        # 1. neighbor-min: smallest component label among my neighbors
        nbr = (
            sym.join(comp, sym.v == comp.node, "inner")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = comp.join(nbr, comp.node == nbr.u, "left").select(
            "node",
            F.least(F.col("comp"), F.col("nbr_comp")).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # 2. pointer jump: comp(u) <- comp(comp(u)); every label IS a node
        # id, so the mapping lives in the same relation
        ptr = stepped.select(F.col("node").alias("pnode"), F.col("comp").alias("pcomp"))
        jumped = stepped.join(ptr, stepped.comp == ptr.pnode, "left").select(
            "node",
            F.least(F.col("comp"), F.col("pcomp")).alias("comp"),
            "prev",
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = jumped.filter(F.col("comp") != F.col("prev")).limit(1).count()
        comp = jumped.select("node", "comp")
        if changed == 0:
            break

    if stats is not None:
        stats["iterations"] = rounds
    return comp


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
    local_max_edges: int | None = LOCAL_MAX_EDGES,
) -> DataFrame:
    """Return ``(node, component)`` where component is the minimum node id
    reachable from ``node`` in the undirected graph given by ``edges``.

    Node ids may be any orderable type (long, string). NULL-keyed edges
    are dropped (a NULL endpoint identifies nothing). Only nodes that
    appear in ``edges`` are returned — callers union isolated nodes as
    their own singleton components if needed.

    ``local_max_edges`` sizes the partition-local contraction pass
    (see module docstring); ``None`` disables it and runs the pure
    iterative loop — the formulation the round-bound test pins.

    ``stats``, if provided, receives ``{"iterations": n, "strategy":
    "local" | "contract+loop" | "loop"}`` on return (``"local"`` means
    the whole graph fit one contraction partition and no loop ran).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
    )

    if local_max_edges:
        # LAZY checkpoint + count: the count() action is what executes
        # the (distinct'd) edge plan AND stores the checkpoint blocks —
        # one job where eager-then-count was two (guide §5: fewer
        # actions; the blocks and the count come from the same pass).
        one_dir = e.distinct().localCheckpoint(eager=False)
        n_edges = one_dir.count()
        if n_edges == 0:
            if stats is not None:
                stats["iterations"] = 0
                stats["strategy"] = "local"
            return one_dir.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        nparts = -(-n_edges // local_max_edges)  # ceil
        mapping = _partition_union_find(one_dir, nparts).localCheckpoint(eager=True)
        if nparts == 1:
            if stats is not None:
                stats["iterations"] = 0
                stats["strategy"] = "local"
            return mapping.select("node", F.col("label").alias("comp"))
        # contracted star graph: every node appears (members point at
        # their label; labels appear as targets), intra-partition
        # structure is collapsed, |star| <= |nodes|
        star = mapping.filter(F.col("node") != F.col("label")).select(
            F.col("node").alias("u"), F.col("label").alias("v")
        )
        sym = _symmetrize(star).localCheckpoint(eager=True)
        if stats is not None:
            stats["strategy"] = "contract+loop"
        return _minlabel_loop(sym, max_iter, stats)

    sym = _symmetrize(e).localCheckpoint(eager=True)
    if stats is not None:
        stats["strategy"] = "loop"
    return _minlabel_loop(sym, max_iter, stats)


PR_UNIT = 1_000_000  # fixed-point micro-units: 1.0 == 1e6


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Deterministic fixed-point PageRank: ``(node, rank)`` with rank in
    integer micro-units summing to ~N·1e6.

    Why fixed-point: float PageRank depends on aggregation order (Spark
    partial sums are nondeterministic), which blocks bit-exact oracles
    and reproducible pipelines. Here every per-edge contribution is
    ``rank div out_degree`` in INTEGER micro-units and the damping step
    is ``(x * damping_pct) div 100`` — long sums are order-independent,
    so two runs (and the pure-Python reference) agree to the last unit.
    Truncation loss per node per round is < out_degree units (≤ 1e-6 ·
    deg), a rounding model, not a semantic change.

    Per round: one join (rank ⟶ edges) + one aggregate — the same
    shuffle shape as the CC loop, with ``localCheckpoint`` lineage
    truncation. Dangling nodes (no out-edges) keep their base rank and
    donate nothing, the standard simplification. ``directed=False``
    symmetrizes first (the near-dup-graph case: centrality of a doc in
    its duplicate neighborhood — the keep-best canonical signal)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
    )
    e = e.distinct() if directed else _symmetrize(e)
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "u").localCheckpoint(eager=True)
    nodes = e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
    # all arithmetic is integer `div` — Spark and the Python reference
    # truncate identically, and long sums commute, so results are
    # bit-exact regardless of partitioning
    base_units = PR_UNIT * (100 - damping_pct) // 100
    pr = nodes.select("node", F.lit(PR_UNIT).cast("long").alias("rank"))
    pr = pr.localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            ed.join(pr, ed.u == pr.node)
            .select("v", F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = nodes.join(contrib, nodes.node == contrib.v, "left").select(
            "node",
            (
                F.lit(base_units).cast("long")
                + F.expr(f"(coalesce(inflow, 0L) * {damping_pct}) div 100")
            ).alias("rank"),
        )
        pr = pr.localCheckpoint(eager=True)
    return pr


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-duplicate pairs -> duplicate clusters with a canonical member.

    Returns ``(doc_id, cluster_id, cluster_size, is_canonical)`` for every
    document that appears in at least one pair; ``cluster_id`` is the
    minimum doc id of the component (the canonical survivor — the
    deterministic keep-one rule), ``is_canonical`` marks it. A dedup
    pipeline anti-joins the corpus against the non-canonical rows.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, id_a, id_b, max_iter=max_iter)
    # cluster_size as a WINDOW over comp, not groupBy + join-back: one
    # pass over the (node, comp) relation instead of two (guide §2.4),
    # and no broadcast-size bet — at scale the sizes relation has one
    # row per cluster, which can exceed the broadcast cap and degrade
    # the join to a second full shuffle; the window shuffles the 16-byte
    # rows once. Same counts, same columns (count over the comp
    # partition == the old groupBy count joined back).
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )
