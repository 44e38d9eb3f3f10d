"""Similarity search over embedding columns (array<float>).

- ``cosine``: built-in higher-order functions (zip_with + aggregate),
  double math, JVM-side — no UDF.
- ``brute_force_topk``: exact baseline — broadcast the (small) query set,
  score every corpus vector, rank per query. One broadcast join + one
  shuffle for the per-query top-k window.
- ``lsh_topk``: random-hyperplane LSH scale path — deterministic
  hyperplanes derived from xxhash64, candidates = bucket collisions
  (multi-probe via several tables), exact re-scoring of candidates only.
  At 100 TB the bucket join replaces the full cross product.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# monotonic suffix for per-call kmeans assignment views (see
# kmeans_centroids): unique names keep concurrent builds in one
# SparkSession from clobbering each other's temp view
_KMEANS_VIEW_SEQ = itertools.count()

# ivf_assign's nprobe=1 per-row expressions as ONE SQL string each
# instead of ~40 py4j Column round-trips per call. The strings parse to
# the EXACT trees the Column API built (same functions, same casts,
# same fold order — SQL lambda syntax and F.transform/F.aggregate
# produce identical LambdaFunction nodes), so results stay bit-equal;
# only the Python-side construction cost changes (~0.3s/call at local
# py4j latency, paid 4-5x per ANN query). Parity is pinned by
# tests/test_extensions.py::test_ivf_assign_expr_string_parity.
_DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0.0D, (acc, v) -> acc + v)"
)
_VNORM_SQL = (
    "sqrt(aggregate(transform(vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " 0.0D, (acc, v) -> acc + v))"
)
_IVF_BEST_SQL = (
    "array_max(filter(transform(cents, cc -> named_struct("
    "'csim', " + _DOT_SQL.format(a="vec", b="cc.cvec") + " / (vnorm * cc.cnorm), "
    "'nid', -cc.centroid_id)), s -> s.csim IS NOT NULL))"
)


def _dot_fixed_sql(a: str, b: str, dim: int) -> str:
    """SQL text of ``dot_fixed``'s exact unrolled chain — same casts,
    same left-associative fold ``((0.0 + a0*b0) + a1*b1) + ...`` — as
    ONE parsed expression instead of ~4·dim py4j Column round-trips
    (~0.5s at dim=64 local latency, paid on every ADC/probe-table
    construction). Bit-identical results; parity pinned alongside the
    _l2/_dot fold-parity tests."""
    acc = "0.0D"
    for i in range(dim):
        acc = f"({acc} + CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
    return acc


def _norm_fixed_sql(a: str, dim: int) -> str:
    """SQL text of ``norm_fixed``'s unrolled chain (see
    ``_dot_fixed_sql``); ``norm_fixed(a) == sqrt(dot_fixed(a, a))``
    term for term."""
    return f"SQRT({_dot_fixed_sql(a, a, dim)})"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """``dot`` unrolled for a statically-known vector length.

    ``aggregate``/``zip_with`` lambdas run on Catalyst's expression
    interpreter — per-element virtual calls, no codegen. When ``dim`` is
    known (every embedding table has one), the same left-associative sum
    ``((0.0 + a0*b0) + a1*b1) + ...`` can be emitted as a plain
    arithmetic chain that whole-stage codegen compiles to straight-line
    JVM bytecode. Bit-identical to ``dot`` (same seed, same operand
    order, same double ops) — only the execution engine differs.
    """
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i].cast("double") * b[i].cast("double")
    return acc


def norm_fixed(a: Column, dim: int) -> Column:
    """``norm`` unrolled for a statically-known vector length (see
    ``dot_fixed``); bit-identical to ``norm``."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        x = a[i].cast("double")
        acc = acc + x * x
    return F.sqrt(acc)


def cosine_fixed(a: Column, b: Column, dim: int) -> Column:
    """``cosine`` with all three folds unrolled (codegen path); bit-
    identical to ``cosine`` for vectors of length ``dim``."""
    return dot_fixed(a, b, dim) / (norm_fixed(a, dim) * norm_fixed(b, dim))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_salt: int = 32,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: query_id, neighbor_id, sim (rounded to 6), rank.

    Two-level rank: corpus scores first rank inside ``(query_id, salt)``
    groups (salt = hash(neighbor_id) % n_salt), keeping ≤ k per group,
    then the survivors (≤ k·n_salt rows per query) re-rank globally.
    A query's global top-k rows are each top-k within their salt group,
    so the result is identical to the single-window rank — but no single
    partition ever holds a query's full corpus scores, removing the
    per-query funnel that capped scale-out when the corpus grows.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 6))
        .select("query_id", "neighbor_id", "sim")
    )
    order = [F.desc("sim"), F.asc("neighbor_id")]
    local_w = Window.partitionBy(
        "query_id", F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salt))
    ).orderBy(*order)
    pruned = (
        scored.withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= k)
        .drop("lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _source_partitions(df: DataFrame) -> int:
    """Partitions the widest source of ``df`` is read in, taken from its
    analyzed plan without planning or running it (no Spark job, a few
    py4j calls):

    - a checkpoint or other RDD-backed relation (``LogicalRDD``): its
      RDD's partition count, exact;
    - a file relation: Spark's file-split rule — each split is at most
      ``max(openCostInBytes, (bytes + files * openCost) / minPartitionNum)``
      bytes, capped at ``maxPartitionBytes``, and every file is at least
      one split;
    - any other source (in-memory rows, ranges, non-file relations): 0,
      unknown.

    Shuffles inside the plan do not count: under AQE their partition
    count is only known once they run, and what they coalesce to tracks
    the bytes the sources hold, so the sources decide."""
    jss = df.sparkSession._jsparkSession
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    widest = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.nodeName()
        rel = leaf.relation() if kind == "LogicalRelation" else None
        if kind == "LogicalRDD":
            n = leaf.rdd().getNumPartitions()
        elif rel is not None and rel.getClass().getSimpleName() == "HadoopFsRelation":
            loc = rel.location()
            size, files = loc.sizeInBytes(), len(loc.inputFiles())
            conf = jss.sessionState().conf()
            open_cost = conf.filesOpenCostInBytes()
            min_parts = conf.filesMinPartitionNum()
            par = min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism()
            per_core = (size + files * open_cost) // par
            split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
            n = max(files, -(-size // split))
        else:
            n = 0
        widest = max(widest, n)
    return widest


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Parallelism guard for CPU-heavy kernels: when the input's sources
    are read in fewer partitions than the session's parallelism (locally:
    one small parquet file = one split = one task serializing the whole
    fan-out), spread the input across the cores once, hashed on ``cols``.

    The decision reads the analyzed plan (``_source_partitions``); it
    never runs the plan. At real scale a scan's splits already exceed
    the parallelism and this is a NO-OP — it never adds an exchange to a
    100 TB scan. The explicit partition count keeps AQE's coalescer from
    folding the tiny local relation back into one partition."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if _source_partitions(df) >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)


def _materialize_no_wscg(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` (localCheckpoint) with WHOLE-STAGE
    codegen off for exactly this materialization — for stages built
    from very large unrolled expression chains (the dim-sized
    ``_dot_fixed_sql`` folds).

    Why (guide §7.2 / §1.2, round-14 profile): whole-stage codegen fuses
    a block-grid pair stage's join condition + projection — each
    carrying a 64-term chain — into ONE consume() method far beyond the
    JVM JIT's ~8 KB bytecode budget (HotSpot's DontCompileHugeMethods),
    so the hot stage runs in the BYTECODE INTERPRETER; and because
    fresh expression ids change the generated source every run, the
    ~64 KB janino compile is also re-paid per execution. With
    whole-stage codegen off, each operator compiles its projections
    into small JIT-able methods: the embedding_neardup pair stage
    measured 2.4x faster (0.70s vs 1.66s warm at sf0.1). Scoped
    set -> materialize -> restore, so no other query's planning ever
    sees the flag. Results are bit-identical either way (same IEEE
    expression tree, different execution strategy)."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", old)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    keep_sim: bool = False,
) -> DataFrame:
    """IVF cell assignment: each vector joins its ``nprobe`` nearest
    centroids (by cosine). ``keep_sim`` also returns the vector↔centroid
    cosine (``csim``) — the fit signal the streaming index's drift
    monitor aggregates.

    ``nprobe=1`` (the corpus-side path — every vector in the index walks
    through here) is ZERO-SHUFFLE: the centroid table collapses to a
    one-row sorted array, broadcast-crossed into the scan, and the
    argmax folds row-locally over it. The previous rank-window plan
    shuffled corpus × n_centroids scored rows on ``vid`` just to pick a
    per-row maximum — at 100 TB that is a full-corpus exchange (with the
    float vectors in the rows!) for an embarrassingly parallel decision.
    Tie-break (max csim, then min centroid_id) and the cosine expression
    are identical to the window path, so results are bit-equal and the
    Python reference (functions/reference.py) still replicates them.

    ``nprobe>1`` is only ever applied to the (small) query/probe set, so
    the rank window over (vector, centroid) scores stays the right plan
    there."""
    c = centroids.select(F.col("centroid_id"), F.col(vec_col).alias("cvec"))
    v = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    keep = ["vid", "vec", "centroid_id"] + (["csim"] if keep_sim else [])
    if nprobe == 1:
        # corpus-side path: the per-row argmax fold is INTERPRETED (HOF
        # lambda over the centroid array) and runs in the scan stage —
        # on the single local split that serialized the whole corpus's
        # n_centroids x dim fold onto one core (round-14 profile:
        # semantic_clusters' 0.7s one-task stage). _spread is a no-op at
        # real scale (guide §2.5 / similarity._spread).
        v = _spread(v, "vid")
        # one-row build side: the scalar-broadcast BNLJ class the plan
        # guard recognizes structurally (grouping-key-free aggregate —
        # constant-size, never corpus-by-corpus)
        #
        # SINGLE-REFERENCE argmax: score each centroid, drop null-csim
        # entries (a null vector element must not win via null-first
        # struct ordering — and this makes the nprobe=1 path agree with
        # the rank window's nulls-last DESC on dirty data), then
        # array_max over struct(csim, -centroid_id) == (csim DESC,
        # centroid_id ASC). The previous fold referenced the scored
        # array three times (slice, size, seed) — Catalyst re-evaluates
        # each reference per row and re-plans the tripled tree; the
        # round-5 version cost ~4x on planning alone.
        #
        # The row vector's norm is hoisted OUT of the per-centroid
        # lambda (computed once per row, not n_centroids times), and
        # each centroid's norm is computed once at build time — the
        # arithmetic (dot / (norm_row * norm_centroid)) is the exact
        # expression ``cosine`` builds, so csim stays bit-identical.
        carr = c.select(
            "centroid_id", "cvec", norm(F.col("cvec")).alias("cnorm")
        ).agg(
            F.array_sort(
                F.collect_list(F.struct("centroid_id", "cvec", "cnorm"))
            ).alias("cents")
        )
        # one parsed string per expression — see _IVF_BEST_SQL above;
        # the tree (and therefore every bit of csim) is unchanged
        return (
            v.crossJoin(F.broadcast(carr))
            .withColumn("vnorm", F.expr(_VNORM_SQL))
            .withColumn("b", F.expr(_IVF_BEST_SQL))
            .filter(F.col("b").isNotNull())
            .select(
                "vid",
                "vec",
                (-F.col("b.nid")).alias("centroid_id"),
                *([F.col("b.csim").alias("csim")] if keep_sim else []),
            )
        )
    scored = v.join(F.broadcast(c)).withColumn("csim", cosine(F.col("vec"), F.col("cvec")))
    w = Window.partitionBy("vid").orderBy(F.desc("csim"), F.asc("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select(*keep)
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
    _return_seed_rows: bool = False,
) -> DataFrame | tuple[DataFrame, list]:
    """Lloyd's k-means as pure DataFrame aggregations (no UDF, no driver
    math): seed = the first ``n_centroids`` corpus vectors (deterministic),
    then ``iters`` rounds of assign-to-nearest (broadcast centroids, rank
    window) and recompute-mean (posexplode → per-(centroid, dim) mean →
    array_sort rebuild). Each round is one corpus scan + one shuffle on
    (centroid_id, pos) — the textbook distributed k-means layout. A cell
    that loses all members drops out (its id simply stops matching).

    The per-dim mean sums components as DECIMAL (exact, so the sum — and
    therefore every centroid, assignment, and downstream similarity — is
    independent of partitioning/aggregation order; a double sum is not),
    then divides in double. Determinism costs nothing measurable here
    (k×dim aggregates) and makes the whole IVF construction replicable
    by the Python reference oracle (functions/reference.py).

    The geometry is BOUNDED (n_centroids × dim) and each round needs it
    whole, so — like pq_train's book — it lives DRIVER-SIDE across the
    Lloyd rounds: ONE Spark job per round (assignment scan + a single
    (centroid_id) group-by whose per-dim decimal sums are plain agg
    columns, collected ≤ n_centroids rows), no posexplode, no second
    (centroid_id, pos) exchange, no per-round localCheckpoint. The
    round-7 shape paid 2 shuffles + an eager checkpoint per round for
    the same bits.

    MEMOIZED across calls when the corpus is file-backed: the build is
    deterministic (seeded by the lowest ids, order-free decimal means),
    so the same canonicalized scan + identical parameters always yields
    the same centroids — the moral equivalent of an index catalog entry
    keyed by table snapshot. ann_ivfpq_topk, semantic_clusters and
    ann_recall_report all train ``(embeddings, 16, 2)``; without the
    memo each re-pays the full Lloyd build. Driver-built/RDD-backed
    corpora are NEVER memoized (a LocalRelation's canonical form does
    not include its data, so two different in-memory corpora would
    collide).

    ``_return_seed_rows=True`` also returns the collected seed rows —
    the ``n_centroids`` lowest-id ``(id, vector)`` pairs — which callers
    (ivfpq_topk) reuse to derive downstream seeds WITHOUT another
    corpus collect; they ride the memo too."""
    memo_key = _kmeans_memo_key(corpus, id_col, vec_col, n_centroids, iters)
    # single atomic .get(): concurrent builds share this dict, and the
    # eviction loop below may pop the key between a membership check and
    # a separate read — read once and branch on None instead
    memo_hit = _KMEANS_MEMO.get(memo_key) if memo_key is not None else None
    if memo_hit is not None:
        id_type, rows, seed_pairs = memo_hit
        cdf = corpus.sparkSession.createDataFrame(
            rows, f"centroid_id {id_type}, {vec_col} array<double>"
        )
        return (cdf, seed_pairs) if _return_seed_rows else cdf
    # each Lloyd round re-reads the vectors: persist the projection for
    # the loop; the returned table is a driver-built local relation, so
    # the unpersist after the loop is safe
    proj = _spread(corpus.select(id_col, vec_col), id_col).persist()
    seed_rows = sorted(
        proj.orderBy(id_col).limit(n_centroids).collect(), key=lambda r: r[id_col]
    )
    seed_pairs = [
        (r[id_col], None if r[vec_col] is None else list(r[vec_col]))
        for r in seed_rows
    ]
    cents: dict = {r[id_col]: [float(x) for x in r[vec_col]] for r in seed_rows}
    dim = len(next(iter(cents.values()))) if cents else 0
    id_type = corpus.schema[id_col].dataType.simpleString()
    if not cents:
        # empty corpus: the per-dim SQL fragments below would be
        # malformed (dim=0 → trailing comma); return the empty
        # centroid relation directly
        proj.unpersist()
        empty = corpus.sparkSession.createDataFrame(
            [], f"centroid_id {id_type}, {vec_col} array<double>"
        )
        return (empty, []) if _return_seed_rows else empty
    # per-call unique view name: two concurrent kmeans builds in one
    # SparkSession (threaded tests, concurrent streaming queries) must
    # not clobber each other's assignment view between
    # createOrReplaceTempView and sql(); dropped after the loop
    view = f"__kmeans_assign_{next(_KMEANS_VIEW_SEQ)}"
    try:
        for _ in range(iters):
            cdf = proj.sparkSession.createDataFrame(
                [(cid, vec) for cid, vec in sorted(cents.items())],
                f"centroid_id {id_type}, {vec_col} array<double>",
            )
            assign = ivf_assign(proj, cdf, id_col, vec_col, nprobe=1)
            # division stays in Spark (decimal→double cast, then /n) so
            # the collected doubles are the exact bits the exploded
            # shape produced; the Python reference is unchanged. The
            # round's agg is ONE sql() string, not 2×dim Column
            # objects — building hundreds of per-dim Columns through
            # the Python API costs ~2s of driver round-trips per round
            # per run, re-paid on every execution (it is plan
            # construction, not codegen, so no cache ever absorbs it).
            assign.createOrReplaceTempView(view)
            sums = ", ".join(
                f"sum(cast(cast(vec[{d}] as double) as decimal(30,12))) as s{d}"
                for d in range(dim)
            )
            means = ", ".join(f"cast(s{d} as double) / n" for d in range(dim))
            rows = proj.sparkSession.sql(
                f"select centroid_id, array({means}) as m from ("
                f"  select centroid_id, count(1) as n, {sums}"
                f"  from {view} group by centroid_id)"
            ).collect()
            cents = {r["centroid_id"]: list(r["m"]) for r in rows}
    finally:
        # always release the session-scoped view and the persisted
        # projection, even when a Lloyd round throws mid-loop
        proj.sparkSession.catalog.dropTempView(view)
        proj.unpersist()
    out_rows = [(cid, vec) for cid, vec in sorted(cents.items())]
    if memo_key is not None:
        while len(_KMEANS_MEMO) >= _KMEANS_MEMO_CAP:
            _KMEANS_MEMO.pop(next(iter(_KMEANS_MEMO)))
        _KMEANS_MEMO[memo_key] = (id_type, out_rows, seed_pairs)
    cdf = corpus.sparkSession.createDataFrame(
        out_rows, f"centroid_id {id_type}, {vec_col} array<double>"
    )
    return (cdf, seed_pairs) if _return_seed_rows else cdf


# bounded FIFO memo for kmeans_centroids over FILE-BACKED corpora — see
# the function docstring. Keyed by the corpus's canonicalized logical
# plan (normalized expr ids; includes path + pushed filters) plus the
# build parameters; values are plain driver-side rows.
_KMEANS_MEMO: dict = {}
_KMEANS_MEMO_CAP = 8
# sibling memo for pq_train books (same key discipline + cap; values
# are {(sub, code): codeword} dicts)
_PQ_TRAIN_MEMO: dict = {}
# sibling memo for the COMPOSED IVFADC index build (ivfpq_topk): the
# residual relation embeds the collected-centroid LocalRelation, so
# pq_train's own memo key is None there by design — every call repaid
# the residual scan, both residual-Lloyd rounds and the encode pass
# (the r11 board's top fixed-overhead entry). The build is
# deterministic from (files, params) like every other entry in this
# catalog, so the index memo stores the driver-side book plus the
# eagerly-checkpointed code relation, keyed additionally by
# applicationId (a checkpointed DataFrame dies with its session).
# Serving — the per-query work — is never memoized. Evicted entries
# just drop the reference; ContextCleaner releases the checkpoint
# blocks with the RDD.
_IVFPQ_INDEX_MEMO: dict = {}


def _derive_resid_seeds(cents: DataFrame, corpus_seed: list, n_codes: int):
    """ivfpq_topk's driver-side PQ seed derivation: walk the (vid-ASC)
    kmeans seed rows, assign each to its cell with ``_ivf_assign_py``,
    and emit the first ``n_codes`` surviving residuals — the exact rows
    ``resid.orderBy(vid).limit(n_codes)`` would collect, without the
    job. Returns None (→ caller falls back to the Spark collect) when
    the seed rows can't prove the answer: fewer than n_codes survivors
    among them (the true seed set might extend past the collected
    prefix) or any non-finite assignment."""
    cent_rows = [
        (r["centroid_id"], None if r[1] is None else list(r[1]))
        for r in cents.collect()
    ]
    cent_rows.sort(key=lambda t: t[0])
    out = []
    for vid, vec in corpus_seed:
        hit = _ivf_assign_py(vec, cent_rows)
        if hit == "unsafe":
            return None
        if hit is None:
            continue
        _, cvec = hit
        out.append((vid, [float(x) - c for x, c in zip(vec, cvec)]))
        if len(out) == n_codes:
            return out
    return None


def _ivf_assign_py(vec, cents_rows):
    """Driver-side replica of ``ivf_assign``'s nprobe=1 argmax for ONE
    vector — identical left folds (dot, x², both per ``_DOT_SQL`` /
    ``_VNORM_SQL``) over IEEE binary64, so the chosen cell is the same
    bits the Spark path produces. Used only to derive bounded seed rows
    (ivfpq_topk's PQ seeds) without an extra corpus collect; parity is
    pinned by tests/test_extensions.py.

    Returns ``(centroid_id, cvec)``, ``None`` for a row the Spark path
    drops (null/len-mismatched vector), or the string ``"unsafe"`` when
    any csim is non-finite (NaN ordering differs between Spark structs
    and Python tuples — callers must fall back to the Spark collect)."""
    import math

    if vec is None or any(x is None for x in vec):
        return None
    acc = 0.0
    for x in vec:
        xf = float(x)
        acc = acc + xf * xf
    vnorm = math.sqrt(acc)
    best = None
    best_cvec = None
    for cid, cvec in cents_rows:
        if cvec is None or len(cvec) != len(vec) or any(c is None for c in cvec):
            continue
        d = 0.0
        cn = 0.0
        for x, c in zip(vec, cvec):
            d = d + float(x) * float(c)
            cf = float(c)
            cn = cn + cf * cf
        denom = vnorm * math.sqrt(cn)
        if denom == 0.0:
            return "unsafe"
        csim = d / denom
        if math.isnan(csim) or math.isinf(csim):
            return "unsafe"
        key = (csim, -cid)
        if best is None or key > best:
            best = key
            best_cvec = (cid, cvec)
    return best_cvec


def _kmeans_memo_key(corpus, id_col, vec_col, n_centroids, iters):
    """Memo key, or None when the corpus must not be memoized: only
    plans rooted in file relations are cacheable — a LocalRelation /
    LogicalRDD canonical form omits its DATA, so two different
    in-memory corpora would share a key. The canonical plan string
    also omits the scan LOCATION (two same-schema parquet tables print
    identically), so the key additionally pins the exact backing files
    via ``inputFiles()`` — which, with Spark's uuid part-file names,
    doubles as staleness protection for rewritten tables."""
    try:
        s = corpus._jdf.queryExecution().analyzed().canonicalized().toString()
        if "LocalRelation" in s or "LogicalRDD" in s or "Relation" not in s:
            return None
        files = tuple(sorted(corpus.inputFiles()))
    except Exception:
        return None
    if not files:
        return None
    return (s, files, id_col, vec_col, int(n_centroids), int(iters))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned
    to their nearest centroid cell (centroids = deterministic seed
    refined by ``kmeans_iters`` Lloyd iterations, see
    ``kmeans_centroids``); queries probe their ``nprobe`` nearest cells
    and score only those cells' members. The cell join replaces the full
    cross product — the classic IVF pruning."""
    centroids = kmeans_centroids(corpus, id_col, vec_col, n_centroids, kmeans_iters)
    cells = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1)
    # .limit(n_centroids) is a no-op (the table IS ≤ n_centroids rows)
    # that DECLARES the bound in the plan: the nprobe>1 path broadcasts
    # the centroid table into a condition-free join, and the explicit
    # Limit is what lets the plan guard prove that build side constant.
    probes = ivf_assign(
        queries, centroids.limit(n_centroids), id_col, vec_col, nprobe=nprobe
    )
    cand = (
        probes.alias("q")
        .join(
            cells.alias("c"),
            (F.col("q.centroid_id") == F.col("c.centroid_id")) & (F.col("q.vid") != F.col("c.vid")),
        )
        .select(
            F.col("q.vid").alias("query_id"),
            F.col("c.vid").alias("neighbor_id"),
            F.col("q.vec").alias("qvec"),
            F.col("c.vec").alias("cvec"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 6)).select(
        "query_id", "neighbor_id", "sim"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _sub_slices(vec_col: str, dim: int, m: int):
    """Explode helper: one struct per subspace with its slice of the
    vector. ``F.slice`` is 1-based; the result keeps the subspace id so
    all ``m`` codebooks train in ONE corpus scan per Lloyd round."""
    sub_len = dim // m
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(F.col(vec_col), s * sub_len + 1, sub_len).alias("subvec"),
                )
                for s in range(m)
            ]
        )
    )


def _l2_sq_fixed(a: Column, b: Column, n: int) -> Column:
    """Unrolled squared L2 distance (codegen chain, fixed fold order —
    replicable by the Python reference). The hot PQ path uses the
    equivalent numpy fold inside ``_pq_assign``; this Column form is the
    executable SPEC of that fold order, pinned bit-for-bit against both
    the numpy path and ``_l2_sq_ref`` by
    tests/test_extensions.py::test_l2_fold_parity_codegen_numpy_pyref."""
    acc: Column = F.lit(0.0)
    for i in range(n):
        d = a[i].cast("double") - b[i].cast("double")
        acc = acc + d * d
    return acc


def _subs_table(corpus: DataFrame, id_col: str, vec_col: str, dim: int, m: int) -> DataFrame:
    return corpus.select(
        F.col(id_col).alias("vid"), _sub_slices(vec_col, dim, m).alias("s")
    ).select("vid", "s.sub", "s.subvec")


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    _subs: DataFrame | None = None,
    _return_book_dict: bool = False,
    _seed_pairs: list | None = None,
) -> DataFrame | tuple[DataFrame, dict]:
    """Product-quantization codebooks: ``(sub, code, codeword)`` — one
    k-codeword codebook per subspace, all ``m`` trained together.
    With ``_return_book_dict=True`` returns ``(book_df, book_dict)``
    where ``book_dict`` maps ``(sub, code) -> list[float]`` — the
    driver-side book, for callers (ivfpq, streaming PQ) that keep
    encoding without a re-collect. ``_seed_pairs`` (a vid-ASC list of
    exactly ``k`` ``(vid, vector)`` pairs) replaces the seed collect
    when the caller already holds the k lowest-id vectors driver-side
    (ivfpq_topk derives them from kmeans' seed rows) — the values must
    be the same bits the collect would return.

    PQ (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011) is THE 100 TB embedding-index family: a D-dim
    float vector compresses to ``m`` one-byte codes (here 64 floats →
    8 codes, 32×), and query scoring becomes table lookups instead of
    float-array math. Training = k-means per subspace; this runs all
    subspaces in one scan per Lloyd round (explode to (sub, subvec),
    assignment keyed by (sub, vid), means keyed by (sub, code, pos)) —
    shuffle volume per round is corpus × 1, not corpus × m.

    Determinism (what makes the bit-exact Python oracle possible): seeds
    are the ``k`` lowest vector ids' subvectors; assignment ties break
    on code ASC; per-dim means sum as DECIMAL(30,12) (order-free) and
    divide in double — the same discipline as ``kmeans_centroids``.
    """
    sub_len = dim // m
    # MEMOIZED like kmeans_centroids (same rationale: the build is
    # deterministic — lowest-id seeds, order-free decimal means — so a
    # file-backed corpus plus identical parameters always yields the
    # same book; an index catalog entry keyed by table snapshot). The
    # streaming PQ index trains the same wave-0 book on every
    # construction; without the memo each re-pays the seed collect and
    # every Lloyd round. Keyed by canonical plan + inputFiles + params;
    # in-memory corpora are never memoized (_kmeans_memo_key).
    memo_key = _kmeans_memo_key(corpus, id_col, vec_col, k, iters)
    memo_key = (memo_key, int(dim), int(m)) if memo_key is not None else None
    memo_hit = _PQ_TRAIN_MEMO.get(memo_key) if memo_key is not None else None
    if memo_hit is not None:
        bdf = corpus.sparkSession.createDataFrame(
            [(s, c, cw) for (s, c), cw in sorted(memo_hit.items())],
            "sub int, code int, codeword array<double>",
        )
        return (bdf, dict(memo_hit)) if _return_book_dict else bdf
    # persisted for the Lloyd loop: every round re-scans the subvector
    # table; the final book is eagerly checkpointed, so unpersist after
    # the loop is safe. A caller that already holds a persisted
    # subvector table (pq_topk shares one across train + encode) passes
    # it via ``_subs`` and keeps ownership of its lifetime.
    own_subs = _subs is None
    subs = (
        _spread(_subs_table(corpus, id_col, vec_col, dim, m), "vid", "sub").persist()
        if own_subs
        else _subs
    )
    # The book is BOUNDED (m × k entries, ≤128 at defaults) regardless
    # of corpus size, so it lives DRIVER-SIDE across Lloyd rounds —
    # same discipline as the BPE vocab (functions/bpe.py): one Spark
    # job per round (assignment + exact-decimal means, collected), no
    # per-round localCheckpoint, no book re-collect, no broadcast
    # exchange. Seeds = the k lowest vector ids' subvector slices —
    # a k-row bounded collect.
    if _seed_pairs is not None:
        seed_vecs = [vec for _, vec in _seed_pairs]
    else:
        seed_vecs = [
            r["vec"]
            for r in sorted(
                corpus.select(
                    F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
                )
                .orderBy("vid")
                .limit(k)
                .collect(),
                key=lambda r: r["vid"],
            )
        ]
    book: dict = {
        (s, c): [float(x) for x in vec[s * sub_len : (s + 1) * sub_len]]
        for c, vec in enumerate(seed_vecs)
        for s in range(m)
    }
    for _ in range(iters):
        assign = _pq_assign(subs, book, sub_len)
        # ONE shuffle per Lloyd round: the per-dim means of a cell are
        # sub_len independent aggregate columns of a single (sub, code)
        # group-by — no posexplode, no second (sub, code, pos) exchange.
        # Each dim's sum goes through the double→DECIMAL(30,12) cast
        # chain; decimal sums are order-free, so every mean — and the
        # Python reference — is unchanged bit for bit. The result is
        # ≤ m × k rows: bounded collect back into the driver book.
        rows = (
            assign.groupBy("sub", "code")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.col("subvec")[d].cast("double").cast("decimal(30,12)")).alias(f"s{d}")
                    for d in range(sub_len)
                ],
            )
            .select(
                "sub",
                "code",
                F.array(
                    *[F.col(f"s{d}").cast("double") / F.col("n") for d in range(sub_len)]
                ).alias("codeword"),
            )
            .collect()
        )
        book = {(r["sub"], r["code"]): list(r["codeword"]) for r in rows}
    if own_subs:
        subs.unpersist()
    if memo_key is not None:
        while len(_PQ_TRAIN_MEMO) >= _KMEANS_MEMO_CAP:
            _PQ_TRAIN_MEMO.pop(next(iter(_PQ_TRAIN_MEMO)))
        _PQ_TRAIN_MEMO[memo_key] = dict(book)
    bdf = corpus.sparkSession.createDataFrame(
        [(s, c, cw) for (s, c), cw in sorted(book.items())],
        "sub int, code int, codeword array<double>",
    )
    # The book already lives driver-side as a dict across the Lloyd
    # rounds; callers that immediately encode (pq_topk) take it back as
    # a dict too, so the encode pass can ship it in a task closure
    # instead of re-collecting the DataFrame they were just handed.
    return (bdf, book) if _return_book_dict else bdf


def _pq_assign(subs: DataFrame, book, sub_len: int, keep_d2: bool = False) -> DataFrame:
    """Nearest codeword per (vid, sub), ZERO-JOIN: the (sub, code,
    codeword) book is a bounded constant (m × k entries by
    construction), so it rides to the executors inside the task closure
    of ONE Arrow-batched ``mapInPandas`` over the subvector scan — no
    broadcast exchange, no BNLJ, no per-row interpreted HOF lambdas
    (rounds 4/5 tried rank-window → map-LUT → expression folds; the
    fold variants were dominated by Catalyst planning/codegen of the
    tripled expression tree, data-INdependent cost that 100 TB would
    not amortize either). Per batch the distance matrix is a
    dim-at-a-time vectorized float64 fold, so each (row, code) pair
    accumulates ``((0 + d0²) + d1²) + ...`` in exactly the fixed
    left-fold order of ``_l2_sq_fixed`` and the Python reference
    (`_l2_sq_ref`) — bit-identical codes, argmin over code-ASC columns
    == (d2 ASC, code ASC) tie-break. Dirty data keeps the old
    semantics: a null element poisons that pair to +inf (was: null d2
    filtered out), and a row with no finite pair is dropped.

    ``book`` is either the driver-side ``{(sub, code): codeword}`` dict
    (pq_train's Lloyd loop) or the equivalent (sub, code, codeword)
    DataFrame (pq_encode with a caller-supplied book) — the DataFrame
    form is a bounded ≤ m × k collect, same class as the BPE vocab
    collect (functions/bpe.py).
    """
    import numpy as np

    books = _book_arrays(book)

    from pyspark.sql import types as T

    schema = T.StructType(
        list(subs.schema.fields) + [T.StructField("code", T.IntegerType())]
    )
    if keep_d2:  # the winning pair's squared L2 — the quantization error
        schema = schema.add(T.StructField("d2", T.DoubleType()))

    _f64 = _np_f64

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            out_code = np.full(len(pdf), -1, dtype=np.int32)
            out_d2 = np.full(len(pdf), np.nan, dtype=np.float64)
            for s, idx in pdf.groupby("sub").indices.items():
                bk = books.get(int(s))
                if bk is None:
                    continue  # subspace lost ALL codewords: rows drop
                code_ids_int, C = bk
                V = np.stack([_f64(v) for v in pdf["subvec"].iloc[idx]])
                acc = np.zeros((len(idx), C.shape[0]), dtype=np.float64)
                for d in range(sub_len):
                    diff = V[:, d, None] - C[None, :, d]
                    acc += diff * diff
                acc[~np.isfinite(acc)] = np.inf  # null/NaN pair -> excluded
                best = np.argmin(acc, axis=1)
                bd2 = acc[np.arange(len(idx)), best]
                hit = np.isfinite(bd2)
                out_code[idx[hit]] = code_ids_int[best[hit]]
                out_d2[idx[hit]] = bd2[hit]
            pdf["code"] = out_code
            if keep_d2:
                pdf["d2"] = out_d2
            yield pdf[pdf["code"] >= 0]

    return subs.mapInPandas(assign_batches, schema)


def _np_f64(v):
    """Vector -> float64 ndarray; a null element becomes NaN (poisoned
    to +inf by the distance folds below — the _pq_assign dirty-data
    semantics)."""
    import numpy as np

    a = np.asarray(v)
    if a.dtype == object:
        a = np.array([np.nan if x is None else x for x in a], dtype=np.float64)
    return a.astype(np.float64, copy=False)


def _book_arrays(book) -> dict:
    """(sub, code)->codeword book (dict or bounded m×k DataFrame) as
    per-sub (code_ids, codeword_matrix) numpy pairs, code ASC so
    np.argmin's first-hit tie-break == (d2 ASC, code ASC)."""
    import numpy as np

    if not isinstance(book, dict):
        book = {
            (int(r["sub"]), int(r["code"])): [float(x) for x in r["codeword"]]
            for r in book.select("sub", "code", "codeword").collect()
        }
    by_sub: dict[int, list] = {}
    for (s, c), cw in book.items():
        by_sub.setdefault(int(s), []).append((int(c), cw))
    books = {}
    for s, lst in by_sub.items():
        lst.sort()
        books[s] = (
            np.array([c for c, _ in lst], dtype=np.int64),
            np.array([cw for _, cw in lst], dtype=np.float64),
        )
    return books


def pq_encode_rows(
    corpus: DataFrame,
    book,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    keep_err: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Compress vectors to ``(vid, *carry_cols, codes[, err])`` in ONE zero-shuffle
    Arrow pass: all ``m`` subspaces of a vector are encoded inside the
    same mapInPandas batch, so there is no subspace explode and no
    (vid)-keyed re-assembly exchange — the encoder for BOTH the
    streaming PQ index's ingest path and the batch ``pq_topk`` (the
    exploded ``pq_encode`` remains for callers that already hold a
    subvector table and want the per-(vid, sub) drop semantics).

    Bit-contract: per subspace the distance fold, argmin tie-break and
    null poisoning are exactly ``_pq_assign``'s (same numpy fold), so
    codes are bit-identical to the exploded path and the Python
    reference. ``err`` (with ``keep_err``) is the quantization error
    Σ_sub d2_winner, accumulated in sub ASC order (a fixed left fold).
    A vector with ANY unencodable subspace (no finite codeword pair, or
    a subspace absent from the book) is dropped whole — the row-wise
    tightening of the exploded path's per-(vid, sub) drop.

    ``carry_cols`` pass through unchanged (same row filter as ``vid``) —
    the IVF-PQ index uses this to keep each code row's coarse cell id
    without a corpus-sized join-back after encoding."""
    import numpy as np

    from pyspark.sql import types as T

    books = _book_arrays(book)
    sub_len = dim // m

    id_field = corpus.schema[id_col]
    schema = T.StructType(
        [T.StructField("vid", id_field.dataType)]
        + [T.StructField(c, corpus.schema[c].dataType) for c in carry_cols]
        + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )
    if keep_err:
        schema = schema.add(T.StructField("err", T.DoubleType()))

    def encode_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            V = np.stack([_np_f64(v) for v in pdf[vec_col]])
            codes = np.full((n, m), -1, dtype=np.int32)
            errs = np.zeros(n, dtype=np.float64)
            valid = np.ones(n, dtype=bool)
            for s in range(m):
                bk = books.get(s)
                if bk is None:
                    valid[:] = False
                    break
                code_ids, C = bk
                Vs = V[:, s * sub_len : (s + 1) * sub_len]
                acc = np.zeros((n, C.shape[0]), dtype=np.float64)
                for d in range(sub_len):
                    diff = Vs[:, d, None] - C[None, :, d]
                    acc += diff * diff
                acc[~np.isfinite(acc)] = np.inf
                best = np.argmin(acc, axis=1)
                bd2 = acc[np.arange(n), best]
                hit = np.isfinite(bd2)
                codes[:, s] = np.where(hit, code_ids[best], -1)
                errs = errs + np.where(hit, bd2, 0.0)
                valid &= hit
            out = pd.DataFrame({"vid": pdf[id_col][valid].reset_index(drop=True)})
            for c in carry_cols:
                out[c] = pdf[c][valid].reset_index(drop=True)
            out["codes"] = [c.tolist() for c in codes[valid]]
            if keep_err:
                out["err"] = errs[valid]
            if len(out):
                yield out

    return corpus.select(id_col, *carry_cols, vec_col).mapInPandas(encode_batches, schema)


def pq_encode(
    corpus: DataFrame,
    book: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    _subs: DataFrame | None = None,
) -> DataFrame:
    """Compress each vector to its code array: ``(vid, codes)`` with
    ``codes[sub]`` = nearest codeword in subspace ``sub``. This is the
    stored index — m small ints per vector instead of ``dim`` floats."""
    sub_len = dim // m
    subs = (
        _spread(_subs_table(corpus, id_col, vec_col, dim, m), "vid", "sub")
        if _subs is None
        else _subs
    )
    assign = _pq_assign(subs, book, sub_len)
    return (
        assign.groupBy("vid")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc"))
        .select("vid", F.transform("sc", lambda s: s["code"]).alias("codes"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    iters: int = 2,
    n_salt: int = 8,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: ``sim ≈ cosine(query, reconstructed corpus vector)``.

    The scan never touches corpus floats — only the m-byte code arrays.
    Per query a lookup table ``lut[sub][code] = dot(q_sub, codeword)``
    (m·k doubles) is prebuilt; because reconstruction concatenates
    subspace codewords, ``|x̂|² = Σ_sub |codeword|²`` is exact from a
    query-independent norm table. Scoring a pair is m array lookups +
    adds — the FAISS IVFADC inner loop as codegen'd Spark expressions.
    Ranking reuses the two-level salted top-k (no per-query funnel).
    """
    # The persisted subvector table feeds training's Lloyd re-scans
    # only; ENCODING goes through the zero-shuffle row encoder
    # (``pq_encode_rows``, the streaming ingest path) with the book
    # dict pq_train already holds driver-side. The round-7 shape
    # shared ``subs`` with an exploded encode pass — saving a corpus
    # re-scan but paying a (vid)-keyed reassembly exchange of
    # corpus × m rows; at 100 TB the cached subs table doesn't fit
    # memory anyway, so a second columnar scan of (id, vec) beats
    # that shuffle outright, and codes stay bit-identical (shared
    # numpy fold — pq_encode_rows' contract). codes is eagerly
    # checkpointed (corpus_rows × m bytes — the whole point of PQ is
    # that this is small) so the scoring plan reads a materialized
    # relation, not the encode lineage.
    subs = _spread(_subs_table(corpus, id_col, vec_col, dim, m), "vid", "sub").persist()
    book, book_dict = pq_train(
        corpus, id_col, vec_col, dim, m, n_codes, iters, _subs=subs, _return_book_dict=True
    )
    subs.unpersist()
    codes = pq_encode_rows(corpus, book_dict, id_col, vec_col, dim, m).localCheckpoint(
        eager=True
    )
    return pq_adc_topk(codes, book, queries, id_col, vec_col, dim, m, n_codes, k, n_salt)


def _adc_qtab(
    queries: DataFrame,
    book: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    n_codes: int,
) -> DataFrame:
    """Per-query ADC lookup table ``(query_id, t, qnorm)``: ``t`` is the
    m×k book as a DENSE array indexed by ``sub*n_codes + code`` of
    ``struct(lutval = dot(q_sub, codeword), cwn2 = |codeword|²)``.

    Densifying BY KEY (map_from_entries → indexed transform) keeps every
    surviving (sub, code) at its own slot with an explicit null sentinel
    at holes: pq_train can drop a codeword whose cell loses all members
    during Lloyd rounds, and a hole in a merely FLATTENED array would
    shift every later entry (the round-5 bug) — while pair scoring stays
    O(1) array indexing. (The round-5 map-keyed fix was hole-proof but
    made every lookup an O(|map|) linear scan over the ~128 entries — 8
    scans per candidate pair.) Hole slots are null and unreadable: codes
    only ever reference surviving codewords. Shared by the flat-PQ ADC
    (``pq_adc_topk``) and the IVF-PQ residual scorer (``ivfpq_topk`` —
    there ``queries``' vectors are the RAW query vectors even though the
    book is residual-trained: dot(q, r̂) decomposes per subspace)."""
    sub_len = dim // m
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    lut = (
        q.select("query_id", "qvec", _sub_slices("qvec", dim, m).alias("s"))
        .select("query_id", "qvec", "s.sub", "s.subvec")
        .join(F.broadcast(book), "sub")
        .withColumn("lutval", F.expr(_dot_fixed_sql("subvec", "codeword", sub_len)))
        .withColumn("cwn2", F.expr(_dot_fixed_sql("codeword", "codeword", sub_len)))
    )
    return (
        lut.groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("sub") * n_codes + F.col("code")).alias("i"),
                        F.struct("lutval", "cwn2").alias("v"),
                    )
                )
            ).alias("t0"),
            F.first(F.expr(_norm_fixed_sql("qvec", dim))).alias("qnorm"),
        )
        .select(
            "query_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m * n_codes - 1)),
                lambda i: F.try_element_at(F.col("t0"), i),
            ).alias("t"),
            "qnorm",
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    book: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    n_salt: int = 8,
) -> DataFrame:
    """ADC scoring + salted ranking over an ALREADY-ENCODED corpus:
    the serving half of ``pq_topk``, shared with the streaming PQ index
    (streaming/pq_index.py) where ``codes`` is upserted state and the
    book is frozen. ``codes`` = (vid, codes[m]); self-pairs are
    excluded by id."""
    qtab = _adc_qtab(queries, book, id_col, vec_col, dim, m, n_codes)
    paired = codes.join(F.broadcast(qtab), F.col("query_id") != F.col("vid"))
    # the m-lookup ADC chain as one parsed string (same left fold as the
    # previous F.get loop — see _dot_fixed_sql's rationale)
    raw = "0.0D"
    n2 = "0.0D"
    for s in range(m):
        idx = f"({s * n_codes} + codes[{s}])"
        raw = f"({raw} + get(t, {idx}).lutval)"
        n2 = f"({n2} + get(t, {idx}).cwn2)"
    scored = paired.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.expr(f"ROUND({raw} / (qnorm * SQRT({n2})), 6)").alias("sim"),
    )
    return _salted_rank(scored, k, n_salt)


def _salted_rank(scored: DataFrame, k: int, n_salt: int) -> DataFrame:
    """Two-level top-k over ``(query_id, neighbor_id, sim)``: a salted
    local row_number prunes each query's candidates to ``n_salt × k``
    before the single per-query window — no one-reducer-per-query funnel
    at scale. Ties break (sim DESC, neighbor_id ASC), matching
    ``_topk_ref``."""
    order = [F.desc("sim"), F.asc("neighbor_id")]
    local_w = Window.partitionBy(
        "query_id", F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salt))
    ).orderBy(*order)
    pruned = (
        scored.withColumn("lrank", F.row_number().over(local_w))
        .filter(F.col("lrank") <= k)
        .drop("lrank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 2,
    iters: int = 2,
    n_salt: int = 8,
) -> DataFrame:
    """IVFADC — the composed IVF + residual-PQ index (Jégou et al.,
    TPAMI 2011 §V; FAISS ``IVFxx,PQyy``), THE architecture a 100 TB
    embedding corpus actually serves from: a coarse quantizer routes
    every vector to one of ``n_centroids`` cells, and only the RESIDUAL
    ``r = x − centroid(x)`` is product-quantized — residuals are
    smaller-normed and centered, so the same m×k budget quantizes them
    with far less error than raw vectors. A query probes its ``nprobe``
    nearest cells and ADC-scores ONLY those cells' code rows.

    Scale shape — every piece is the one you'd want at 1000 executors:

    - the serving scan touches codes only: ``(vid, cell, m bytes)``,
      never corpus floats (32× less IO than raw, same as flat PQ), and
      the cell equi-join prunes it to the probed cells — at
      ``nprobe/n_centroids`` = 4/16 the scan does ¼ of flat-ADC's work;
      with production C (65k cells, nprobe 64) it is ~0.1%.
    - all quantization tables are BOUNDED and broadcast: per-query LUT
      (m×k dots — ``_adc_qtab``, shared with flat ADC), per-cell
      precomputed table ``ct[cell][sub][code] = dot(centroid_sub, cw)``
      (C×m×k — FAISS's ``precompute_table``) and ``|centroid|²``. The
      cosine against the reconstruction ``x̂ = c + r̂`` decomposes as
        (dot(q,c) + Σ_s lut[s][code_s]) /
        (|q| · sqrt(|c|² + 2·Σ_s ct[...] + Σ_s |cw|²))
      — m dense-array lookups per term, zero per-pair float-vector math.
    - build = the proven deterministic pieces end to end: Lloyd coarse
      centroids (``kmeans_centroids``), zero-shuffle cell argmax
      (``ivf_assign`` nprobe=1), elementwise-double residuals, one PQ
      book over residuals (``pq_train``), zero-shuffle row encode with
      the cell id carried through (``pq_encode_rows`` ``carry_cols`` —
      no corpus-sized join-back). The residual relation is persisted
      for its three consumers (seed collect, Lloyd re-scans, encode)
      and released before serving.

    Every float fold reuses an existing pinned fold order, so the whole
    construction is replicable bit-for-bit by the Python oracle
    (functions/reference.py ``ivfpq_topk_ref``). Candidate pairs are
    unique by construction (each corpus vector lives in exactly ONE
    cell), so no dedup stage is needed — unlike LSH's bucket union."""
    sub_len = dim // m
    base_key = _kmeans_memo_key(corpus, id_col, vec_col, n_centroids, kmeans_iters)
    memo_key = (
        (
            base_key,
            int(dim), int(m), int(n_codes), int(iters),
            corpus.sparkSession.sparkContext.applicationId,
        )
        if base_key is not None
        else None
    )
    memo_hit = _IVFPQ_INDEX_MEMO.get(memo_key) if memo_key is not None else None
    if memo_hit is not None:
        # VALIDITY PROBE (r12 ADVICE): the memoized code relation is a
        # localCheckpoint — its blocks are NON-recomputable, so on a
        # real cluster an executor loss between builds would make every
        # later memo-hit serving scan fail where the unmemoized path
        # would simply rebuild. Probe with one cheap take(1) and fall
        # back to a full rebuild (evicting the dead entry) on ANY
        # error — the memo is an optimization and must never be able
        # to fail a query the cold path would have answered.
        try:
            memo_hit[1].take(1)
        except Exception:
            _IVFPQ_INDEX_MEMO.pop(memo_key, None)
            memo_hit = None
    if memo_hit is not None:
        # index-catalog hit: the deterministic build (centroids, book,
        # checkpointed code relation) is reused bit-for-bit; only the
        # serving scan below runs
        book_dict, codes = memo_hit
        cents = kmeans_centroids(corpus, id_col, vec_col, n_centroids, kmeans_iters)
        book = corpus.sparkSession.createDataFrame(
            [(s, c, cw) for (s, c), cw in sorted(book_dict.items())],
            "sub int, code int, codeword array<double>",
        )
    else:
        cents, corpus_seed = kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, kmeans_iters, _return_seed_rows=True
        )
        cvecs0 = cents.select("centroid_id", F.col(vec_col).alias("cvec"))

        # residuals, elementwise double: (double)x[d] - centroid[d]
        cells = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
        resid = (
            cells.join(F.broadcast(cvecs0), "centroid_id")
            .select(
                "vid",
                "centroid_id",
                F.zip_with(
                    F.col("vec"), F.col("cvec"), lambda x, c: x.cast("double") - c
                ).alias("resid"),
            )
            .persist()
        )
        # PQ seeds = the n_codes lowest-vid RESIDUAL rows. kmeans already
        # collected the n_centroids lowest-vid corpus vectors (seed rows),
        # and the centroid table is a driver-local relation — so when those
        # suffice, the residual seeds are derived DRIVER-SIDE with the same
        # IEEE folds (_ivf_assign_py) and pq_train skips its seed-collect
        # job entirely; the Lloyd round-1 scan then materializes the resid
        # cache instead. Any corner (too few survivors, a dropped or
        # non-finite row) falls back to the Spark collect — bits are
        # identical either way.
        pq_seeds = _derive_resid_seeds(cents, corpus_seed, n_codes) if corpus_seed else None
        book, book_dict = pq_train(
            resid,
            "vid",
            "resid",
            dim,
            m,
            n_codes,
            iters,
            _return_book_dict=True,
            _seed_pairs=pq_seeds,
        )
        codes = pq_encode_rows(
            resid, book_dict, "vid", "resid", dim, m, carry_cols=("centroid_id",)
        ).localCheckpoint(eager=True)
        resid.unpersist()
        if memo_key is not None:
            while len(_IVFPQ_INDEX_MEMO) >= _KMEANS_MEMO_CAP:
                _IVFPQ_INDEX_MEMO.pop(next(iter(_IVFPQ_INDEX_MEMO)))
            _IVFPQ_INDEX_MEMO[memo_key] = (dict(book_dict), codes)
    cvecs = cents.select("centroid_id", F.col(vec_col).alias("cvec"))

    # probe-side bounded tables. The .limit declares the centroid bound
    # for the plan guard, as in ivf_topk.
    probes = ivf_assign(
        queries, cents.limit(n_centroids), id_col, vec_col, nprobe=nprobe
    ).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("qvec"), "centroid_id"
    )
    probe_cells = probes.join(F.broadcast(cvecs), "centroid_id").select(
        "query_id",
        "centroid_id",
        F.expr(_dot_fixed_sql("qvec", "cvec", dim)).alias("qcdot"),
    )
    qtab = _adc_qtab(queries, book, id_col, vec_col, dim, m, n_codes)
    # per-cell precomputed table, dense like the query LUT (same hole
    # discipline — _adc_qtab's docstring)
    ctab = (
        cvecs.select("centroid_id", "cvec", _sub_slices("cvec", dim, m).alias("s"))
        .select("centroid_id", "cvec", "s.sub", "s.subvec")
        .join(F.broadcast(book), "sub")
        .select(
            "centroid_id",
            "cvec",
            (F.col("sub") * n_codes + F.col("code")).alias("i"),
            F.expr(_dot_fixed_sql("subvec", "codeword", sub_len)).alias("cdot"),
        )
        .groupBy("centroid_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("i"), F.col("cdot").alias("v")))
            ).alias("ct0"),
            F.first(F.expr(_dot_fixed_sql("cvec", "cvec", dim))).alias("cnorm2"),
        )
        .select(
            "centroid_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m * n_codes - 1)),
                lambda i: F.try_element_at(F.col("ct0"), i),
            ).alias("ct"),
            "cnorm2",
        )
    )

    probe_t = probe_cells.join(qtab, "query_id").join(ctab, "centroid_id")
    paired = codes.join(
        F.broadcast(probe_t),
        (codes["centroid_id"] == probe_t["centroid_id"])
        & (F.col("query_id") != F.col("vid")),
    )
    # the 3 m-lookup ADC chains as one parsed string (same left folds as
    # the previous F.get loop — see _dot_fixed_sql's rationale)
    raw = "0.0D"
    cd = "0.0D"
    n2 = "0.0D"
    for s in range(m):
        i = f"({s * n_codes} + codes[{s}])"
        raw = f"({raw} + get(t, {i}).lutval)"
        n2 = f"({n2} + get(t, {i}).cwn2)"
        cd = f"({cd} + get(ct, {i}))"
    scored = paired.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.expr(
            f"ROUND((qcdot + {raw})"
            f" / (qnorm * SQRT(cnorm2 + 2.0D * {cd} + {n2})), 6)"
        ).alias("sim"),
    )
    return _salted_rank(scored, k, n_salt)


def lsh_buckets(df: DataFrame, id_col: str, vec_col: str, tables: int = 4, planes: int = 12) -> DataFrame:
    """(id, table, bucket) rows: one bucket per hash table per vector.

    Hyperplane weights are deterministic pseudo-random values
    ``w(t,p,j) = xxhash64(t,p,j) → ±[0,1)``; the tables×planes dot
    products are computed as codegen'd conditional-sum aggregates over
    the pos-exploded vector (one shuffle on the vector id) — array
    lambdas are interpreted and much slower."""
    comp = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.posexplode(F.col(vec_col)).alias("j", "x"),
    )
    aggs = []
    for t in range(tables):
        for p in range(planes):
            w = (
                F.pmod(F.xxhash64(F.lit(t), F.lit(p), F.col("j")), F.lit(2_000_001)) - 1_000_000
            ) / 1_000_000.0
            aggs.append(F.sum(F.col("x").cast("double") * w).alias(f"d_{t}_{p}"))
    dots = comp.groupBy("vid").agg(F.first("vec").alias("vec"), *aggs)
    buckets = []
    for t in range(tables):
        bucket = F.lit(0).cast("long")
        for p in range(planes):
            bit = F.when(F.col(f"d_{t}_{p}") >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            bucket = F.shiftleft(bucket, 1).bitwiseOR(bit)
        buckets.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    stacked = dots.select("vid", "vec", F.explode(F.array(*buckets)).alias("tb"))
    return stacked.select("vid", "vec", "tb.table", "tb.bucket")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    tables: int = 4,
    planes: int = 12,
) -> DataFrame:
    """Approximate top-k: candidates from LSH bucket collisions across
    `tables` hash tables, exact cosine on candidates only. Recall is
    checked against brute force in tests."""
    cb = lsh_buckets(corpus, id_col, vec_col, tables, planes)
    qb = lsh_buckets(queries, id_col, vec_col, tables, planes)
    cand = (
        qb.alias("q")
        .join(
            cb.alias("c"),
            (F.col("q.table") == F.col("c.table"))
            & (F.col("q.bucket") == F.col("c.bucket"))
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
    scored = cand.withColumn("sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 6)).select(
        "query_id", "neighbor_id", "sim"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
