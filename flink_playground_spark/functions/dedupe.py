"""Large-scale document deduplication.

Four families, each shaped for a 1000-executor cluster:

- **exact**: md5-fingerprint hash-groupBy — one shuffle, map-side combine.
- **n-gram Jaccard**: exact set-similarity self-join done the published
  way (SSJoin/PPJoin): prefix-filtered candidate generation over a
  rarest-first shingle order — hot shingles never enter a prefix, so no
  quadratic candidate blowup on skewed corpora — then exact verification
  of candidate pairs only, against a single persisted inverted index.
- **MinHash + LSH**: per-doc signature (K hashes), banded into buckets;
  candidate pairs only where a band bucket collides — the sub-quadratic
  scale path. Candidates are then *verified* with the exact Jaccard
  join, so the output contains no false positives.
- **SimHash**: 64-bit fingerprint; near-dups = Hamming distance <= k,
  found by pigeonhole banding (4 x 16-bit chunks: distance <=3 implies an
  equal chunk) — again join-on-band, verify exact distance.

All hashing is ``xxhash64`` (JVM-side, vectorized). Signatures are array
columns manipulated with built-in higher-order functions — no Python in
the per-row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_playground_spark.functions.text import fingerprint, fingerprint_sql, tokens, tokens_sql
from flink_playground_spark.sqltext import double, quote


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint ->
    canonical id (min) + member count. Output keeps only groups >1."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per identical fingerprint."""
    with_fp = df.withColumn("fp", fingerprint(text_col))
    from flink_playground_spark.operators.dedup import dedup_latest

    # keep-lowest-id == keep-latest ordered by negated id; use min_by shape
    return (
        with_fp.groupBy("fp")
        .agg(F.min_by(F.struct(*[F.col(c) for c in df.columns]), F.col(id_col)).alias("__doc"))
        .select("__doc.*")
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Inverted index: (shingle-hash, doc id) + per-doc distinct count.

    Codegen shape: posexplode tokens → lead() window builds the n-grams →
    per-doc dedup + count. Shingles are keyed by xxhash64 (8-byte
    shuffle keys instead of strings; a collision would need 2^64 shingles).

    Single-exchange pass: the lead window already hash-partitions by
    ``doc``, which satisfies both the (doc, shingle) dedup's clustering
    requirement (hash on a key subset) and the per-doc count window —
    so dedup inserts no Exchange and the count is a sort-only window.
    The previous ``distinct + groupBy().count + join`` shape planned the
    gram subtree TWICE (one execution per branch) and paid two more
    exchanges; ``n_sh`` over the deduped frame equals the old
    count_distinct by construction."""
    from flink_playground_spark.functions.similarity import _spread

    # _spread before tokenize/explode (guide §2.5): the split+posexplode
    # fan-out otherwise runs on the scan's partition count — locally one
    # split, one core. The decision reads the plan's sources and never
    # runs the plan, so a frame built on a persisted relation (the LSH
    # path's representatives) is not computed twice. The lead window's
    # exchange on doc follows either way; a no-op at real scale.
    toks = _spread(
        df.selectExpr(f"{quote(id_col)} AS doc", f"{quote(text_col)} AS __t"), "doc"
    ).selectExpr("doc", f"posexplode({tokens_sql('__t')}) AS (j, tok)")
    # materialize every lead BEFORE filtering — window exprs in a
    # post-filter projection would re-evaluate over the filtered frame
    with_leads = toks.selectExpr(
        "doc",
        "tok",
        *[f"lead(tok, {i}) OVER (PARTITION BY doc ORDER BY j) AS __t{i}" for i in range(1, n)],
    )
    gram = ", ".join(["tok"] + [f"__t{i}" for i in range(1, n)])
    grams = with_leads.filter(f"__t{n-1} IS NOT NULL").selectExpr(
        "doc", f"xxhash64(concat_ws(' ', {gram})) AS shingle"
    )
    return grams.dropDuplicates(["doc", "shingle"]).selectExpr(
        "doc", "count(1) OVER (PARTITION BY doc) AS n_sh", "shingle"
    )


def verify_pairs(idx: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for *candidate pairs only* — the shared verification
    kernel for the n-gram, MinHash-LSH and streaming near-dup paths.

    ``idx`` is a shingle index (doc, n_sh, shingle); ``cand`` is a set of
    (id_a, id_b) pairs. Cost is O(|cand| x shingles/doc) — two equi-joins
    on doc ids plus one hash aggregation — NOT a full index self-join, so
    verification work is proportional to the candidate set, never to the
    corpus. A candidate pair sharing zero shingles simply drops out of the
    intersection aggregate (Jaccard 0 < threshold).
    """
    ia = idx.selectExpr("doc AS id_a", "n_sh AS n_a", "shingle")
    ib = idx.selectExpr("doc AS id_b", "n_sh AS n_b", "shingle")
    inter = (
        cand.select("id_a", "id_b")
        .join(ia, "id_a")
        .join(ib, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.expr("count(1) AS inter"), F.expr("first(n_a) AS n_a"), F.expr("first(n_b) AS n_b"))
    )
    return _jaccard_at_least(inter, threshold)


def _jaccard_at_least(inter: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, inter, n_a, n_b)`` -> ``(id_a, id_b, jaccard)`` for
    pairs with Jaccard (rounded to 6) at least ``threshold``."""
    jac = inter.withColumn("jaccard", F.expr("round(inter / (n_a + n_b - inter), 6)"))
    return jac.filter(f"jaccard >= {double(threshold)}").select("id_a", "id_b", "jaccard")


def prefix_filter_candidates(idx: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs by *prefix filtering* (SSJoin / PPJoin family:
    Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) — exact, no recall loss.

    Shingles get a global rarest-first total order (document frequency,
    then hash). A doc with n_sh shingles only indexes its first
    floor((1-t)*n_sh)+1 shingles in that order: two sets with Jaccard >= t
    must share an element inside both prefixes, so joining on prefix
    shingles is complete. This is *stronger* than a stop-shingle DF
    cutoff: ultra-common shingles sort last and never enter a prefix
    (no hot-shingle candidate blowup), yet the guarantee is exact rather
    than heuristic. A size filter (min >= t*max, from
    |inter| <= min(n_a,n_b) and |union| >= max(n_a,n_b)) prunes further.

    PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2), round 10 —
    candidate volume was tracking shingle co-occurrence, not true-pair
    density (SCALE_PROOF 0.67 at the 10x step). Each prefix entry
    carries its rank ``rk`` in the doc's sorted shingle order; a match
    at ranks (i, j) bounds the pair's overlap by
    ``1 + min(n_a - i, n_b - j)`` (every other common shingle sorts
    AFTER the matched one in BOTH docs — the order is global), while
    Jaccard >= t forces overlap >= t/(1+t)·(n_a+n_b). Rows violating
    the bound are pruned BEFORE the pair ever materializes. Exactness:
    the pair's FIRST common shingle in global order achieves rank
    minima in both docs simultaneously and sits in both prefixes (the
    prefix theorem), and at that row the bound >= true overlap — so
    every true pair still survives on at least one row; extra survivors
    only cost verification, never recall.
    """
    from pyspark.sql import Window

    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    prefix = (
        idx.join(dfreq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.floor((1.0 - threshold) * F.col("n_sh")) + F.lit(1))
        .select("doc", "n_sh", "shingle", "rk")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # -1e-9: don't let float rounding of t*max prune a boundary-exact pair
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (
                F.least("a.n_sh", "b.n_sh")
                >= threshold * F.greatest("a.n_sh", "b.n_sh") - F.lit(1e-9)
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("a.n_sh") - F.col("a.rk"), F.col("b.n_sh") - F.col("b.rk")
                )
                >= (threshold / (1.0 + threshold))
                * (F.col("a.n_sh") + F.col("b.n_sh"))
                - F.lit(1e-9)
            ),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def _all_pairs_jaccard(idx: DataFrame, threshold: float) -> DataFrame:
    """Jaccard for every co-occurring pair in one index self-join pass:
    intersection counts from the equi-join on shingle, union from the
    per-doc distinct counts. The size filter (min >= t*max) is pushed
    into the join condition. Right shape when the threshold is low
    enough that prefix filtering would keep ~the whole index anyway."""
    inter = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            F.expr(
                "a.shingle = b.shingle AND a.doc < b.doc"
                " AND least(a.n_sh, b.n_sh) >= greatest(a.n_sh, b.n_sh)"
                f" * {double(threshold)} - {double(1e-9)}"
            ),
        )
        .groupBy(F.expr("a.doc AS id_a"), F.expr("b.doc AS id_b"))
        .agg(
            F.expr("count(1) AS inter"),
            F.expr("first(a.n_sh) AS n_a"),
            F.expr("first(b.n_sh) AS n_b"),
        )
    )
    return _jaccard_at_least(inter, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard near-duplicate pairs over word n-gram shingle sets.

    Columns: id_a < id_b, jaccard (rounded to 6). The shingle index is
    built ONCE and persisted (round-1 built it per join branch; plans
    showed 7 Exchanges). Strategy is threshold-adaptive — both arms are
    exact, they only differ in plan shape:

    - t >= 0.5: prefix-filtered candidates (hot shingles never join;
      see prefix_filter_candidates) + candidate-only verification.
    - t < 0.5: prefix length floor((1-t)*n)+1 approaches the whole set,
      so the DF-rank window + verify re-join would cost more than they
      prune; a single self-join pass computes intersections directly.
    """
    idx = index if index is not None else shingle_index(df, id_col, text_col, n)
    idx = idx.persist()
    if threshold >= 0.5:
        return verify_pairs(idx, prefix_filter_candidates(idx, threshold), threshold)
    return _all_pairs_jaccard(idx, threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 128,
    n: int = 3,
    index: DataFrame | None = None,
) -> DataFrame:
    """K-permutation MinHash signature per document.

    Shape matters: higher-order array lambdas (transform/aggregate) are
    *interpreted* in Spark — a nested-transform formulation is ~30×
    slower. Instead: the shingle inverted index (already 64-bit hashed)
    feeds K min-aggregates in one whole-stage-codegen'd hash aggregation
    with map-side partial combine (state per doc = K longs, one shuffle).

    Pass ``index`` to reuse an already-built (possibly persisted) shingle
    index instead of rebuilding it.

    The K min-aggregates build from ONE parsed SQL string folding the
    array in the aggregate itself: the per-column py4j construction
    (~4 round-trips × K) plus the K-column analysis pass measured ~1.5s
    of driver-side gap per call at k=128 (round-13 event-log profile).
    SQL integer literals and ``F.lit(int)`` both type as INT, so the
    hash inputs — and the signatures — are bit-identical (pinned by
    test_minhash_expr_string_parity)."""
    idx = index if index is not None else shingle_index(df, id_col, text_col, n)
    # _spread: the K×rows hash work is the kernel's CPU. A checkpointed
    # index counts its RDD's partitions (read, not run), and one that
    # arrives in fewer partitions than cores — partial aggregation would
    # run K×|index| hashes on 2-3 of them — is spread. A no-op at real
    # scale (partitions already ≥ parallelism).
    from flink_playground_spark.functions.similarity import _spread

    idx = _spread(idx, "doc")
    sig = "array(" + ", ".join(f"min(xxhash64(shingle, {i}))" for i in range(k)) + ") AS sig"
    return idx.groupBy("doc").agg(F.expr(sig))


# Per-(band, bucket) membership cap for the LSH self-join. After exact
# duplicates are collapsed to one representative, a bucket this large
# means >= 10k DISTINCT texts agreeing on a whole band — a pathological
# corpus (or adversarial input) that would otherwise cost m^2/2 candidate
# rows per bucket. Such buckets are excluded from candidate generation
# and surfaced via lsh_bucket_overflow so the degradation is loud.
DEFAULT_MAX_BUCKET = 10_000


def exact_dup_members(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate class membership: (doc, rep) with rep = min doc id
    among byte-identical (normalized) texts.

    Equal fingerprint ⟹ equal lowercase/whitespace-normalized text ⟹
    identical token stream ⟹ identical shingle set, so Jaccard within a
    class is exactly 1.0 and near-dup search only needs one
    representative per class. This is the degenerate-bucket guard: an
    m-member boilerplate class previously agreed on EVERY band and
    emitted 32·m²/2 candidate rows; collapsed, it contributes one doc."""
    fp = df.selectExpr(f"{quote(id_col)} AS doc", f"{fingerprint_sql(quote(text_col))} AS fp")
    return fp.selectExpr("doc", "min(doc) OVER (PARTITION BY fp) AS rep")


def lsh_band_candidates(
    banded: DataFrame, max_bucket: int | None = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Candidate pairs from a (doc, band, bucket) frame: equi-join on
    (band, bucket), doc_a < doc_b, distinct. Buckets with more than
    ``max_bucket`` members are excluded (degenerate-bucket guard — their
    join output alone would be m²/2 rows); inspect them with
    ``lsh_bucket_overflow``."""
    guarded = banded
    if max_bucket is not None:
        over = lsh_bucket_overflow(banded, max_bucket).select("band", "bucket")
        guarded = banded.join(F.broadcast(over), ["band", "bucket"], "left_anti")
    return (
        guarded.alias("a")
        .join(
            guarded.alias("b"),
            F.expr("a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc"),
        )
        .selectExpr("a.doc AS id_a", "b.doc AS id_b")
        .distinct()
    )


def lsh_bucket_overflow(
    banded: DataFrame, max_bucket: int | None = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Overflow report: (band, bucket, bucket_size) for every bucket the
    guard in lsh_band_candidates would exclude. Empty on healthy corpora;
    non-empty means recall was deliberately traded for survival and the
    listed buckets need a closer look (usually near-identical boilerplate
    that exact-collapse could not merge)."""
    sizes = banded.groupBy("band", "bucket").agg(F.expr("count(1) AS bucket_size"))
    if max_bucket is None:
        return sizes.filter("false")
    return sizes.filter(f"bucket_size > {int(max_bucket)}")


def _band_signatures(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, sig) -> (doc, band, bucket): each band's signature slice is
    folded to a 64-bit bucket key."""
    bucket = f"xxhash64(array_join(slice(sig, b * {int(rows)} + 1, {int(rows)}), ','))"
    return sigs.selectExpr(
        "doc",
        f"explode(transform(sequence(0, {int(bands) - 1}),"
        f" b -> struct(b AS band, {bucket} AS bucket))) AS bb",
    ).selectExpr("doc", "bb.band", "bb.bucket")


def _lsh_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    n: int,
    threshold: float,
    verify: bool,
    max_bucket: int | None,
    checkpoint_pairs: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared kernel: collapse exact classes, band REPRESENTATIVES only,
    verify candidates. Returns (members, idx, rep_pairs) where rep_pairs
    is (id_a, id_b[, jaccard]) among representatives.

    ``idx`` and ``rep_pairs`` are eagerly localCheckpointed, not merely
    persisted: both fan out into several downstream branches (signatures
    + verification + the expand/cluster/split consumers), and a persisted
    relation still re-embeds its full logical lineage in every branch —
    the composed pipelines (neardup_clean_pipeline, leakage_safe_split)
    were re-analyzing the whole LSH build per branch, 66-67 exchanges in
    the static plan (r8 audit). Checkpointing cuts each to a scan: plans
    drop to ~1/3 of the exchanges AND the sf0.1 sweep runs ~15% faster
    (the A/B in round 9's PERF.md entry). Storage cost matches the old
    persist (same relations, executor-local disk). Fault-tolerance
    tradeoff vs the old persist: localCheckpoint TRUNCATES lineage, so
    losing an executor that held checkpoint blocks fails the query and
    the whole build must re-run from the parquet inputs (same policy as
    the CC loop's checkpoints in operators/graph.py); on a real cluster
    where executor churn matters, swap for reliable checkpoint() to an
    HDFS/object-store dir. ``members`` stays a plain
    persist — corpus-sized, referenced by plans that already truncate
    it to an InMemoryRelation, and checkpointing it measured SLOWER.

    The BANDED relation is also checkpointed (round 11): the bucket-cap
    guard inside ``lsh_band_candidates`` references it from a broadcast
    branch that exchange reuse cannot serve — without truncation the
    whole signature pipeline (the 128-min aggregation) re-executed once
    per guard evaluation, ~1s of the dedup_clusters wall at sf0.1. The
    relation is (doc, band, bucket) — ``bands`` x ~16 B per rep, far
    smaller than idx.

    ``checkpoint_pairs=False`` skips the rep_pairs checkpoint for
    callers that consume the pairs EXACTLY ONCE (minhash_dup_clusters:
    connected_components' own edge checkpoint is the materialization) —
    one fewer action; multi-branch consumers keep the default."""
    members = exact_dup_members(df, id_col, text_col).persist()
    rep_ids = members.filter("doc = rep").selectExpr(f"rep AS {quote(id_col)}")
    reps_df = df.join(rep_ids, id_col, "left_semi")
    idx = shingle_index(reps_df, id_col, text_col, n).localCheckpoint(eager=True)
    sigs = minhash_signatures(reps_df, id_col, text_col, k, n, index=idx)
    banded = _band_signatures(sigs, bands, k // bands).localCheckpoint(eager=True)
    cand = lsh_band_candidates(banded, max_bucket)
    rep_pairs = verify_pairs(idx, cand, threshold) if verify else cand
    if checkpoint_pairs:
        rep_pairs = rep_pairs.localCheckpoint(eager=True)
    return members, idx, rep_pairs


def expand_rep_pairs(
    members: DataFrame,
    idx: DataFrame,
    rep_pairs: DataFrame,
    with_jaccard: bool = True,
    value_col: str = "jaccard",
    within_value=1.0,
) -> DataFrame:
    """Expand representative-level pairs back to member-level pairs so
    the output equals the un-collapsed formulation exactly:

    - within-class: every (a < b) pair inside an exact-dup class, with
      the identical-input similarity value (``within_value`` in
      ``value_col`` — Jaccard 1.0, SimHash Hamming 0). Classes whose
      text yields no shingles/fingerprint (``idx`` has no ``doc`` row)
      are skipped — such docs have no signature in the un-collapsed
      formulation either, so they never paired.
    - cross-class: each rep pair fans out over both classes' members;
      the similarity is a function of the (identical) normalized texts,
      so the rep value is the member value."""
    have_sh = idx.select(F.col("doc").alias("rep")).distinct()
    mem_ok = members.join(have_sh, "rep", "left_semi")
    within = (
        mem_ok.alias("x")
        .join(
            mem_ok.alias("y"),
            (F.col("x.rep") == F.col("y.rep")) & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
    )
    ma = members.select(F.col("rep").alias("id_a"), F.col("doc").alias("__ma"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("doc").alias("__mb"))
    out_cols = [F.least("__ma", "__mb").alias("id_a"), F.greatest("__ma", "__mb").alias("id_b")]
    if with_jaccard:
        within = within.withColumn(value_col, F.lit(within_value))
        out_cols.append(F.col(value_col))
    cross = rep_pairs.join(ma, "id_a").join(mb, "id_b").select(*out_cols)
    return within.unionByName(cross)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 128,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
    verify: bool = True,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding; with ``verify`` the
    candidates are checked against exact shingle Jaccard, so the result
    equals the exact O(n^2) answer minus LSH false negatives (probability
    ~(1-t^r)^b, negligible at 32 bands x 4 rows for t>=0.8).

    Scale guards (round-3): exact-duplicate classes are collapsed to one
    representative BEFORE signatures — web-scale boilerplate (an m-member
    identical-text class agrees on every band) previously cost 32·m²/2
    candidate rows, now costs one banded doc plus the m²/2 *output* rows
    the pair contract itself demands, generated directly with Jaccard
    1.0. Buckets still exceeding ``max_bucket`` distinct texts are
    excluded loudly (lsh_bucket_overflow), not joined quadratically.
    The shingle index is built once (persisted, representatives only) and
    shared between signatures and verification. For pairs -> clusters
    pipelines prefer minhash_lsh_edges, which avoids the m²/2 output."""
    members, idx, rep_pairs = _lsh_rep_pairs(
        df, id_col, text_col, k, bands, n, threshold, verify, max_bucket
    )
    return expand_rep_pairs(members, idx, rep_pairs, with_jaccard=verify)


def minhash_lsh_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 128,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Connected-component-equivalent edge set, O(m) per exact-dup class:
    star edges (rep -> member) replace the m²/2 within-class pairs, plus
    the verified rep-level near-dup pairs. Connected components (and the
    min-label cluster ids, since rep = class min) are identical to
    running CC over minhash_lsh_pairs — feed this to
    operators.graph.duplicate_clusters when only clusters are needed."""
    members, idx, rep_pairs = _lsh_rep_pairs(
        df, id_col, text_col, k, bands, n, threshold, True, max_bucket
    )
    have_sh = idx.select(F.col("doc").alias("rep")).distinct()
    star = (
        members.join(have_sh, "rep", "left_semi")
        .filter(F.col("doc") != F.col("rep"))
        .select(
            F.col("rep").alias("id_a"),
            F.col("doc").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return star.unionByName(rep_pairs)


def minhash_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 128,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    max_iter: int = 25,
) -> DataFrame:
    """MinHash near-dup clusters with exact-dup members attached OUTSIDE
    the iterative loop: connected components runs on the REPRESENTATIVE
    graph only (one node per exact-dup class); class members join their
    rep's component afterward with plain equi-joins.

    Output is identical to ``duplicate_clusters(minhash_lsh_edges(...))``
    — ``(doc_id, cluster_id, cluster_size, is_canonical)``, cluster_id =
    min member id (rep = class min, CC label = min rep) — but a
    boilerplate class of m documents contributes ONE node to every CC
    round instead of m star edges. At web scale the per-round shuffles
    are sized by distinct content, not corpus rows; the member re-attach
    is two equi-joins plus one aggregate, outside the loop."""
    from flink_playground_spark.operators.graph import connected_components

    # checkpoint_pairs=False: CC consumes the pairs exactly once and its
    # own edge checkpoint is the materialization — one fewer action
    members, idx, rep_pairs = _lsh_rep_pairs(
        df, id_col, text_col, k, bands, n, threshold, True, max_bucket,
        checkpoint_pairs=False,
    )
    comp = connected_components(rep_pairs, "id_a", "id_b", max_iter=max_iter).select(
        F.col("node").alias("rep"), F.col("comp")
    )
    return attach_cluster_members(members, idx, comp)


def attach_cluster_members(
    members: DataFrame, idx: DataFrame, comp: DataFrame
) -> DataFrame:
    """Expand a representative-level (rep, comp) cluster mapping to the
    member-level ``(doc_id, cluster_id, cluster_size, is_canonical)``
    contract — the shared tail of the batch and streaming cluster
    pipelines (comp from connected_components or from the incremental
    streaming/cc_index.py mapping; identical output either way).

    Per-class and per-cluster counts are WINDOWS, not groupBy+self-join:
    each self-join re-embedded the full members lineage (persisted, but
    persist does not truncate the analyzed plan) in another branch —
    the r9 plan carried members' fingerprint exchange 8 times (19
    exchanges total). Single-referencing mem_ok/expanded keeps one
    lineage per relation; a count-over-partition is one exchange+sort
    with the same skew bound the groupBy had (class/cluster size).
    A doc participates iff its class has >=2 members (within-class
    pairs at Jaccard 1.0) or its rep near-dups another class."""
    have_sh = idx.selectExpr("doc AS rep").distinct()
    mem_ok = members.join(have_sh, "rep", "left_semi")
    expanded = (
        mem_ok.withColumn("__csz", F.expr("count(1) OVER (PARTITION BY rep)"))
        .join(comp, "rep", "left")
        .filter("__csz > 1 OR comp IS NOT NULL")
        .selectExpr("doc", "coalesce(comp, rep) AS cluster_id")
    )
    return expanded.withColumn(
        "cluster_size", F.expr("CAST(count(1) OVER (PARTITION BY cluster_id) AS BIGINT)")
    ).selectExpr(
        "doc AS doc_id", "cluster_id", "cluster_size", "doc = cluster_id AS is_canonical"
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint per document: sign-sum of token-hash bits,
    folded to a long.

    Codegen-friendly shape: explode tokens, hash once, then `bits`
    conditional-sum aggregates (map-side combinable, one shuffle) —
    array-lambda accumulation is interpreted and ~30× slower."""
    idx = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
    hashed = idx.select("doc", F.xxhash64("tok").alias("h"))
    sums = hashed.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"c{i}")
            for i in range(bits)
        ]
    )
    sh = F.lit(0).cast("long")
    for i in range(bits):
        sh = sh.bitwiseOR(
            F.when(F.col(f"c{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select("doc", sh.alias("sh"))


def simhash_chunks(fp: DataFrame) -> DataFrame:
    """(doc, sh) fingerprints -> (doc, band, bucket, sh): the 4x16-bit
    pigeonhole banding (distance <= 3 implies an equal chunk). Feed to
    ``lsh_bucket_overflow`` to inspect buckets the guard would drop."""
    return fp.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sh"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc", "c.band", "c.bucket", "sh")


def hamming_band_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Generic Hamming near-dup kernel over 64-bit fingerprints: (doc, sh)
    in, (id_a, id_b, hamming) pairs with hamming <= max_hamming out.

    4x16-bit pigeonhole banding, loud bucket-cap guard, exact bit_count
    verification on the survivors. COMPLETE for max_hamming <= 3 (two
    hashes within distance 3 must agree on at least one 16-bit chunk);
    for larger distances the verification stays exact but candidates
    whose differing bits spread across all four chunks are missed —
    the same approximate-recall contract the SimHash path has always
    had (its callers pass <= 3 when they need completeness).
    Fingerprint-agnostic: SimHash text dedup and perceptual-hash image
    dedup both feed it. One shuffle for the band self-join; a
    fingerprint is 8 bytes/doc so the banded relation is 4 tiny rows
    per doc regardless of payload size."""
    banded = simhash_chunks(fp)
    if max_bucket is not None:
        over = lsh_bucket_overflow(banded, max_bucket).select("band", "bucket")
        banded = banded.join(F.broadcast(over), ["band", "bucket"], "left_anti")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _simhash_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    max_bucket: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared kernel: collapse exact classes, band REPRESENTATIVES only,
    verify exact Hamming. Returns (members, fp, rep_pairs)."""
    members = exact_dup_members(df, id_col, text_col).persist()
    rep_ids = members.filter(F.col("doc") == F.col("rep")).select(F.col("rep").alias(id_col))
    reps_df = df.join(rep_ids, id_col, "left_semi")
    fp = simhash_fingerprints(reps_df, id_col, text_col).persist()
    rep_pairs = hamming_band_pairs(fp, max_hamming, max_bucket)
    return members, fp, rep_pairs


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming, found
    by 4x16-bit pigeonhole banding + exact verification.

    Scale guard (round-3, same family as minhash_lsh_pairs): identical
    normalized texts have identical token streams, hence identical
    fingerprints — an m-member boilerplate class agrees on EVERY chunk
    and previously cost 4·m²/2 candidate rows in the band self-join.
    Exact-duplicate classes are collapsed to one representative before
    banding; within-class pairs are emitted directly at Hamming 0 and
    rep-level pairs fan back out (output identical to the un-collapsed
    formulation — pinned against the brute-force Python reference).
    Buckets still exceeding ``max_bucket`` DISTINCT texts are excluded
    from candidate generation; inspect them with
    ``lsh_bucket_overflow(simhash_chunks(fp))``.

    SCALE REGIME (unlike MinHash's 64-bit buckets): each band has only
    2^16 possible buckets, so by pigeonhole the AVERAGE bucket holds
    n_distinct/65536 texts — beyond ~65536 x max_bucket (~10^8 at the
    default cap) distinct texts, healthy buckets saturate the cap and
    the guard would suppress most candidates. That is SimHash 4x16
    banding itself running out of selectivity, not a guard artifact:
    candidate volume per bucket is genuinely quadratic there. Past
    ~10M-100M distinct texts, shard the corpus (band within shards) or
    use ``minhash_lsh_pairs``, whose bucket space does not saturate."""
    members, fp, rep_pairs = _simhash_rep_pairs(df, id_col, text_col, max_hamming, max_bucket)
    return expand_rep_pairs(
        members, fp, rep_pairs, with_jaccard=True, value_col="hamming", within_value=0
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination scan: training documents sharing at
    least one word n-gram with an evaluation set, with the count of
    distinct overlapping shingles — the standard pretraining hygiene
    pass (flagged docs are dropped or audited so eval numbers are not
    memorization).

    Same inverted-index machinery as near-dup detection (hashed shingle
    keys, no text comparison in the join): the eval side collapses to
    DISTINCT shingle hashes — typically orders of magnitude smaller than
    the corpus index and broadcastable; the train index then semi-joins
    against it. One shuffle for each index build; the overlap join adds
    none when the eval side broadcasts.
    """
    tr = shingle_index(train, id_col, text_col, n).select("doc", "shingle")
    ev = shingle_index(eval_df, id_col, text_col, n).select("shingle").distinct()
    return (
        tr.join(ev, "shingle")
        .groupBy("doc")
        .agg(F.count_distinct("shingle").cast("long").alias("n_overlap"))
        .select(F.col("doc").alias(id_col), "n_overlap")
    )


def exact_substring_spans(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 40, _hash=None
) -> DataFrame:
    """Duplicated-substring spans, suffix-array-family semantics (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): a position ``p`` in document ``d`` is DUPLICATED when the
    exact ``min_len``-character window starting there appeared earlier
    in the corpus — earlier meaning a lexicographically smaller
    ``(doc_id, position)``, any document including ``d`` itself (the
    first occurrence always survives, mirroring dedup_chunks_global's
    contract). Overlapping duplicated windows merge into maximal spans;
    output is one row per merged span ``(id, span_start, span_end)``,
    1-based, end exclusive.

    Distributed shape (the practical Spark rendering of the paper's
    suffix array — which is also O(corpus bytes), just single-machine):

    - positions explode stride-1 off the text scan; final decisions key
      on the GRAM itself, so matches are EXACT by construction — no
      rolling-hash collision risk.
    - hash pre-prune, then exact: the one heavy exchange moves 8-byte
      ``xxhash64(gram)`` keys, not 40-char strings — a count per hash
      (map-side combinable) keeps only hashes seen >1 time. A UNIQUE
      gram can never be mis-pruned (a collision only ADDS a candidate),
      so exactness is untouched: candidate positions (the few %% of the
      corpus with a repeated hash) then run the exact per-gram
      ``min(struct(doc, pos))`` + count on the RAW gram, where a
      collision-borne candidate shows __n=1 and drops out. Locally this
      cut the operator ~2.5x; at 100 TB it is the difference between
      shuffling corpus-bytes×L and corpus-bytes×8/L. The candidate-hash
      side joins back without a hint — AQE broadcasts it while it fits
      and degrades to a hash join when duplication is rampant.
    - span merge is the classic interval union, two windows inside ONE
      per-document partition: new-segment flag = start beyond the
      running max end, segment id = running flag sum.
    """
    # _hash is injectable ONLY for the planted-collision test (lit(0)
    # collides every gram into one hash): the output must be unchanged,
    # which pins the exactness argument above — the prune can only ever
    # widen the candidate set, never change the answer
    h = _hash if _hash is not None else F.xxhash64
    pos = _gram_positions(df, id_col, text_col, min_len)
    cand = (
        pos.select(h("__g").alias("__gh"))
        .groupBy("__gh")
        .agg(F.expr("count(1) AS __c"))
        .filter("__c > 1")
        .select("__gh")
    )
    pos_c = (
        pos.withColumn("__gh", h("__g")).join(cand, "__gh").drop("__gh")
    )
    # first-occurrence + count as WINDOWS over the candidate positions,
    # not groupBy + join-back: the join-back consumed pos_c twice, so
    # the stride-1 gram generation ran a third full pass (round 13).
    # One exchange on __g (the same candidate bytes the groupBy moved),
    # same worst-gram skew bound, identical duplicated-position set —
    # every occurrence of a candidate gram shares its hash, so window
    # counts equal the old candidate-set aggregate's.
    #
    # Round 14 measured (and rejected) two skew-safe two-level shapes
    # for the r13 verdict's hot-gram item: (a) per-(gram, salt) window
    # partials + per-gram merge + join-back — the doubled lvl-1
    # consumption defeats exchange reuse (different column pruning per
    # branch), +86% at sf0.1; (b) eager-checkpointed candidates +
    # map-side-combined groupBy firsts + AQE-skew-splittable join-back
    # — ~parity at sf0.1 but 3.4x SLOWER at the 10x step-up fixture
    # (plans/r14/sf1_probe.json session: 20.2s vs 5.9s), because the
    # candidate-set materialization scales with the corpus while the
    # window streams through its one exchange. The hot-gram straggler
    # bound therefore stays a documented exposure: a single gram
    # repeated B times costs one task O(B) — the mitigation at that
    # point is the cand pass's per-hash counts (already computed), which
    # an operator can threshold to divert pathological grams, not a
    # blanket two-level rewrite that taxes every healthy corpus.
    dup = (
        pos_c.selectExpr(
            "*",
            "min(struct(__d, __p)) OVER (PARTITION BY __g) AS __f",
            "count(1) OVER (PARTITION BY __g) AS __n",
        )
        .filter("__n > 1 AND (__d != __f.__d OR __p != __f.__p)")
        .selectExpr("__d", "__p AS __s", f"__p + {int(min_len)} AS __e")
    )
    return _merge_spans(dup, id_col)


def _gram_positions(df: DataFrame, id_col: str, text_col: str, min_len: int) -> DataFrame:
    """Stride-1 ``min_len``-gram positions: ``(__d, __p, __g)``, 1-based.
    Work ∝ input rows — the streaming ledger calls this per wave.

    The input is ``_spread`` so the explode+substring fan-out (the
    operator's CPU) parallelizes even when the scan is one tiny local
    split. The decision reads the scan's split count off the plan
    without running it; a no-op at real scale (similarity.py
    ``_spread``)."""
    from flink_playground_spark.functions.similarity import _spread

    L = int(min_len)
    t = _spread(
        df.selectExpr(f"{quote(id_col)} AS __d", f"{quote(text_col)} AS __t"), "__d"
    ).filter(f"length(__t) >= {L}")
    return t.selectExpr(
        "__d", f"explode(sequence(1, length(__t) - {L} + 1)) AS __p", "__t"
    ).selectExpr("__d", "__p", f"substring(__t, __p, {L}) AS __g")


def _spans_against_firsts(
    pos: DataFrame, first: DataFrame, id_col: str, min_len: int
) -> DataFrame:
    """Merged duplicated spans of ``pos`` given a per-gram first-
    occurrence relation ``first`` = ``(__g, __f struct(__d,__p), __n)``:
    a position is duplicated iff its gram has ``__n > 1`` and it is not
    the recorded first. Shared by the batch operator (firsts from the
    same corpus) and the streaming ledger (firsts from accumulated
    state)."""
    dup = (
        pos.join(first.filter(F.col("__n") > 1).select("__g", "__f"), "__g")
        .filter((F.col("__d") != F.col("__f.__d")) | (F.col("__p") != F.col("__f.__p")))
        .select("__d", F.col("__p").alias("__s"), (F.col("__p") + min_len).alias("__e"))
    )
    return _merge_spans(dup, id_col)


def _merge_spans(dup: DataFrame, id_col: str) -> DataFrame:
    """Interval-union of duplicated windows ``(__d, __s, __e)`` into
    maximal per-document spans — the shared tail of the batch operator
    (dup from the candidate-window pass) and the streaming ledger (dup
    from state joins)."""
    w = "OVER (PARTITION BY __d ORDER BY __s, __e ROWS BETWEEN UNBOUNDED PRECEDING AND"
    seg = dup.withColumn(
        "__new", F.expr(f"CAST(__s > coalesce(max(__e) {w} 1 PRECEDING), -1) AS INT)")
    ).withColumn("__seg", F.expr(f"sum(__new) {w} CURRENT ROW)"))
    return (
        seg.groupBy("__d", "__seg")
        .agg(F.expr("min(__s) AS span_start"), F.expr("max(__e) AS span_end"))
        .selectExpr(
            f"__d AS {quote(id_col)}",
            "CAST(span_start AS BIGINT) AS span_start",
            "CAST(span_end AS BIGINT) AS span_end",
        )
    )


def exact_substring_dedup(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 40
) -> DataFrame:
    """Character-exact corpus rewrite with every duplicated ``min_len``+
    substring removed except its first occurrence (see
    ``exact_substring_spans``): the one standard training-data dedup
    family the catalog lacked — CDC chunk/passage dedup
    (functions/chunking.py) only catches duplication that lands on
    content-defined boundaries; an offset-shifted copy inside otherwise
    novel text sails through it (pinned by the golden in
    tests/test_chunkdedup.py).

    Output ``(id, text, removed_chars)`` — text with the merged spans
    excised (the kept pieces concatenate in order), removed_chars the
    CHARACTER count cut (Spark ``length``/``substring`` are
    character-based, so for multibyte text spans and counts are
    character offsets — matching the DuckDB oracle, not octets).
    Documents with no duplicated span (including those shorter than
    ``min_len``) pass through character-identical.

    The rebuild is ONE left join of the corpus against its per-document
    span list (collect_list of a bounded-by-doc-length set) and a
    single JVM fold over that array — no per-position explode, no
    Python in the rewrite path.
    """
    return rebuild_without_spans(
        df, exact_substring_spans(df, id_col, text_col, min_len), id_col, text_col
    )


def rebuild_without_spans(
    df: DataFrame, span_rows: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Character-exact rewrite of ``df`` with ``span_rows`` — ``(id,
    span_start, span_end)`` merged non-overlapping spans, 1-based end-
    exclusive CHARACTER offsets — excised: one left join against the
    per-document span list and a single JVM fold (see
    exact_substring_dedup). Output ``(id, text, removed_chars)``."""
    spans = span_rows.groupBy(id_col).agg(
        F.expr("array_sort(collect_list(struct(span_start, span_end))) AS __spans")
    )
    rebuilt = (
        # left fold over the sorted spans: carry (next kept start, acc);
        # finish = acc + tail from the last span end
        "aggregate(__spans, named_struct('p', 1L, 'acc', ''), "
        " (st, sp) -> named_struct("
        "   'p', sp.span_end, "
        "   'acc', concat(st.acc, substring(__orig, st.p, int(sp.span_start - st.p)))), "
        " st -> concat(st.acc, substring(__orig, st.p, int(length(__orig) + 1 - st.p))))"
    )
    out = (
        df.selectExpr(quote(id_col), f"{quote(text_col)} AS __orig")
        .join(spans, id_col, "left")
        .withColumn("__clean", F.expr(f"CASE WHEN __spans IS NULL THEN __orig ELSE {rebuilt} END"))
    )
    return out.selectExpr(
        quote(id_col),
        f"__clean AS {quote(text_col)}",
        "CAST(coalesce(length(__orig), 0) - coalesce(length(__clean), 0) AS BIGINT)"
        " AS removed_chars",
    )
