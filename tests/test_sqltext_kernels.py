"""The near-dup batch kernels are built from SQL text (``selectExpr`` /
``F.expr``) instead of Column-API trees, to cut the py4j round trips of
plan construction. Each test here pins a group of rewritten kernels
against their previous Column-API trees, copied verbatim below, bit for
bit: same schema, same multiset of rows. Inputs are the sf0.001
documents plus a NULL text, an empty text and docs too short for a
shingle, a 40-char gram or a 4-token chunk.

Also pinned: ``_spread`` and connected components' partition sizing
decide without submitting a Spark job, and ``load_table`` reads the new
schema of a rewritten table file."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_playground_spark.functions import chunking as C
from flink_playground_spark.functions import dedupe as D
from flink_playground_spark.functions.text import fingerprint, tokens

@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dirty = spark.createDataFrame(
        [
            (900001, "one two"),
            (900002, None),
            (900003, ""),
            (900004, "short text under forty chars"),
        ],
        "doc_id bigint, text string",
    )
    return base.unionByName(dirty)


def _same(new: DataFrame, old: DataFrame) -> None:
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty()


# -- the previous Column-API trees, verbatim -----------------------------


def _old_shingle_index(df, id_col, text_col, n=3):
    toks = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t")).select(
        "doc", F.posexplode(tokens("__t")).alias("j", "tok")
    )
    w = Window.partitionBy("doc").orderBy("j")
    with_leads = toks.select(
        "doc", "tok", *[F.lead("tok", i).over(w).alias(f"__t{i}") for i in range(1, n)]
    )
    grams = with_leads.filter(F.col(f"__t{n-1}").isNotNull()).select(
        "doc",
        F.xxhash64(F.concat_ws(" ", "tok", *[f"__t{i}" for i in range(1, n)])).alias("shingle"),
    )
    return (
        grams.dropDuplicates(["doc", "shingle"])
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .select("doc", "n_sh", "shingle")
    )


def _old_verify_pairs(idx, cand, threshold):
    ia = idx.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    ib = idx.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    inter = (
        cand.select("id_a", "id_b")
        .join(ia, "id_a")
        .join(ib, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    jac = inter.withColumn(
        "jaccard",
        F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _old_all_pairs_jaccard(idx, threshold):
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (
                F.least("a.n_sh", "b.n_sh")
                >= threshold * F.greatest("a.n_sh", "b.n_sh") - F.lit(1e-9)
            ),
        )
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )
    jac = inter.withColumn(
        "jaccard",
        F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _old_exact_dup_members(df, id_col, text_col):
    fp = df.select(F.col(id_col).alias("doc"), fingerprint(text_col).alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select("doc", F.min("doc").over(w).alias("rep"))


def _old_lsh_bucket_overflow(banded, max_bucket):
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bucket_size"))
    if max_bucket is None:
        return sizes.filter(F.lit(False))
    return sizes.filter(F.col("bucket_size") > max_bucket)


def _old_lsh_band_candidates(banded, max_bucket):
    guarded = banded
    if max_bucket is not None:
        over = _old_lsh_bucket_overflow(banded, max_bucket).select("band", "bucket")
        guarded = banded.join(F.broadcast(over), ["band", "bucket"], "left_anti")
    return (
        guarded.alias("a")
        .join(
            guarded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def _old_band_signatures(sigs, bands, rows):
    return sigs.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.array_join(F.slice("sig", b * rows + 1, rows), ",")).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def _old_attach_cluster_members(members, idx, comp):
    have_sh = idx.select(F.col("doc").alias("rep")).distinct()
    mem_ok = members.join(have_sh, "rep", "left_semi")
    expanded = (
        mem_ok.withColumn("__csz", F.count(F.lit(1)).over(Window.partitionBy("rep")))
        .join(comp, "rep", "left")
        .filter((F.col("__csz") > 1) | F.col("comp").isNotNull())
        .select("doc", F.coalesce("comp", F.col("rep")).alias("cluster_id"))
    )
    return expanded.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
    ).select(
        F.col("doc").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.col("doc") == F.col("cluster_id")).alias("is_canonical"),
    )


def _old_gram_positions(df, id_col, text_col, min_len):
    t = df.select(F.col(id_col).alias("__d"), F.col(text_col).alias("__t")).filter(
        F.length("__t") >= min_len
    )
    return t.select(
        "__d",
        F.explode(F.sequence(F.lit(1), F.length("__t") - F.lit(min_len) + F.lit(1))).alias("__p"),
        "__t",
    ).select("__d", "__p", F.expr(f"substring(__t, __p, {int(min_len)})").alias("__g"))


def _old_merge_spans(dup, id_col):
    w_order = Window.partitionBy("__d").orderBy("__s", "__e")
    w_prev = w_order.rowsBetween(Window.unboundedPreceding, -1)
    seg = dup.withColumn(
        "__new",
        (F.col("__s") > F.coalesce(F.max("__e").over(w_prev), F.lit(-1))).cast("int"),
    ).withColumn("__seg", F.sum("__new").over(w_order.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        seg.groupBy("__d", "__seg")
        .agg(F.min("__s").alias("span_start"), F.max("__e").alias("span_end"))
        .select(
            F.col("__d").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
        )
    )


def _old_exact_substring_spans(df, id_col, text_col, min_len=40):
    h = F.xxhash64
    pos = _old_gram_positions(df, id_col, text_col, min_len)
    cand = (
        pos.select(h("__g").alias("__gh"))
        .groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("__gh")
    )
    pos_c = pos.withColumn("__gh", h("__g")).join(cand, "__gh").drop("__gh")
    wg = Window.partitionBy("__g")
    dup = (
        pos_c.withColumn("__f", F.min(F.struct("__d", "__p")).over(wg))
        .withColumn("__n", F.count(F.lit(1)).over(wg))
        .filter(
            (F.col("__n") > 1)
            & ((F.col("__d") != F.col("__f.__d")) | (F.col("__p") != F.col("__f.__p")))
        )
        .select("__d", F.col("__p").alias("__s"), (F.col("__p") + min_len).alias("__e"))
    )
    return _old_merge_spans(dup, id_col)


def _old_rebuild_without_spans(df, span_rows, id_col, text_col):
    spans = span_rows.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end"))).alias("__spans")
    )
    rebuilt = F.expr(
        "aggregate(__spans, named_struct('p', 1L, 'acc', ''), "
        " (st, sp) -> named_struct("
        "   'p', sp.span_end, "
        "   'acc', concat(st.acc, substring({t}, st.p, int(sp.span_start - st.p)))), "
        " st -> concat(st.acc, substring({t}, st.p, int(length({t}) + 1 - st.p))))".format(
            t="__orig"
        )
    )
    out = (
        df.select(F.col(id_col), F.col(text_col).alias("__orig"))
        .join(spans, id_col, "left")
        .withColumn("__clean", F.when(F.col("__spans").isNull(), F.col("__orig")).otherwise(rebuilt))
    )
    return out.select(
        id_col,
        F.col("__clean").alias(text_col),
        (F.coalesce(F.length("__orig"), F.lit(0)) - F.coalesce(F.length("__clean"), F.lit(0)))
        .cast("long")
        .alias("removed_chars"),
    )


def _old_positional_tokens(df, id_col, text_col):
    return (
        df.select(id_col, F.posexplode(F.split(F.trim(F.col(text_col)), " ")).alias("pos0", "term"))
        .withColumn("pos", (F.col("pos0") + 1).cast("bigint"))
        .filter(F.col("term") != "")
        .drop("pos0")
    )


def _old_chunked_tokens(df, id_col, text_col, boundary_prefix="0"):
    toks = _old_positional_tokens(df, id_col, text_col)
    is_boundary = F.md5(F.col("term").cast("binary")).startswith(boundary_prefix)
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    return toks.withColumn("chunk_id", F.sum(is_boundary.cast("int")).over(w).cast("bigint"))


def _old_chunk_fingerprints(df, id_col, text_col, boundary_prefix="0"):
    chunked = _old_chunked_tokens(df, id_col, text_col, boundary_prefix)
    text = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "term"))), lambda s: s["term"]),
        " ",
    )
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.md5(text.cast("binary")).alias("chunk_fp"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )


def _old_chunk_dedup(fps):
    fps = fps.filter(F.col("n_tokens") >= 4)
    return (
        fps.groupBy("chunk_fp")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# -- parity ---------------------------------------------------------------


def test_shingle_and_jaccard_kernels_sql_parity(docs):
    """shingle_index, exact_dup_members, verify_pairs, _all_pairs_jaccard."""
    idx = D.shingle_index(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    _same(idx, _old_shingle_index(docs, "doc_id", "text", 3))
    _same(D.exact_dup_members(docs, "doc_id", "text"), _old_exact_dup_members(docs, "doc_id", "text"))
    for t in (0.12, 0.5):
        _same(D._all_pairs_jaccard(idx, t), _old_all_pairs_jaccard(idx, t))
    cand = D._all_pairs_jaccard(idx, 0.05).select("id_a", "id_b")
    for t in (0.12, 0.8):
        _same(D.verify_pairs(idx, cand, t), _old_verify_pairs(idx, cand, t))


def test_lsh_kernels_sql_parity(docs):
    """_band_signatures, lsh_bucket_overflow, lsh_band_candidates (guard
    on, off and tripped) and attach_cluster_members."""
    from flink_playground_spark.operators.graph import connected_components

    idx = D.shingle_index(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    sigs = D.minhash_signatures(None, "doc", None, 128, 3, index=idx)
    banded = D._band_signatures(sigs, 32, 4).localCheckpoint(eager=True)
    _same(banded, _old_band_signatures(sigs, 32, 4))
    for cap in (10_000, 1, None):
        _same(D.lsh_bucket_overflow(banded, cap), _old_lsh_bucket_overflow(banded, cap))
        _same(D.lsh_band_candidates(banded, cap), _old_lsh_band_candidates(banded, cap))
    members = D.exact_dup_members(docs, "doc_id", "text")
    pairs = D.verify_pairs(idx, D.lsh_band_candidates(banded), 0.3)
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("rep"), F.col("comp")
    )
    _same(
        D.attach_cluster_members(members, idx, comp),
        _old_attach_cluster_members(members, idx, comp),
    )


def test_substring_kernels_sql_parity(docs):
    """_gram_positions, _merge_spans, exact_substring_spans,
    rebuild_without_spans."""
    _same(D._gram_positions(docs, "doc_id", "text", 40), _old_gram_positions(docs, "doc_id", "text", 40))
    spans = D.exact_substring_spans(docs, "doc_id", "text", 40).localCheckpoint(eager=True)
    assert not spans.isEmpty()
    _same(spans, _old_exact_substring_spans(docs, "doc_id", "text", 40))
    _same(
        D.rebuild_without_spans(docs, spans, "doc_id", "text"),
        _old_rebuild_without_spans(docs, spans, "doc_id", "text"),
    )
    # overlapping, touching and disjoint windows of one doc
    dup = docs.sparkSession.createDataFrame(
        [(1, 1, 41), (1, 5, 45), (1, 45, 85), (1, 90, 130), (2, 3, 43)],
        "__d bigint, __s int, __e int",
    )
    _same(D._merge_spans(dup, "doc_id"), _old_merge_spans(dup, "doc_id"))


def test_chunk_kernels_sql_parity(docs, sf_dir):
    """positional_tokens, _chunked_tokens, chunk_fingerprints and the
    chunk_dedup query body."""
    from flink_playground_spark.queries import chunk_dedup

    _same(C.positional_tokens(docs, "doc_id", "text"), _old_positional_tokens(docs, "doc_id", "text"))
    _same(C._chunked_tokens(docs, "doc_id", "text"), _old_chunked_tokens(docs, "doc_id", "text"))
    fps = C.chunk_fingerprints(docs, "doc_id", "text")
    _same(fps, _old_chunk_fingerprints(docs, "doc_id", "text"))
    raw = docs.sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
    _same(
        chunk_dedup(docs.sparkSession, sf_dir),
        _old_chunk_dedup(_old_chunk_fingerprints(raw, "doc_id", "text")),
    )


# -- no job to decide partitioning; no stale schema ------------------------


def _jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_spread_and_cc_sizing_submit_no_job(spark, sf_dir):
    """``_spread`` reads its decision off the plan: on a frame whose
    representatives come from a persisted window (the LSH path) the
    old ``df.rdd`` probe ran the window; now no job is submitted. The
    same holds for connected components' partition sizing on its edge
    checkpoint."""
    from flink_playground_spark.functions.similarity import _source_partitions, _spread
    from flink_playground_spark.operators.graph import _partition_union_find

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    members = D.exact_dup_members(docs, "doc_id", "text").persist()
    try:
        reps = docs.join(
            members.filter("doc = rep").selectExpr("rep AS doc_id"), "doc_id", "left_semi"
        )
        before = _jobs(spark)
        spread = _spread(reps, "doc_id")
        scan = _spread(docs.select("doc_id"), "doc_id")
        assert _jobs(spark) == before
        n = spark.sparkContext.defaultParallelism
        assert spread.rdd.getNumPartitions() == n  # one small file: spread
        assert scan.rdd.getNumPartitions() == n

        edges = spark.range(100).selectExpr("id AS u", "id + 1 AS v").repartition(3)
        ckpt = edges.localCheckpoint(eager=True)
        before = _jobs(spark)
        assert _source_partitions(ckpt) == 3
        _partition_union_find(ckpt, 2)
        _partition_union_find(ckpt, 5)
        assert _jobs(spark) == before
    finally:
        members.unpersist()


def test_load_table_reads_a_rewritten_schema(spark, tmp_path):
    """The schema ``load_table`` reuses is keyed by the file's size and
    mtime: a table rewritten with another column set is read with its
    new columns, never with the stale schema (which would silently
    null-fill or drop columns)."""
    import os

    from flink_playground_spark.sources.tables import load_table

    path = tmp_path / "t.parquet"
    spark.createDataFrame([(1, "a")], "k bigint, v string").coalesce(1).write.parquet(str(path))
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "v"]
    before = _jobs(spark)
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "v"]
    assert _jobs(spark) == before  # schema reused: no inference job
    spark.createDataFrame([(2, 3.5, True)], "k bigint, w double, flag boolean").coalesce(
        1
    ).write.mode("overwrite").parquet(str(path))
    for root, _, files in os.walk(path):  # a distinct mtime even on coarse clocks
        for f in files:
            os.utime(os.path.join(root, f), ns=(10**18, 10**18))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "w", "flag"]
    assert [tuple(r) for r in df.collect()] == [(2, 3.5, True)]
