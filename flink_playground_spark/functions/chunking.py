"""Content-defined chunking: split documents at hash-determined token
boundaries.

Fixed-size chunking shifts every boundary when one token is inserted;
content-defined chunking (the rsync/LBFS idea) starts a new chunk
wherever hash(token) falls in a target residue class, so an edit only
redraws the chunks around it — which is what makes chunk-level dedup
and incremental re-tokenization work on a 100 TB corpus.

Boundary rule here: md5(token) starting with ``boundary_prefix``
(one hex char → expected chunk length 16 tokens). md5 keeps the rule
engine-portable (oracle-checkable); a production pipeline would swap in
xxhash64 for speed without changing the plan.

Plan shape — entirely JVM-side column expressions:

  posexplode(split(text))            — scan-local, no shuffle
  boundary flag + running count      — one window per doc_id ordered by
                                       position (bounded by doc length,
                                       never by corpus size)
  groupBy (doc, chunk)               — the single shuffle; map-side
                                       combine collapses each chunk to
                                       one row before the exchange

Training-pipeline extension family (SURVEY §7.1); no reference
counterpart.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_playground_spark.sqltext import quote, string


def positional_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, term) with 1-based positions over the whitespace split;
    empty tokens dropped AFTER enumeration so positions are stable."""
    return (
        df.selectExpr(
            quote(id_col), f"posexplode(split(trim({quote(text_col)}), ' ')) AS (pos0, term)"
        )
        .withColumn("pos", F.expr("CAST(pos0 + 1 AS BIGINT)"))
        .filter("term != ''")
        .drop("pos0")
    )


def content_chunks(
    df: DataFrame, id_col: str, text_col: str, boundary_prefix: str = "0"
) -> DataFrame:
    """Chunk summary per (doc, chunk): token count and position span.
    chunk_id counts boundary tokens seen so far (a boundary token STARTS
    a new chunk; the prefix before the first boundary is chunk 0)."""
    chunked = _chunked_tokens(df, id_col, text_col, boundary_prefix)
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.min("pos").alias("start_pos"),
        F.max("pos").alias("end_pos"),
    )


def _chunked_tokens(
    df: DataFrame, id_col: str, text_col: str, boundary_prefix: str = "0"
) -> DataFrame:
    toks = positional_tokens(df, id_col, text_col)
    is_boundary = f"startswith(md5(CAST(term AS BINARY)), {string(boundary_prefix)})"
    w = f"PARTITION BY {quote(id_col)} ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return toks.withColumn(
        "chunk_id", F.expr(f"CAST(sum(CAST({is_boundary} AS INT)) OVER ({w}) AS BIGINT)")
    )


def chunk_fingerprints(
    df: DataFrame, id_col: str, text_col: str, boundary_prefix: str = "0"
) -> DataFrame:
    """(id, chunk_id, chunk_fp, n_tokens): md5 of each chunk's text —
    the unit of chunk-level dedup. Reassembling a chunk's text is a
    per-(doc, chunk) collect of ≤ O(expected chunk length) tokens
    (array_sort on the (pos, term) structs restores order inside the
    aggregate — no second window), so the collect is bounded by the
    boundary rate, never by document or corpus size."""
    chunked = _chunked_tokens(df, id_col, text_col, boundary_prefix)
    text = "array_join(transform(array_sort(collect_list(struct(pos, term))), s -> s.term), ' ')"
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.expr(f"md5(CAST({text} AS BINARY)) AS chunk_fp"),
        F.expr("CAST(count(1) AS BIGINT) AS n_tokens"),
    )


def dedup_chunks_within_doc(
    df: DataFrame, id_col: str, text_col: str, boundary_prefix: str = "0"
) -> DataFrame:
    """Intra-document repetition removal — the C4/Gopher cleaning step
    that drops passages repeated INSIDE one page (boilerplate blocks,
    scraper stutter), content-defined instead of line-based so it works
    on corpora without line structure and survives token-offset shifts.

    Per document: content-defined chunks (same boundary rule as
    chunk_fingerprints), keep each distinct chunk's FIRST occurrence
    (min chunk_id per (doc, fp)), reconstruct the cleaned text from the
    kept chunks' tokens in original order.

    Returns ``(id, cleaned_text, n_chunks, n_kept)`` — ``n_chunks ==
    n_kept`` means the doc had no internal repetition and cleaned_text
    is the whitespace-normalized original. Cost shape: the chunk
    machinery's one window + bounded per-chunk collects, one extra
    aggregate for first-occurrence, and a per-doc ordered rebuild whose
    collect is bounded by document length (the same bound tokenization
    already implies)."""
    # both the fingerprint branch and the cleaned-text rebuild consume
    # chunked, and fps feeds two aggregates — persist so the token
    # explode + running-sum window runs once, not three times (the same
    # shared-subtree rule the ngram index learned in round 1)
    # non-eager localCheckpoint instead of persist: same reuse (the
    # token explode + running-sum window computes once), but the blocks
    # are released by the ContextCleaner as soon as the result DataFrame
    # goes out of scope — persist() pinned corpus-sized intermediates
    # for the life of the caller's reference
    chunked = _chunked_tokens(df, id_col, text_col, boundary_prefix).localCheckpoint(eager=False)
    chunk_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "term"))), lambda s: s["term"]
        ),
        " ",
    )
    fps = chunked.groupBy(id_col, "chunk_id").agg(
        F.md5(chunk_text.cast("binary")).alias("chunk_fp")
    ).localCheckpoint(eager=False)
    kept = fps.groupBy(id_col, "chunk_fp").agg(F.min("chunk_id").alias("chunk_id"))
    cleaned = (
        chunked.join(kept, [id_col, "chunk_id"])
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("cleaned_text"),
            F.count_distinct("chunk_id").cast("bigint").alias("n_kept"),
        )
    )
    totals = fps.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"))
    return cleaned.join(totals, id_col).select(
        id_col, "cleaned_text", "n_chunks", "n_kept"
    )


def dedup_chunks_global(
    df: DataFrame, id_col: str, text_col: str, boundary_prefix: str = "0"
) -> DataFrame:
    """Corpus-wide passage dedup rewrite — the C4 "deduplicate at the
    span level across the whole corpus, keep one occurrence" cleaning
    step (content-defined chunks instead of C4's three-sentence spans,
    which this corpus has no punctuation for). Subsumes the intra-doc
    rule: a chunk's single surviving copy is its global first
    occurrence, ordered by (doc id, chunk position).

    Returns ``(id, cleaned_text, n_chunks, n_kept)`` for EVERY document
    with at least one token — a doc whose every passage appeared earlier
    somewhere else survives with ``cleaned_text = ''`` and ``n_kept =
    0`` (the caller decides whether empty shells are dropped; silently
    removing rows would make the operator non-composable).

    Scale shape: the only corpus-wide shuffle is the per-fingerprint
    MIN — state is one row per DISTINCT passage, with map-side combine
    (a boilerplate block repeated across m docs costs one merged row,
    not m candidate pairs). Everything else is keyed by document, and
    the per-chunk/per-doc rebuild collects are bounded by chunk/doc
    length exactly as in ``dedup_chunks_within_doc``.
    """
    # non-eager localCheckpoint instead of persist: same reuse (the
    # token explode + running-sum window computes once), but the blocks
    # are released by the ContextCleaner as soon as the result DataFrame
    # goes out of scope — persist() pinned corpus-sized intermediates
    # for the life of the caller's reference
    chunked = _chunked_tokens(df, id_col, text_col, boundary_prefix).localCheckpoint(eager=False)
    chunk_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "term"))), lambda s: s["term"]
        ),
        " ",
    )
    fps = chunked.groupBy(id_col, "chunk_id").agg(
        F.md5(chunk_text.cast("binary")).alias("chunk_fp")
    ).localCheckpoint(eager=False)
    # global first occurrence per distinct passage: lexicographic MIN on
    # (doc, position) — one row of state per fingerprint
    kept = fps.groupBy("chunk_fp").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_id"))).alias("first")
    ).select(F.col(f"first.{id_col}").alias(id_col), F.col("first.chunk_id").alias("chunk_id"))
    cleaned = (
        chunked.join(kept, [id_col, "chunk_id"])
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("cleaned_text"),
            F.count_distinct("chunk_id").cast("bigint").alias("n_kept"),
        )
    )
    totals = fps.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"))
    return totals.join(cleaned, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    order_col: str | None = None,
    shard_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Contiguous sequence packing: assign documents to fixed-token-budget
    bins — the batch-construction step between a cleaned corpus and a
    trainer (pack short documents together so a context window wastes no
    tokens).

    Deterministic contiguous fill: documents are taken in ``order_col``
    order (default: the id), each starts at the running token offset of
    everything before it, and its bin is ``floor(start_offset /
    budget)``. A document straddling a boundary stays in the bin it
    started in (greedy packing accepts the overflow; the trainer's
    truncation policy is downstream). Output: id, n_tokens, bin_id,
    offset_in_bin.

    With no ``shard_cols``, one window cumsum over a single global
    ordering — Spark's window with no partition runs single-stream, this
    operator's documented small-corpus shape (at 100 TB the global
    running sum is the textbook two-pass prefix-sum: per-partition
    partials + broadcast offsets). ``shard_cols`` is the SCALE path:
    packing runs independently WITHIN each shard (date, source, bucket)
    — the window partitions on the shard key, every shard fills its own
    bin sequence in parallel, no global coordination. Trainers consume
    shards independently anyway, so per-shard bins are the shape a real
    export uses; output gains the shard columns, and ``bin_id`` is
    per-shard.
    """
    from flink_playground_spark.functions.text import tokens

    order = order_col or id_col
    shards = list(shard_cols or [])
    # unsharded = single-stream BY CONTRACT (see docstring);
    # single_group declares that intent so gate runs stay warning-free
    # and any ACCIDENTAL unpartitioned window is the only warning left
    from flink_playground_spark.operators.windows import single_group

    w = (
        Window.partitionBy(*shards)
        if shards
        else Window.partitionBy(single_group(id_col))
    ).orderBy(F.asc("__o")).rowsBetween(Window.unboundedPreceding, -1)
    t = df.select(
        *shards,
        F.col(id_col),
        F.col(order).alias("__o"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    packed = t.withColumn(
        "__start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return packed.select(
        *shards,
        id_col,
        "n_tokens",
        F.floor(F.col("__start") / F.lit(budget)).cast("long").alias("bin_id"),
        F.pmod(F.col("__start"), F.lit(budget)).cast("long").alias("offset_in_bin"),
    )
