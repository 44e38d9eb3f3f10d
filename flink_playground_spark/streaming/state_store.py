"""Key-bucketed parquet state for foreachBatch operators.

Round-1 foreachBatch state (streaming/enrich.py) was a single parquet
directory rewritten wholesale every micro-batch — correct, but per-batch
IO was O(total state). This store shards state into hash buckets
(``__bucket = pmod(xxhash64(keys), n_buckets)`` — a partition column),
and a micro-batch merge:

1. computes the set of buckets its keys touch (bounded by ``n_buckets``
   — metadata, not data),
2. reads ONLY those buckets back (partition pruning on the filter),
3. merges keep-latest inside them, and
4. rewrites ONLY those buckets via dynamic partition overwrite
   (``partitionOverwriteMode=dynamic``): untouched buckets' files are
   not rewritten, so per-batch IO is proportional to touched buckets,
   not total state.

On a cluster the same layout maps directly onto a Delta/Iceberg
``MERGE INTO`` over a bucket-partitioned table; the bucket count is the
knob that trades merge parallelism against small-file count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.operators.dedup import dedup_latest
from flink_playground_spark.streaming.txn_state import bucket_writer_tasks

BUCKET_COL = "__bucket"


class BucketedKeyState:
    """Keep-latest keyed state sharded into hash-bucket partitions."""

    def __init__(self, path: str, keys: Sequence[str], n_buckets: int = 16):
        import glob
        import json
        import os

        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets
        # known full state schema (incl. bucket col) — lets reads skip
        # the distributed mergeSchema footer job (see _read_state)
        self._schema = None
        # a restarted job reattaches to state a previous run left on disk
        self._has_state = os.path.isdir(path) and bool(
            glob.glob(f"{path}/{BUCKET_COL}=*")
        )
        # bucket layout is part of the on-disk format: a reattach with a
        # different n_buckets/keys would route keys to the wrong buckets
        # and silently drop state — refuse loudly instead
        meta_path = f"{os.path.dirname(path) or '.'}/{os.path.basename(path)}.meta.json"
        meta = {"keys": self.keys, "n_buckets": n_buckets}
        if self._has_state and os.path.exists(meta_path):
            with open(meta_path) as fh:
                on_disk = json.load(fh)
            if on_disk != meta:
                raise ValueError(
                    f"bucketed state at {path} was written with {on_disk}; "
                    f"reattaching with {meta} would mis-route keys"
                )
        else:
            os.makedirs(os.path.dirname(meta_path) or ".", exist_ok=True)
            with open(meta_path, "w") as fh:
                json.dump(meta, fh)

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.keys), F.lit(self.n_buckets)).cast("int")

    def _read_state(self, spark: SparkSession) -> DataFrame:
        """Current state WITH the bucket column. When this instance has
        already written (or read) the state once, the read passes the
        KNOWN schema instead of ``mergeSchema`` — schema merging runs a
        distributed footer-scan job over every state file on EVERY
        merge (round-14 profile: one 8-task job per wave moving zero
        data). Reading older bucket files with the current (additively
        evolved) schema is equivalent: parquet fills absent columns
        with null, exactly what mergeSchema produced. First contact
        with reattached on-disk state still pays one mergeSchema pass
        (the instance cannot know what columns history holds)."""
        if self._schema is not None:
            df = spark.read.schema(self._schema).parquet(self.path)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(self.path)
            self._schema = df.schema
        return df

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Full current state (no bucket column), or None before first merge."""
        if not self._has_state:
            return None
        return spark.read.parquet(self.path).drop(BUCKET_COL)

    def merge_keep_latest(
        self,
        batch: DataFrame,
        order_col: str,
        tiebreakers: Sequence[str] = (),
        return_contents: bool = True,
        _touched: Sequence[int] | None = None,
    ) -> tuple[DataFrame, DataFrame] | None:
        """Fold a micro-batch into the state; returns
        ``(old_touched, new_touched)`` — the before/after contents of the
        touched buckets only (both without the bucket column), which is
        exactly what a changelog diff needs.

        ``return_contents=False`` skips materializing ``new_touched``
        (one eager read-back job per merge) and returns None — for
        callers that only fold state and never diff it (e.g. the
        streaming PQ index, whose per-wave job count is its latency).
        ``_touched`` skips the bucket-discovery job when the caller
        already knows the batch's buckets (it must be a SUPERSET of the
        true touched set — a superset only widens the read-back, never
        loses state).
        """
        spark = batch.sparkSession
        tagged = batch.withColumn(BUCKET_COL, self._bucket())
        touched = (
            list(_touched)
            if _touched is not None
            else [r[0] for r in tagged.select(BUCKET_COL).distinct().collect()]
        )
        if self._has_state:
            # localCheckpoint (eager) breaks lineage: the merge below must
            # not lazily re-read the very files the dynamic overwrite is
            # about to replace, and the returned `old_touched` must stay
            # the PRE-merge contents. Materialized size is bounded by the
            # touched buckets, not total state. mergeSchema: bucket files
            # written before a column existed still read (as nulls).
            old_touched = (
                self._read_state(spark)
                .filter(F.col(BUCKET_COL).isin(touched))
                .localCheckpoint(eager=True)
            )
        else:
            old_touched = spark.createDataFrame([], tagged.schema)
        # additive schema evolution: a batch may carry columns the state
        # has never seen (old rows take null) and vice versa — the merged
        # schema is the union, nothing is dropped
        merged = dedup_latest(
            old_touched.unionByName(tagged, allowMissingColumns=True).drop(BUCKET_COL),
            self.keys,
            order_col,
            tiebreakers,
        ).withColumn(BUCKET_COL, self._bucket())
        cols = [c for c in merged.columns if c != BUCKET_COL]
        # cluster by bucket before the partitioned write (round 14, guide
        # §6): each bucket lands in exactly one writer task, so one file
        # per touched bucket, instead of every shuffle partition emitting
        # a file per bucket it holds (and locally, instead of one
        # AQE-coalesced task writing all buckets serially). Tasks are
        # capped at the core count.
        merged = merged.repartition(
            bucket_writer_tasks(spark, touched), F.col(BUCKET_COL)
        )
        # Dynamic overwrite replaces only the partitions present in
        # `merged` (= the touched buckets); other buckets' files survive.
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )
        self._has_state = True
        self._schema = merged.schema
        if not return_contents:
            return None
        new_touched = (
            self._read_state(spark)
            .filter(F.col(BUCKET_COL).isin(touched))
            .localCheckpoint(eager=True)
        )
        old_aligned = old_touched.drop(BUCKET_COL)
        for c in cols:
            if c not in old_aligned.columns:
                old_aligned = old_aligned.withColumn(
                    c, F.lit(None).cast(merged.schema[c].dataType)
                )
        return (
            old_aligned.select(*cols),
            new_touched.drop(BUCKET_COL).select(*cols),
        )

    def merge_aggregate(self, partials: DataFrame, agg_cols: Sequence[F.Column]) -> DataFrame:
        """Fold pre-aggregated micro-batch partials into the state by
        re-aggregating old∪new inside the touched buckets — the
        mergeable-aggregate counterpart of ``merge_keep_latest`` (state
        rows and partials share one schema; ``agg_cols`` are aliased
        aggregate Columns producing that schema back, e.g.
        ``F.sum("n").alias("n")``). Same IO contract: only touched
        buckets are read and dynamically overwritten. Returns the
        post-merge contents of the touched buckets."""
        spark = partials.sparkSession
        cols = partials.columns
        tagged = partials.withColumn(BUCKET_COL, self._bucket())
        touched = [r[0] for r in tagged.select(BUCKET_COL).distinct().collect()]
        if self._has_state:
            old_touched = (
                self._read_state(spark)
                .filter(F.col(BUCKET_COL).isin(touched))
                .localCheckpoint(eager=True)
            )
            base = old_touched.unionByName(tagged, allowMissingColumns=True)
        else:
            base = tagged
        merged = (
            base.drop(BUCKET_COL)
            .groupBy(*self.keys)
            .agg(*agg_cols)
            .select(*cols)
            .withColumn(BUCKET_COL, self._bucket())
            # one file per touched bucket, tasks capped at the core
            # count (see merge_keep_latest)
            .repartition(bucket_writer_tasks(spark, touched), F.col(BUCKET_COL))
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )
        self._has_state = True
        self._schema = merged.schema
        return (
            spark.read.parquet(self.path)
            .filter(F.col(BUCKET_COL).isin(touched))
            .localCheckpoint(eager=True)
            .drop(BUCKET_COL)
            .select(*cols)
        )

    def merge_changes(
        self,
        changes: DataFrame,
        op_col: str,
        order_col: str,
        tiebreakers: Sequence[str] = (),
    ) -> DataFrame:
        """Apply a CDC batch — the file-level ``MERGE INTO``: rows whose
        ``op_col`` is ``'D'`` delete their key, any other op upserts.
        The LATEST change per key (by ``order_col`` + ``tiebreakers``,
        vs the stored row's own order value) decides, so a
        delete-then-reinsert inside one batch resolves to the reinsert
        and vice versa.

        Same IO contract as the other merges — only touched buckets are
        read and rewritten — plus the delete-specific pitfall handled
        explicitly: dynamic partition overwrite only replaces partitions
        PRESENT in the output, so a bucket whose last surviving row was
        deleted would silently keep its stale files. Buckets touched by
        the batch but left empty are removed directly (driver-side
        metadata op on the partition dir, not a data job).

        Returns the post-merge contents of the touched buckets.
        """
        import shutil

        spark = changes.sparkSession
        tagged = changes.withColumn(BUCKET_COL, self._bucket())
        touched = [r[0] for r in tagged.select(BUCKET_COL).distinct().collect()]
        if self._has_state:
            old_touched = (
                self._read_state(spark)
                .filter(F.col(BUCKET_COL).isin(touched))
                .localCheckpoint(eager=True)
                # stored rows re-enter the contest as upserts at their
                # own order value
                .withColumn(op_col, F.lit("U"))
            )
            base = old_touched.unionByName(tagged, allowMissingColumns=True)
        else:
            base = tagged
        # additive schema evolution both ways (same contract as the
        # sibling merges): out_cols is the UNION of stored-state and
        # batch columns — a state column absent from this batch must
        # survive the rewrite (null-filled on batch rows), not be
        # silently dropped from persisted state (r2 ADVICE).
        out_cols = [c for c in base.columns if c not in (op_col, BUCKET_COL)]
        winners = dedup_latest(
            base.drop(BUCKET_COL), self.keys, order_col, tiebreakers
        )
        merged = (
            winners.filter(F.col(op_col) != "D")
            .drop(op_col)
            .select(*out_cols)
            .withColumn(BUCKET_COL, self._bucket())
            # one file per touched bucket, tasks capped at the core
            # count (see merge_keep_latest)
            .repartition(bucket_writer_tasks(spark, touched), F.col(BUCKET_COL))
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )
        surviving = {r[0] for r in merged.select(BUCKET_COL).distinct().collect()}
        for b in set(touched) - surviving:
            shutil.rmtree(f"{self.path}/{BUCKET_COL}={b}", ignore_errors=True)
        self._has_state = True
        self._schema = merged.schema
        return (
            spark.read.parquet(self.path)
            .filter(F.col(BUCKET_COL).isin(touched))
            .localCheckpoint(eager=True)
            .drop(BUCKET_COL)
            .select(*out_cols)
        )
