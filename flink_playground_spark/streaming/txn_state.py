"""Transactional bucketed state: exactly-once foreachBatch merges.

The one keyed-state primitive of the streaming folds (keep-latest,
mergeable aggregates, CDC apply, arbitrary transitions). foreachBatch is
AT-LEAST-ONCE: if the job dies after the state write and before Spark
commits the batch's offsets to the checkpoint, the batch REPLAYS.
Keep-latest merges would absorb a replay (idempotent); aggregate merges
would DOUBLE-COUNT it.

This store makes every merge exactly-once with the snapshot-manifest technique
(operators/snapshots.py): data files are immutable and versioned, and a
single atomic manifest replace is the commit point.

Layout::

    path/t<txn>/__bucket=<k>/...   immutable, never overwritten
    path/manifest.json             {"writers": {"<writer_id>": n, ...},
                                    "txn": t,
                                    "buckets": {"3": 7, ...},
                                    "n_buckets": 16,
                                    "keys": ["k", ...],
                                    "schema": {<StructType JSON>}}
                                   (bucket -> txn of its current version;
                                   keys = the bucketing keys, checked on
                                   every manifest read so a reattach with
                                   other keys cannot mis-route them;
                                   schema = the committed state columns,
                                   so reads skip parquet schema inference)

Batch ids are only monotonic WITHIN one checkpointed streaming query —
a different query (or a restarted one with a fresh checkpoint) starts
over at 0 and its batches are NEW DATA, not replays. The replay skip is
therefore scoped to a ``writer_id`` (the query's checkpoint identity):
pass the same writer_id across restarts of one logical query and every
re-delivered (writer, batch) pair is skipped; a different writer_id
never collides.

Merge protocol for writer ``w``, batch ``b``:

1. ``b <= writers[w]``  →  REPLAY: skip, state already includes it;
2. read the touched buckets' CURRENT versions via the manifest (never
   via directory listing — uncommitted files are invisible by
   construction);
3. write the merged buckets under a fresh ``t<txn>/`` (a brand-new
   directory: nothing is overwritten, a crash mid-write leaves only
   orphans);
4. atomically replace the manifest pointing the touched buckets at the
   new txn (a touched bucket the merge left empty leaves the manifest)
   and recording ``writers[w] = b`` — the commit. A crash before (4) replays the batch against the
   OLD manifest and reproduces the same merge; orphan files from the
   failed attempt are shadowed, then garbage-collectable by ``vacuum``.

A batch whose columns differ from the committed schema is refused with
a ``ValueError`` before anything is written: the store never widens or
null-fills its schema silently.

On a cluster the same protocol works on any store with atomic
single-object replace (every object store has PUT) — it is the
single-writer core of what table formats call a transaction log.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from flink_playground_spark.operators.dedup import dedup_latest
from flink_playground_spark.sqltext import quote

BUCKET_COL = "__bucket"


def bucket_writer_tasks(spark: SparkSession, touched: Sequence[int]) -> int:
    """Task count of a bucket-clustered write: one per touched bucket,
    at most one per core."""
    return max(1, min(len(touched), spark.sparkContext.defaultParallelism))


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a merge while one was in flight."""


@contextmanager
def _writer_lock(path: str):
    """Exclusive non-blocking flock over the store's writer lock file —
    the single-writer protocol every mutation (merge, prune, rebucket)
    runs under. Raises ConcurrentWriteError instead of waiting."""
    import fcntl

    lock = open(f"{path}/.writer.lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        lock.close()
        raise ConcurrentWriteError(
            f"another merge holds the writer lock on {path}"
        ) from None
    try:
        yield
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()


class TransactionalKeyState:
    """Exactly-once keyed state over immutable versioned bucket files."""

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        n_buckets: int = 16,
        retain_txns: int = 4,
    ):
        """``retain_txns``: steady-state retention — every commit prunes
        bucket versions that are BOTH shadowed (a newer committed version
        exists) and older than the newest ``retain_txns`` transactions.
        The grace window keeps a concurrent reader's already-resolved
        paths alive for N more commits (readers resolve paths from the
        manifest once, then scan); replay safety needs no history at all —
        replays are skipped via the writers map before any state read.
        0 disables auto-pruning (explicit ``vacuum()`` only)."""
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets
        self.retain_txns = retain_txns
        os.makedirs(path, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest(self) -> dict:
        p = f"{self.path}/manifest.json"
        if not os.path.exists(p):
            return {"writers": {}, "txn": 0, "buckets": {}}
        with open(p) as fh:
            manifest = json.load(fh)
        # The COMMITTED bucket count is authoritative: after a rebucket(),
        # an instance constructed with the old count would otherwise hash
        # keys into the wrong buckets — silent state corruption. Older
        # manifests (pre-rescale feature) carry no count; the constructor
        # value stands for those.
        self.n_buckets = manifest.get("n_buckets", self.n_buckets)
        # the keys are not adoptable like the count: other keys hash the
        # same rows into other buckets. Manifests written before keys
        # were recorded skip the check until their next commit.
        if manifest.get("keys", self.keys) != self.keys:
            raise ValueError(
                f"keyed state at {self.path} is bucketed on {manifest['keys']}; "
                f"reattaching with keys {self.keys} would mis-route them"
            )
        return manifest

    def _commit(self, manifest: dict) -> None:
        manifest["n_buckets"] = self.n_buckets
        manifest["keys"] = self.keys
        tmp = f"{self.path}/manifest.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, f"{self.path}/manifest.json")  # the commit point

    def next_batch(self, writer_id: str) -> int:
        """The batch id after ``writer_id``'s last committed one (0 for
        a new writer): how a caller outside foreachBatch sequences its
        own ids, so a batch whose commit failed re-applies under the
        same id and folds once."""
        return self._manifest()["writers"].get(writer_id, -1) + 1

    def _bucket(self) -> F.Column:
        keys = ", ".join(quote(k) for k in self.keys)
        return F.expr(f"CAST(pmod(xxhash64({keys}), {int(self.n_buckets)}) AS INT)")

    def _bucket_paths(self, manifest: dict, buckets=None) -> list[str]:
        return [
            f"{self.path}/t{v}/{BUCKET_COL}={b}"
            for b, v in manifest["buckets"].items()
            if buckets is None or int(b) in buckets
        ]

    def _read_buckets(self, spark: SparkSession, manifest: dict, buckets=None) -> DataFrame | None:
        paths = self._bucket_paths(manifest, buckets)
        if not paths:
            return None
        # explicit leaf dirs: no partition discovery, no bucket column —
        # and only COMMITTED files are reachable, orphans are invisible.
        # The committed schema skips the footer-inference job; manifests
        # written before it was recorded still read through inference.
        reader = spark.read
        if "schema" in manifest:
            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        return reader.parquet(*paths)

    def _written_buckets(self, txn: int) -> set[int]:
        """Buckets a txn's write produced (directory listing: metadata,
        not a Spark job)."""
        tdir = f"{self.path}/t{txn}"
        if not os.path.isdir(tdir):
            return set()
        return {
            int(d.split("=")[1]) for d in os.listdir(tdir) if d.startswith(f"{BUCKET_COL}=")
        }

    def _check_columns(self, manifest: dict, cols: Sequence[str]) -> None:
        """Refuse a batch whose columns differ from the committed state's
        (from the first commit that records a schema on): unioning it in
        would null-fill (or drop) columns silently."""
        if "schema" not in manifest:
            return
        committed = StructType.fromJson(manifest["schema"]).names
        missing = [c for c in committed if c not in cols]
        extra = [c for c in cols if c not in committed]
        if missing or extra:
            raise ValueError(
                f"batch columns differ from the committed state schema at "
                f"{self.path}: missing {missing}, unexpected {extra}"
            )

    # -- merges ------------------------------------------------------------
    def merge_aggregate(
        self,
        writer_id: str,
        batch_id: int,
        partials: DataFrame,
        agg_cols: Sequence[F.Column],
    ) -> bool:
        """Fold pre-aggregated partials in, exactly once per (writer,
        batch). Returns False if this writer already committed
        ``batch_id`` (replay skipped)."""
        return self._merge(
            writer_id,
            batch_id,
            partials,
            lambda base, cols: base.groupBy(*self.keys, BUCKET_COL)
            .agg(*agg_cols)
            .select(*cols, BUCKET_COL),
            by_bucket=True,
        )

    def merge_keep_latest(
        self,
        writer_id: str,
        batch_id: int,
        batch: DataFrame,
        order_col: str,
        tiebreakers: Sequence[str] = (),
        on_write=None,
    ) -> bool:
        """Keep-latest upsert, exactly once (idempotent anyway; the skip
        makes replays free instead of merely harmless).

        ``on_write(old, batch)`` runs in a second thread beside the
        bucket write, and both finish before the manifest commit: ``old``
        is the touched buckets' committed rows (immutable files, or None
        before the first commit) and ``batch`` the cached wave. A side
        output it writes idempotently (e.g. a per-batch changelog
        directory in overwrite mode) commits exactly once with the state:
        a replay either is skipped or rewrites the same output. If either
        write fails, nothing is committed."""
        return self._merge(
            writer_id,
            batch_id,
            batch,
            lambda base, cols: dedup_latest(
                base, [*self.keys, BUCKET_COL], order_col, tiebreakers
            ),
            on_write,
            by_bucket=True,
        )

    def merge_changes(
        self,
        writer_id: str,
        batch_id: int,
        changes: DataFrame,
        op_col: str,
        order_col: str,
        tiebreakers: Sequence[str] = (),
    ) -> bool:
        """CDC apply — the file-level ``MERGE INTO`` — exactly once per
        (writer, batch): the LATEST change per key (by ``order_col`` +
        ``tiebreakers``, the stored row competing at its own order
        value) decides; a winner whose ``op_col`` is ``'D'`` deletes the
        key, any other op upserts it. So a delete-then-reinsert inside
        one batch resolves to the reinsert and vice versa. The state
        keeps ``op_col`` (the winning op); a bucket whose last key is
        deleted leaves the manifest."""
        return self._merge(
            writer_id,
            batch_id,
            changes,
            lambda base, cols: dedup_latest(
                base, [*self.keys, BUCKET_COL], order_col, tiebreakers
            ).filter(F.col(op_col) != "D"),
            by_bucket=True,
        )

    def merge_transform(
        self, writer_id: str, batch_id: int, batch: DataFrame, combine
    ) -> bool:
        """Arbitrary keyed state transition, exactly once per (writer,
        batch): ``combine(base, cols)`` receives the union of the
        touched buckets' current rows and the batch rows (same schema)
        and returns the buckets' NEW full contents. The SCD2 change
        store's full-identity collapse is this shape — neither an
        aggregate fold nor a keep-latest on the bucketing keys. The
        transition must be deterministic: a crash before the manifest
        commit replays the batch against the old state and must
        reproduce the same result."""
        return self._merge(writer_id, batch_id, batch, combine)

    def _merge(
        self,
        writer_id: str,
        batch_id: int,
        batch: DataFrame,
        combine,
        on_write=None,
        by_bucket: bool = False,
    ) -> bool:
        """Exactly-once merge of ``batch`` into the touched buckets.
        ``combine(base, cols)`` maps old ∪ batch rows to the buckets' new
        contents. With ``by_bucket`` it receives ``base`` with the bucket
        column, already hash-clustered on it, and groups by keys plus
        bucket, so the merge and the bucket-clustered write share one
        shuffle; otherwise it sees plain rows and the write re-clusters."""
        # ENFORCE the single-writer protocol rather than assuming it: two
        # concurrent merges would both read manifest M and the second
        # commit would silently drop the first's bucket pointers. An
        # exclusive flock held across read-manifest..commit makes the
        # overlap a loud error instead (ConcurrentWriteError), which a
        # scheduler-level retry can handle.
        with _writer_lock(self.path):
            return self._merge_locked(writer_id, batch_id, batch, combine, on_write, by_bucket)

    def _merge_locked(
        self,
        writer_id: str,
        batch_id: int,
        batch: DataFrame,
        combine,
        on_write,
        by_bucket: bool,
    ) -> bool:
        manifest = self._manifest()
        last = manifest["writers"].get(writer_id)
        if last is not None and batch_id <= last:
            return False  # replay of a committed batch: exactly-once skip
        txn = manifest["txn"] + 1
        spark = batch.sparkSession
        cols = batch.columns
        self._check_columns(manifest, cols)
        # the wave is read TWICE (touched-bucket discovery, then the
        # merge write; a third time by an ``on_write`` side output) —
        # persist it so the later passes read the cached
        # wave instead of recomputing the caller's pre-aggregation from
        # the source (wave-sized, bounded by the micro-batch). The
        # discovery rides the cache materialization as an OBSERVATION
        # (round 14, guide §5): collect_set(__bucket) — bounded by
        # n_buckets — is computed inside the one noop pass that fills
        # the cache, where the old distinct().collect() paid a second
        # job and an extra exchange per wave.
        from pyspark.sql import Observation

        obs = Observation()
        tagged = (
            batch.withColumn(BUCKET_COL, self._bucket())
            .observe(obs, F.collect_set(F.col(BUCKET_COL)).alias("b"))
            .persist()
        )
        try:
            tagged.write.mode("overwrite").format("noop").save()
            touched = sorted(int(b) for b in obs.get["b"])
            old = self._read_buckets(spark, manifest, set(touched))
            base = (
                tagged
                if old is None
                else old.withColumn(BUCKET_COL, self._bucket()).unionByName(tagged)
            )
            # cluster by bucket before the partitioned write (round 14,
            # guide §6): without it every shuffle partition holding a
            # bucket's rows emits its own file — up to partitions ×
            # touched-buckets small files per txn at scale — and locally
            # AQE coalesced the tiny merge output to ONE task that wrote
            # every bucket's file serially. Hash partitioning on the
            # bucket puts each bucket in exactly one task, so there is
            # one file per touched bucket per txn; the task count is
            # capped at the core count, since more writer tasks than
            # cores only add launch overhead.
            tasks = bucket_writer_tasks(spark, touched)
            if by_bucket:
                merged = combine(base.repartition(tasks, F.col(BUCKET_COL)), cols)
            else:
                merged = (
                    combine(base.drop(BUCKET_COL), cols)
                    .withColumn(BUCKET_COL, self._bucket())
                    .repartition(tasks, F.col(BUCKET_COL))
                )
            schema = StructType([f for f in merged.schema.fields if f.name != BUCKET_COL])

            def write_state() -> None:
                # brand-new immutable directory; nothing existing is touched
                merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                    f"{self.path}/t{txn}"
                )

            if on_write is None:
                write_state()
            else:
                # the side output reads only the cached wave and immutable
                # committed files, so its job runs beside the state write
                # instead of after it; both land before the commit
                with ThreadPoolExecutor(1) as pool:
                    side = pool.submit(
                        inheritable_thread_target(spark)(on_write), old, tagged.drop(BUCKET_COL)
                    )
                    write_state()
                    side.result()
        finally:
            tagged.unpersist()
        # a touched bucket the combine left empty (a CDC delete of its
        # last key, a transition that drops its rows) has no directory
        # under t<txn>: it leaves the manifest, as in ``prune``
        written = self._written_buckets(txn)
        for b in touched:
            if b in written:
                manifest["buckets"][str(b)] = txn
            else:
                manifest["buckets"].pop(str(b), None)
        manifest["writers"][writer_id] = batch_id
        manifest["txn"] = txn
        manifest["schema"] = schema.jsonValue()
        self._commit(manifest)
        if self.retain_txns:
            # steady-state retention: shadowed versions older than the
            # grace window go now, so file count is bounded by
            # O(buckets + retain_txns × touched-per-batch) regardless of
            # how many batches ever committed
            self.vacuum(keep_newer_than=txn - self.retain_txns)
        return True

    # -- reads & maintenance ----------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame | None:
        """Current committed state (no bucket column), or None if empty."""
        return self._read_buckets(spark, self._manifest())

    def prune(self, spark: SparkSession, predicate: F.Column) -> int:
        """Transactionally DELETE state rows matching ``predicate`` (state
        retention: expired windows, aged-out keys). Returns rows removed.

        Runs under the writer lock as its own transaction. Cost shape:
        ONE full-state scan locates the matches (retention is a rare
        maintenance pass, amortized over many merges — a predicate on a
        key prefix could consult per-bucket min/max stats instead, not
        wired), then only buckets that actually contain matching rows
        are rewritten (write IO ∝ touched buckets, like every merge).
        A bucket emptied by the delete is dropped from the manifest
        explicitly, not left as a zero-row file. The ``writers`` map is
        untouched — a replayed wave whose rows were since pruned is
        STILL skipped (retention must not resurrect data through the
        at-least-once path)."""
        with _writer_lock(self.path):
            return self._prune_locked(spark, predicate)

    def _prune_locked(self, spark: SparkSession, predicate: F.Column) -> int:
        manifest = self._manifest()
        state = self._read_buckets(spark, manifest)
        if state is None:
            return 0
        # NULL predicate rows are KEPT (a delete must be affirmative)
        pred = F.coalesce(predicate.cast("boolean"), F.lit(False))
        tagged = state.withColumn(BUCKET_COL, self._bucket())
        per_bucket = (
            tagged.groupBy(BUCKET_COL)
            .agg(
                F.sum(pred.cast("long")).alias("hits"),
                F.count(F.lit(1)).alias("total"),
            )
            .filter(F.col("hits") > 0)
            .collect()
        )
        if not per_bucket:
            return 0
        touched = {int(r[BUCKET_COL]): (int(r["hits"]), int(r["total"])) for r in per_bucket}
        emptied = {b for b, (h, t) in touched.items() if h == t}
        survivors = sorted(set(touched) - emptied)
        txn = manifest["txn"] + 1
        if survivors:
            kept = tagged.filter(F.col(BUCKET_COL).isin(survivors) & ~pred)
            kept.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                f"{self.path}/t{txn}"
            )
            for b in survivors:
                manifest["buckets"][str(b)] = txn
        for b in emptied:
            manifest["buckets"].pop(str(b), None)
        manifest["txn"] = txn
        self._commit(manifest)
        if self.retain_txns:
            self.vacuum(keep_newer_than=txn - self.retain_txns)
        return sum(h for h, _ in touched.values())

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> bool:
        """Savepoint-style state RESCALE (Flink's rescale-on-restore for
        keyed state): rewrite the whole state under a new bucket count in
        one transaction. Returns False if the count is already current.

        Why it exists: bucket count fixes the parallelism/IO granularity
        of every merge; a stream that outgrows its initial count needs
        more buckets without losing state or exactly-once replay
        protection. Semantics:

        - the ``writers`` ledger is untouched, so a wave redelivered
          across the rescale is still skipped;
        - crash-safe like every merge: the new layout becomes visible
          only at the atomic manifest commit — a crash mid-rewrite
          leaves the old layout fully live and the half-written txn dir
          as an invisible orphan for ``vacuum``;
        - the committed manifest records the new count, and every
          instance adopts the committed count on its next manifest read
          — a stale constructor ``n_buckets`` cannot mis-route keys.

        Cost: one full-state read + write (state size, not history) —
        a rare maintenance pass, same class as ``prune``."""
        with _writer_lock(self.path):
            manifest = self._manifest()
            if new_n_buckets == self.n_buckets:
                return False
            state = self._read_buckets(spark, manifest)
            self.n_buckets = new_n_buckets
            if state is None:
                # nothing stored yet: just commit the new count
                self._commit(manifest)
                return True
            txn = manifest["txn"] + 1
            tagged = state.withColumn(BUCKET_COL, self._bucket())
            tagged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                f"{self.path}/t{txn}"
            )
            manifest["buckets"] = {str(b): txn for b in self._written_buckets(txn)}
            manifest["txn"] = txn
            self._commit(manifest)
            if self.retain_txns:
                self.vacuum(keep_newer_than=txn - self.retain_txns)
            return True

    def vacuum(self, keep_newer_than: int | None = None) -> int:
        """Delete files no committed bucket version references (orphans of
        crashed attempts, shadowed old versions). Returns dirs removed.
        Safe any time: readers only follow the manifest.

        ``keep_newer_than``: also spare shadowed/orphaned dirs of txns
        strictly newer than this id — the steady-state grace window for
        concurrent readers mid-scan on paths they resolved from an older
        manifest. ``None`` (a full vacuum) spares nothing but the live
        set."""
        manifest = self._manifest()
        live = {(v, int(b)) for b, v in manifest["buckets"].items()}
        removed = 0
        for entry in os.listdir(self.path):
            if not entry.startswith("t"):
                continue
            try:
                txn = int(entry[1:])
            except ValueError:
                continue
            if keep_newer_than is not None and txn > keep_newer_than:
                continue
            tdir = f"{self.path}/{entry}"
            for bdir in os.listdir(tdir):
                if not bdir.startswith(f"{BUCKET_COL}="):
                    continue
                b = int(bdir.split("=")[1])
                if (txn, b) not in live:
                    shutil.rmtree(f"{tdir}/{bdir}", ignore_errors=True)
                    removed += 1
            if not any(d.startswith(BUCKET_COL) for d in os.listdir(tdir)):
                shutil.rmtree(tdir, ignore_errors=True)
        return removed


class AppendDeltaState:
    """Append-only delta ledger for ORDER-FREE mergeable aggregates
    (MIN/MAX/SUM/COUNT — anything where agg(a ∪ b) == agg(agg(a) ∪ b)).

    ``TransactionalKeyState.merge_aggregate`` re-aggregates old∪new
    inside every touched bucket each wave — right when waves touch a few
    buckets, but a ledger keyed on a HASH OF CONTENT (e.g. the streaming
    exact-substring gram ledger) touches essentially every bucket every
    wave, so each merge rewrote the whole accumulated state: per-wave
    write IO ∝ total ingested corpus (the round-9 verdict's one
    scale-killer). This store makes the merge a pure APPEND instead —
    legal precisely because the aggregate is order-free, so partials can
    sit side by side and be folded at read time:

    - ``append`` writes the wave's partials to a brand-new immutable
      ``d<seq>/`` dir and atomically commits the manifest — per-wave
      bytes written ∝ wave partials, NEVER re-reading or rewriting prior
      state (pinned by tests/test_chunkdedup.py's bytes-written test);
    - ``read`` unions the live delta dirs; callers fold with their
      ``agg_cols`` (read amplification grows with the live-delta count,
      which compaction bounds);
    - ``compact`` folds all live deltas into one (a rare maintenance
      pass, amortized: triggered every ``compact_every`` appends, so
      steady-state read fan-in stays ≤ compact_every and amortized
      write IO per wave stays O(state/compact_every + wave));
    - replay-safe exactly like ``TransactionalKeyState``: the
      ``writers`` map skips re-delivered (writer, batch) pairs BEFORE
      any write — an at-least-once foreachBatch redelivery cannot
      double-count.

    One directory is one transaction log: an instance is one named
    ``ledger`` of it (``""``, the default, is the one-ledger store), and
    ``commit_all`` appends to, upserts and prunes several ledgers of the
    same directory in ONE manifest replace carrying one replay mark — a
    wave that spans ledgers is committed whole or not at all.

    Layout::

        path/[<ledger>/]d<seq>/*.parquet   immutable, one dir per delta
        path/[<ledger>/]x<seq>/*.parquet   immutable DELETION VECTORS
                                     (tombstone key tuples + __upto seq
                                     watermark) — committed by ``upsert``,
                                     applied by readers, settled+cleared
                                     at compaction
        path/manifest.json           {"seq": n, "writers": {"w": batch},
                                      "deltas": [...], "tombs": [...]}
                                     one-ledger store; a named ledger's
                                     lists sit in "ledgers": {name: {...}}

    On a cluster this is the LSM shape every table format implements
    natively — append = commit a new file set, ``upsert`` = the
    merge-on-read DELETE+INSERT commit (deletion vectors), compact =
    rewrite-minor — so the same ledger maps onto Delta/Iceberg appends,
    DV deletes, + OPTIMIZE."""

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        compact_every: int = 8,
        tomb_match: Sequence[Sequence[str]] | None = None,
        ledger: str = "",
    ):
        """``tomb_match`` arms merge-on-read DELETION VECTORS (the
        ``upsert`` verb): a list of data-column groups, each the same
        arity as the tombstone key the owner will pass to ``upsert``'s
        ``drop``. A data row is dead iff ANY group's tuple equals a
        committed tombstone tuple whose ``__upto`` watermark is >= the
        row's delta seq — so a key re-added AFTER its tombstone (the
        update re-ingest) survives by construction. E.g. a pair ledger
        passes ``[["id_a"], ["id_b"]]`` against single-column doc
        tombstones; a doc-keyed ledger passes ``[["doc"]]``. None
        (default) disables ``upsert``; every other verb is unchanged."""
        self.path = path
        self.ledger = ledger
        self.dir = f"{path}/{ledger}" if ledger else path
        self.keys = list(keys)
        self.compact_every = compact_every
        self.tomb_match = [list(g) for g in tomb_match] if tomb_match else None
        os.makedirs(self.dir, exist_ok=True)

    def _manifest(self) -> dict:
        p = f"{self.path}/manifest.json"
        if not os.path.exists(p):
            return {"seq": 0, "writers": {}}
        with open(p) as fh:
            return json.load(fh)

    def _entry(self, manifest: dict) -> dict:
        """This ledger's {"deltas", "tombs"} lists in ``manifest``."""
        led = manifest
        if self.ledger:
            led = manifest.setdefault("ledgers", {}).setdefault(self.ledger, {})
        led.setdefault("deltas", [])
        led.setdefault("tombs", [])
        return led

    def _commit(self, manifest: dict) -> None:
        tmp = f"{self.path}/manifest.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, f"{self.path}/manifest.json")  # the commit point

    def committed(self, writer_id: str, batch_id: int) -> bool:
        """True when this (writer, batch) pair is already committed —
        the replay probe a fold runs BEFORE its first write, so a
        redelivered wave skips the whole ingest (every side effect, not
        just the ledger writes).

        Batch-id contract: ids must be MONOTONICALLY NON-DECREASING per
        writer — exactly what Structured Streaming's foreachBatch
        delivers (a restart re-delivers the last uncommitted batch, it
        never jumps backwards with NEW data). The probe stores only the
        per-writer high-water mark, so a genuinely out-of-order NEW
        batch (batch 0 first delivered after batch 2 committed) would
        be indistinguishable from a replay and skipped; callers outside
        foreachBatch must sequence their own batch ids."""
        last = self._manifest()["writers"].get(writer_id)
        return last is not None and batch_id <= last

    def append(
        self,
        partials: DataFrame,
        writer_id: str | None = None,
        batch_id: int | None = None,
        agg_cols: Sequence[F.Column] | None = None,
    ) -> bool:
        """Commit one wave's partials as a new immutable delta. Write IO
        ∝ partials; prior deltas are untouched. Returns False when
        ``(writer_id, batch_id)`` was already committed (replay skip —
        pass both for exactly-once under at-least-once redelivery).
        ``agg_cols`` (the caller's fold) enables auto-compaction when the
        live-delta count reaches ``compact_every``."""
        return self.commit_all([(self, None, partials, agg_cols)], writer_id, batch_id) is not None

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of the live deltas (UNFOLDED partials — callers
        aggregate by ``keys``) with any pending deletion vectors
        applied, or None before the first append. The common no-
        tombstone state pays NOTHING extra — one multi-path parquet
        scan, exactly as before ``upsert`` existed."""
        return self._read_live(spark, self._manifest())

    def _read_live(self, spark: SparkSession, manifest: dict) -> DataFrame | None:
        led = self._entry(manifest)
        if not led["deltas"]:
            return None
        if not led["tombs"]:
            return spark.read.parquet(*[f"{self.dir}/d{s}" for s in led["deltas"]])
        # merge-on-read: tag each delta's rows with its seq (the union
        # fan-in is bounded by compact_every), then anti-join the
        # tombstone set per match group with the watermark condition —
        # rows appended AFTER a tombstone (seq > __upto) survive, which
        # is what lets one atomic upsert drop a key and re-add it.
        data = None
        for s in led["deltas"]:
            part = spark.read.parquet(f"{self.dir}/d{s}").withColumn("__seq", F.lit(int(s)))
            data = part if data is None else data.unionByName(part)
        tomb = spark.read.parquet(*[f"{self.dir}/x{s}" for s in led["tombs"]])
        tcols = [c for c in tomb.columns if c != "__upto"]
        for grp in self.tomb_match or [tcols]:
            d = data.alias("__d")
            t = tomb.alias("__t")
            cond = F.col("__d.__seq") <= F.col("__t.__upto")
            for dcol, tcol in zip(grp, tcols):
                cond = cond & (F.col(f"__d.{dcol}") == F.col(f"__t.{tcol}"))
            data = d.join(t, cond, "left_anti")
        return data.drop("__seq")

    def upsert(
        self,
        drop: DataFrame | None,
        add: DataFrame | None,
        writer_id: str | None = None,
        batch_id: int | None = None,
        agg_cols: Sequence[F.Column] | None = None,
    ) -> bool:
        """Merge-on-read UPSERT in ONE atomic manifest commit: every
        data row matching ``drop`` on any ``tomb_match`` group (in
        deltas no newer than now) is dead, and ``add``'s rows are live
        — the store's one replace verb. Write IO ∝ drop + add rows,
        NEVER the ledger: ``drop`` lands as an immutable tombstone
        delta (key tuple + ``__upto`` = the current seq watermark) and
        ``add`` as a normal data delta, with the replay mark in the
        same commit. This is what makes a per-wave doc UPDATE and a
        takedown relabel affordable at corpus scale: neither rewrites
        the live ledger. Readers apply tombstones on the fly
        (``read``'s anti-join, fan-in bounded by ``compact_every``);
        compaction — auto-triggered here once deltas OR tombstones
        reach ``compact_every`` when ``agg_cols`` is given — folds them
        in physically and clears them, so steady-state reads stay one
        parquet scan. On a cluster this is exactly the table formats'
        deletion-vector / merge-on-read DELETE+INSERT commit. Same
        raw-facts caveat as ``prune``. Returns False on a replayed
        (writer, batch) — exactly-once under at-least-once redelivery."""
        if self.tomb_match is None:
            raise ValueError("upsert needs tomb_match declared at construction")
        return self.commit_all([(self, drop, add, agg_cols)], writer_id, batch_id) is not None

    @staticmethod
    def commit_all(writes, writer_id: str | None = None, batch_id: int | None = None):
        """Commit ``writes`` — ``(ledger, drop, add, agg_cols)`` tuples
        over ledgers of ONE directory — in one manifest replace with one
        replay mark. ``drop`` names the rows a write removes: None (an
        ``append``), key tuples (a DataFrame: an ``upsert``'s deletion
        vector) or a predicate (a Column: a ``prune``). Every delta lands
        in a fresh dir before the replace, so a crash anywhere leaves the
        committed manifest untouched. A ledger whose deltas or tombstones
        reach ``compact_every`` is folded by its ``agg_cols`` inside the
        same commit. Returns the rows each write pruned (0 for the
        others), or None when ``(writer_id, batch_id)`` was already
        committed."""
        first = writes[0][0]
        if any(st.path != first.path for st, *_ in writes):
            raise ValueError("commit_all spans ledgers of one directory only")
        mark = writer_id is not None and batch_id is not None
        with _writer_lock(first.path):
            manifest = first._manifest()
            last = manifest["writers"].get(writer_id)
            if mark and last is not None and batch_id <= last:
                return None
            # taken before any write: tombstones kill rows committed
            # before this commit, never a delta it writes (a prune's too)
            upto = manifest["seq"]
            removed = []
            # a prune or a compaction shadows live deltas: vacuum after
            shadowed = False
            for st, drop, add, _ in writes:
                led = st._entry(manifest)
                pruned = 0
                if isinstance(drop, Column):
                    pruned = st._prune_staged(SparkSession.active(), manifest, drop)
                    shadowed = True
                elif drop is not None and led["deltas"]:
                    # a tombstone against an EMPTY ledger kills nothing
                    drop = drop.distinct().withColumn("__upto", F.lit(int(upto)))
                    led["tombs"].append(st._write(manifest, drop, "x"))
                if add is not None:
                    led["deltas"].append(st._write(manifest, add, "d"))
                removed.append(pruned)
            for st, _, _, agg_cols in writes:
                led = st._entry(manifest)
                live = max(len(led["deltas"]), len(led["tombs"]))
                if agg_cols is not None and live >= st.compact_every:
                    shadowed |= st._fold(SparkSession.active(), manifest, agg_cols)
            if mark:
                manifest["writers"][writer_id] = batch_id
            if mark or manifest["seq"] != upto:
                first._commit(manifest)
            if shadowed:
                first.vacuum()
            return removed

    def _write(self, manifest: dict, df: DataFrame, kind: str) -> int:
        """Write ``df`` as this ledger's next ``d``/``x`` dir; its seq."""
        seq = manifest["seq"] = manifest["seq"] + 1
        df.write.mode("overwrite").parquet(f"{self.dir}/{kind}{seq}")
        return seq

    def compact(self, spark: SparkSession, agg_cols: Sequence[F.Column]) -> bool:
        """Fold all live deltas into one (read fan-in back to 1). Crash-
        safe: the fold lands in a fresh dir and becomes visible only at
        the manifest commit. Returns False when already compact."""
        with _writer_lock(self.path):
            manifest = self._manifest()
            if not self._fold(spark, manifest, agg_cols):
                return False
            self._commit(manifest)
            self.vacuum()
            return True

    def _fold(self, spark: SparkSession, manifest: dict, agg_cols: Sequence[F.Column]) -> bool:
        """Stage this ledger's compaction into ``manifest`` (uncommitted)."""
        led = self._entry(manifest)
        if len(led["deltas"]) <= 1 and not led["tombs"]:
            return False
        # tombstones are applied PHYSICALLY here and cleared — the
        # merge-on-read debt is settled, reads go back to one scan
        cur = self._read_live(spark, manifest)
        folded = cur.groupBy(*self.keys).agg(*agg_cols).select(*cur.columns)
        led["deltas"], led["tombs"] = [self._write(manifest, folded, "d")], []
        return True

    def prune(self, spark: SparkSession, predicate: F.Column) -> int:
        """Transactionally DELETE ledger rows matching ``predicate`` —
        retention for append-only state (aged-out cohorts, takedown doc
        ids). Returns rows removed.

        Correctness contract: callers must only prune ledgers whose rows
        are RAW facts per key (the phash band/pair ledgers, frameset
        grams), not folded aggregates a deleted row contributed to —
        deleting a partial from a MIN/SUM fold (the substring gram
        ledger) cannot un-count its contribution; such ledgers need a
        rebuild instead, and their owners do not expose prune.

        Mechanics mirror TransactionalKeyState.prune: one full-state
        scan, survivors land in ONE fresh delta (so the pass doubles as
        a compaction), the atomic manifest replace is the commit point,
        shadowed deltas are vacuumed, and the ``writers`` replay ledger
        is untouched — a replayed wave whose rows were since pruned is
        STILL skipped (retention must not resurrect data through the
        at-least-once path). Cost ∝ live state, a rare maintenance pass."""
        return self.commit_all([(self, predicate, None, None)])[0]

    def _prune_staged(self, spark: SparkSession, manifest: dict, predicate: F.Column) -> int:
        led = self._entry(manifest)
        if not led["deltas"]:
            return 0
        cur = self._read_live(spark, manifest)
        # NULL predicate rows are KEPT (a delete must be affirmative)
        pred = F.coalesce(predicate.cast("boolean"), F.lit(False))
        removed = int(cur.select(F.sum(pred.cast("long")).alias("hits")).first()["hits"] or 0)
        if removed == 0 and not led["tombs"]:
            return 0
        led["deltas"], led["tombs"] = [self._write(manifest, cur.filter(~pred), "d")], []
        return removed

    def _files(self, kind: str, seqs) -> list[str]:
        dirs = [f"{self.dir}/{kind}{s}" for s in seqs]
        return [
            os.path.join(d, f)
            for d in dirs
            if os.path.isdir(d)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]

    def metrics(self) -> dict:
        """Day-2 operational snapshot, file-level (no Spark session):
        live-delta count (the read fan-in compaction bounds), committed
        bytes and file count across live deltas, total row count (from
        parquet footers via pyarrow — no scan), the manifest seq, and
        the per-writer replay ledger. The numbers every dashboard needs
        to alert on ledger growth before it becomes a problem."""
        import pyarrow.dataset as ds

        manifest = self._manifest()
        led = self._entry(manifest)
        files = self._files("d", led["deltas"])
        out = {
            "live_deltas": len(led["deltas"]),
            "compact_every": self.compact_every,
            "seq": manifest["seq"],
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            # physical rows: includes rows a pending deletion vector
            # has already killed logically (settled at compaction)
            "rows": sum(ds.dataset(f, format="parquet").count_rows() for f in files),
            "writers": dict(manifest["writers"]),
        }
        if led["tombs"] or self.tomb_match is not None:
            out["tombstones"] = {
                "live": len(led["tombs"]),
                "rows": sum(
                    ds.dataset(f, format="parquet").count_rows()
                    for f in self._files("x", led["tombs"])
                ),
            }
        return out

    def column(self, col: str) -> list:
        """Every live-delta value of ``col``, file-level (pyarrow, no
        Spark session, pending deletion vectors NOT applied) — for the
        small-by-design ledgers a ``metrics``-style counter sums over."""
        import pyarrow.parquet as pq

        files = self._files("d", self._entry(self._manifest())["deltas"])
        return [v for f in files for v in pq.read_table(f, columns=[col])[col].to_pylist()]

    def vacuum(self) -> int:
        """Delete every ledger's delta/tombstone dirs the manifest no
        longer references (shadowed by compaction, or orphans of crashed
        commits)."""
        manifest = self._manifest()
        removed = 0
        for name, led in {"": manifest, **manifest.get("ledgers", {})}.items():
            d = f"{self.path}/{name}" if name else self.path
            live = {f"d{s}" for s in led.get("deltas", [])} | {
                f"x{s}" for s in led.get("tombs", [])
            }
            for entry in os.listdir(d) if os.path.isdir(d) else ():
                if entry[:1] in ("d", "x") and entry[1:].isdigit() and entry not in live:
                    shutil.rmtree(f"{d}/{entry}", ignore_errors=True)
                    removed += 1
        return removed
