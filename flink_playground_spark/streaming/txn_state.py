"""Transactional state directories: exactly-once foreachBatch folds.

The keyed-state primitives of the streaming folds (keep-latest,
mergeable aggregates, CDC apply, arbitrary transitions, append-only
deltas). foreachBatch is AT-LEAST-ONCE: if the job dies after the state
write and before Spark commits the batch's offsets to the checkpoint,
the batch REPLAYS. Keep-latest merges would absorb a replay
(idempotent); aggregate merges would DOUBLE-COUNT it.

Every store here makes its merges exactly-once with the snapshot-
manifest technique (operators/snapshots.py): data files are immutable
and versioned, and a single atomic manifest replace is the commit point.

ONE TRANSACTION LOG PER DIRECTORY. A store instance is one named
``ledger`` of a state directory (``""``, the default, is the one-ledger
layout), and the directory's ``manifest.json`` is its one log. The log
(``DirLedger``) owns, once for every store: the writer lock, the
manifest read, the ``writers`` replay mark (``committed`` /
``next_batch``) and the tmp-write + ``os.replace`` commit.
``commit_all(writes, writer_id, batch_id)`` stages writes to several
ledgers of one directory — ``TransactionalKeyState`` bucket merges,
``AppendDeltaState`` appends/upserts/prunes, ``ManifestRecords`` rows —
and publishes them with ONE manifest replace carrying one replay mark:
a wave that spans stores is committed whole or not at all.

Layout::

    path/manifest.json              {"writers": {"<writer_id>": n, ...},
                                     <the "" ledger's fields>,
                                     "ledgers": {"<name>": {<fields>}}}
    path/[<ledger>/]t<txn>/__bucket=<k>/...   TransactionalKeyState
    path/[<ledger>/]d<seq>/, x<seq>/          AppendDeltaState

    TransactionalKeyState fields:  {"txn": t,
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
    AppendDeltaState fields:       {"deltas": [...], "tombs": [...],
                                    "schema": {<StructType JSON>},
                                    "tomb_schema": {<StructType JSON>}}
                                   plus the directory's "seq" counter
                                   (schema = the committed data columns;
                                   tomb_schema = the tombstone columns)
    ManifestRecords fields:        {"rows": [[...], ...]}

A one-ledger TransactionalKeyState directory is exactly the store's
historical layout (fields at the top level), so it reattaches unchanged.
A ledger is one store's for good: opening it as another store (its
manifest entry holds the other store's fields) raises a ``ValueError``
naming the path, instead of reading the other store's state as empty.

Batch ids are only monotonic WITHIN one checkpointed streaming query —
a different query (or a restarted one with a fresh checkpoint) starts
over at 0 and its batches are NEW DATA, not replays. The replay skip is
therefore scoped to a ``writer_id`` (the query's checkpoint identity):
pass the same writer_id across restarts of one logical query and every
re-delivered (writer, batch) pair is skipped; a different writer_id
never collides.

ONE DOOR. Every mutation of a directory is a ``commit_all``, the only
code here that takes the writer lock or replaces the manifest: the
TransactionalKeyState merges (``merge_aggregate``,
``merge_keep_latest``, ``merge_changes``, ``merge_transform``) and its
maintenance verbs ``prune`` (retention) and ``rebucket`` (rescale), the
AppendDeltaState ``append``, ``upsert`` and ``prune`` (compaction rides
inside an append's or upsert's commit), and ``ManifestRecords`` rows.
A write that changes nothing — a replayed batch, a prune that matches
nothing, a rebucket to the current count — makes no replace.

Commit protocol for writer ``w``, batch ``b`` (the maintenance verbs
carry no mark and skip step 1):

1. ``b <= writers[w]``  →  REPLAY: skip, state already includes it;
2. every write reads its ledger's CURRENT versions via the manifest
   (never via directory listing — uncommitted files are invisible by
   construction);
3. every write lands in fresh immutable directories (``t<txn>/``,
   ``d<seq>/``, ``x<seq>/``; nothing is overwritten, a crash mid-write
   leaves only orphans) and stages its new pointers into the in-memory
   manifest;
4. atomically replace the manifest, recording ``writers[w] = b`` — the
   commit. A crash before (4) replays the batch against the OLD
   manifest and reproduces the same writes; orphan files from the
   failed attempt are shadowed, then garbage-collectable by ``vacuum``.

A batch whose columns differ from a ledger's committed schema is refused
with a ``ValueError`` before anything is written: the store never widens
or null-fills its schema silently. Reads use the committed schema, so
they submit no parquet footer-inference job.

The layout — bucket count, compaction cadence, retention window — is
this module's choice: the folds build their stores with the defaults
below, and a directory that already exists keeps its committed bucket
count.

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
from functools import partial

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
    """Exclusive non-blocking flock over the directory's writer lock
    file — the single-writer protocol every ``commit_all`` runs under.
    Raises ConcurrentWriteError instead of waiting."""
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


class DirLedger:
    """One named ledger of a state directory, and the directory's ONE
    transaction log (module docstring): the writer lock, the manifest,
    the ``writers`` replay mark and the atomic commit live here once.
    Subclasses keep their fields in ``_entry(manifest)`` and stage
    ``commit_all`` writes in ``_stage``."""

    # the manifest-entry keys that mark a ledger as this store's
    fields: tuple[str, ...] = ()

    def __init__(self, path: str, ledger: str = ""):
        self.path = path
        self.ledger = ledger
        self.dir = f"{path}/{ledger}" if ledger else path
        os.makedirs(path, exist_ok=True)

    def _manifest(self) -> dict:
        p = f"{self.path}/manifest.json"
        if not os.path.exists(p):
            return {"writers": {}}
        with open(p) as fh:
            return json.load(fh)

    def _entry(self, manifest: dict) -> dict:
        """This ledger's field dict in ``manifest``: the manifest itself
        for the ``""`` ledger, else its ``"ledgers"`` entry. Raises when
        the entry is another store's: read as this store's, it would
        look empty while its surviving replay mark skips new waves."""
        led = manifest
        if self.ledger:
            led = manifest.setdefault("ledgers", {}).setdefault(self.ledger, {})
        for store in (TransactionalKeyState, AppendDeltaState, ManifestRecords):
            if not isinstance(self, store) and any(f in led for f in store.fields):
                raise ValueError(
                    f"ledger at {self.dir} holds {store.__name__} state; "
                    f"it cannot be opened as {type(self).__name__}"
                )
        return led

    def _check_columns(self, led: dict, cols: Sequence[str]) -> None:
        """Refuse a batch whose columns differ from the committed state's
        (from the first commit that records a schema on): unioning it in
        would null-fill (or drop) columns silently."""
        if "schema" not in led:
            return
        committed = StructType.fromJson(led["schema"]).names
        missing = [c for c in committed if c not in cols]
        extra = [c for c in cols if c not in committed]
        if missing or extra:
            raise ValueError(
                f"batch columns differ from the committed state schema at "
                f"{self.dir}: missing {missing}, unexpected {extra}"
            )

    @staticmethod
    def _reader(spark: SparkSession, led: dict, key: str = "schema"):
        """``spark.read`` with the ledger's committed schema under
        ``key``, which skips the parquet footer-inference job; manifests
        written before the schema was recorded still read through
        inference."""
        if key not in led:
            return spark.read
        return spark.read.schema(StructType.fromJson(led[key]))

    def _commit(self, manifest: dict) -> None:
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
        return batch_id < self.next_batch(writer_id)

    @staticmethod
    def commit_all(writes, writer_id: str | None = None, batch_id: int | None = None):
        """Commit ``writes`` — ``(ledger, *args)`` tuples over ledgers of
        ONE directory, each staged by ``ledger._stage(manifest, *args)``
        — in one manifest replace with one replay mark: the directory's
        one door (module docstring), so how a directory commits changes
        here and nowhere else. Every file lands
        in a fresh dir before the replace, so a crash anywhere leaves
        the committed manifest untouched. Maintenance a write owes
        (compaction) is staged into the same commit; vacuums run after
        it. Returns each write's result, or None when ``(writer_id,
        batch_id)`` was already committed. A commit that changes nothing
        (no mark, nothing written) skips the replace."""
        first = writes[0][0]
        if any(st.path != first.path for st, *_ in writes):
            raise ValueError("commit_all spans ledgers of one directory only")
        mark = writer_id is not None and batch_id is not None
        with _writer_lock(first.path):
            manifest = first._manifest()
            if mark and batch_id <= manifest["writers"].get(writer_id, -1):
                return None
            # address (and check) every ledger before anything is written
            for st, *_ in writes:
                st._entry(manifest)
            before = json.dumps(manifest, sort_keys=True)
            results = [st._stage(manifest, *args) for st, *args in writes]
            after = [st._settle(manifest, *args) for st, *args in writes]
            if mark:
                manifest["writers"][writer_id] = batch_id
            if json.dumps(manifest, sort_keys=True) != before:
                first._commit(manifest)
            for cleanup in dict.fromkeys(a for a in after if a is not None):
                cleanup()
            return results

    def _settle(self, manifest: dict, *args):
        """Stage what a write owes once every write is staged; returns a
        cleanup to run after the commit, or None."""
        return None


class ManifestRecords(DirLedger):
    """A named ledger of small per-wave records kept IN the manifest —
    a drift-fit row, a high-water mark — so they commit with the wave's
    state and need no file or Spark job. ``(records, row)`` is its
    ``commit_all`` write; ``rows()`` reads the committed ones."""

    fields = ("rows",)

    def _entry(self, manifest: dict) -> dict:
        led = super()._entry(manifest)
        led.setdefault("rows", [])
        return led

    def _stage(self, manifest: dict, row) -> None:
        self._entry(manifest)["rows"].append(list(row))

    def rows(self) -> list[list]:
        return self._entry(self._manifest())["rows"]


class TransactionalKeyState(DirLedger):
    """Exactly-once keyed state over immutable versioned bucket files."""

    fields = ("txn", "buckets")

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        n_buckets: int = 16,
        retain_txns: int = 4,
        ledger: str = "",
    ):
        """``retain_txns``: steady-state retention — every commit prunes
        bucket versions that are BOTH shadowed (a newer committed version
        exists) and older than the newest ``retain_txns`` transactions.
        The grace window keeps a concurrent reader's already-resolved
        paths alive for N more commits (readers resolve paths from the
        manifest once, then scan); replay safety needs no history at all —
        replays are skipped via the writers map before any state read.
        0 disables auto-pruning (explicit ``vacuum()`` only).

        ``ledger`` names the store within the directory ``path`` (an
        address like ``path``; module docstring)."""
        super().__init__(path, ledger)
        self.keys = list(keys)
        self.n_buckets = n_buckets
        self.retain_txns = retain_txns
        os.makedirs(self.dir, exist_ok=True)

    def _entry(self, manifest: dict) -> dict:
        led = super()._entry(manifest)
        led.setdefault("txn", 0)
        led.setdefault("buckets", {})
        # The COMMITTED bucket count is authoritative: after a rebucket(),
        # an instance constructed with the old count would otherwise hash
        # keys into the wrong buckets — silent state corruption. Older
        # manifests (pre-rescale feature) carry no count; the constructor
        # value stands for those.
        self.n_buckets = led.get("n_buckets", self.n_buckets)
        # the keys are not adoptable like the count: other keys hash the
        # same rows into other buckets. Manifests written before keys
        # were recorded skip the check until their next commit.
        if led.get("keys", self.keys) != self.keys:
            raise ValueError(
                f"keyed state at {self.dir} is bucketed on {led['keys']}; "
                f"reattaching with keys {self.keys} would mis-route them"
            )
        led["n_buckets"], led["keys"] = self.n_buckets, self.keys
        return led

    def _bucket(self) -> F.Column:
        keys = ", ".join(quote(k) for k in self.keys)
        return F.expr(f"CAST(pmod(xxhash64({keys}), {int(self.n_buckets)}) AS INT)")

    def _bucket_paths(self, led: dict, buckets=None) -> list[str]:
        return [
            f"{self.dir}/t{v}/{BUCKET_COL}={b}"
            for b, v in led["buckets"].items()
            if buckets is None or int(b) in buckets
        ]

    def _read_buckets(self, spark: SparkSession, led: dict, buckets=None) -> DataFrame | None:
        paths = self._bucket_paths(led, buckets)
        if not paths:
            return None
        # explicit leaf dirs: no partition discovery, no bucket column —
        # and only COMMITTED files are reachable, orphans are invisible
        return self._reader(spark, led).parquet(*paths)

    def _write_buckets(self, df: DataFrame, txn: int) -> set[int]:
        """Write ``df`` (with the bucket column) as txn ``txn``'s brand-new
        immutable directory; the buckets it produced (directory listing:
        metadata, not a Spark job)."""
        tdir = f"{self.dir}/t{txn}"
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tdir)
        if not os.path.isdir(tdir):
            return set()
        return {
            int(d.split("=")[1]) for d in os.listdir(tdir) if d.startswith(f"{BUCKET_COL}=")
        }

    # -- merges ------------------------------------------------------------
    def stage_aggregate(self, partials: DataFrame, agg_cols: Sequence[F.Column]) -> tuple:
        """``merge_aggregate``'s ``commit_all`` write, uncommitted."""
        return (
            self,
            partials,
            lambda base, cols: base.groupBy(*self.keys, BUCKET_COL)
            .agg(*agg_cols)
            .select(*cols, BUCKET_COL),
        )

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
        return self._merge(writer_id, batch_id, self.stage_aggregate(partials, agg_cols))

    def stage_keep_latest(
        self,
        batch: DataFrame,
        order_col: str,
        tiebreakers: Sequence[str] = (),
        on_write=None,
    ) -> tuple:
        """``merge_keep_latest``'s ``commit_all`` write, uncommitted."""
        return (
            self,
            batch,
            lambda base, cols: dedup_latest(
                base, [*self.keys, BUCKET_COL], order_col, tiebreakers
            ),
            on_write,
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
        write fails, nothing is committed. A wave with no rows touches no
        bucket, so it writes nothing and ``on_write`` does not run."""
        return self._merge(
            writer_id, batch_id, self.stage_keep_latest(batch, order_col, tiebreakers, on_write)
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

        def combine(base, cols):
            latest = dedup_latest(base, [*self.keys, BUCKET_COL], order_col, tiebreakers)
            return latest.filter(F.col(op_col) != "D")

        return self._merge(writer_id, batch_id, (self, changes, combine))

    def merge_transform(
        self, writer_id: str, batch_id: int, batch: DataFrame, combine
    ) -> bool:
        """Arbitrary keyed state transition, exactly once per (writer,
        batch): ``combine(base, cols)`` receives the union of the
        touched buckets' current rows and the batch rows, with the
        bucket column (``BUCKET_COL``), and returns the buckets' NEW
        full contents with that column kept — group by keys plus the
        bucket column, as every merge here does. The SCD2 change
        store's full-identity collapse is this shape — neither an
        aggregate fold nor a keep-latest on the bucketing keys. The
        transition must be deterministic: a crash before the manifest
        commit replays the batch against the old state and must
        reproduce the same result."""
        return self._merge(writer_id, batch_id, (self, batch, combine))

    def _merge(self, writer_id: str, batch_id: int, write: tuple) -> bool:
        """Exactly-once merge of one ``stage_*`` write: its own
        one-write ``commit_all``. False on a replay."""
        return self.commit_all([write], writer_id, batch_id) is not None

    def _stage(self, manifest: dict, wave, combine, on_write=None) -> int:
        """Merge ``wave`` into the buckets it touches under a fresh txn
        and point ``manifest`` at it (uncommitted); returns the wave's
        row count. ``wave`` is a batch DataFrame, or a callable that
        derives it from this ledger's manifest entry under the writer
        lock (``prune``'s matching rows, ``rebucket``'s whole state;
        None: nothing to merge). ``combine(base, cols)`` maps the
        touched buckets' old rows ∪ the wave's to their new contents:
        ``base`` carries the bucket column, already hash-clustered on
        it, and the combine groups by keys plus bucket, so the merge and
        the bucket-clustered write share one shuffle. A wave that
        touches no bucket stages nothing: no txn, no directory."""
        led = self._entry(manifest)
        if callable(wave):
            wave = wave(led)
            if wave is None:
                return 0
        txn = led["txn"] + 1
        spark = wave.sparkSession
        cols = wave.columns
        self._check_columns(led, cols)
        # the wave is read TWICE (touched-bucket discovery, then the
        # merge write; a third time by an ``on_write`` side output) —
        # persist it so the later passes read the cached
        # wave instead of recomputing the caller's pre-aggregation from
        # the source (wave-sized, bounded by the micro-batch). The
        # discovery rides the cache materialization as an OBSERVATION
        # (round 14, guide §5): collect_set(__bucket) — bounded by
        # n_buckets — and the row count are computed inside the one noop
        # pass that fills the cache, where the old distinct().collect()
        # paid a second job and an extra exchange per wave.
        from pyspark.sql import Observation

        obs = Observation()
        tagged = (
            wave.withColumn(BUCKET_COL, self._bucket())
            .observe(obs, F.collect_set(F.col(BUCKET_COL)).alias("b"), F.count(F.lit(1)).alias("n"))
            .persist()
        )
        try:
            tagged.write.mode("overwrite").format("noop").save()
            seen = obs.get
            touched = sorted(int(b) for b in seen["b"])
            if not touched:
                return 0
            old = self._read_buckets(spark, led, set(touched))
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
            merged = combine(base.repartition(tasks, F.col(BUCKET_COL)), cols)
            schema = StructType([f for f in merged.schema.fields if f.name != BUCKET_COL])
            if on_write is None:
                written = self._write_buckets(merged, txn)
            else:
                # the side output reads only the cached wave and immutable
                # committed files, so its job runs beside the state write
                # instead of after it; both land before the commit
                with ThreadPoolExecutor(1) as pool:
                    side = pool.submit(
                        inheritable_thread_target(spark)(on_write), old, tagged.drop(BUCKET_COL)
                    )
                    written = self._write_buckets(merged, txn)
                    side.result()
        finally:
            tagged.unpersist()
        # a touched bucket the combine left empty (a CDC delete of its
        # last key, a prune of its last row) has no directory under
        # t<txn>: it leaves the manifest
        for b in touched:
            if b in written:
                led["buckets"][str(b)] = txn
            else:
                led["buckets"].pop(str(b), None)
        led["txn"] = txn
        led["schema"] = schema.jsonValue()
        return int(seen["n"])

    def _settle(self, manifest: dict, *args):
        return partial(self._retain, self._entry(manifest)["txn"])

    def _retain(self, txn: int) -> None:
        """Steady-state retention after committing ``txn``: shadowed
        versions older than the grace window go now, so file count is
        bounded by O(buckets + retain_txns × touched-per-batch)
        regardless of how many batches ever committed."""
        if self.retain_txns:
            self.vacuum(keep_newer_than=txn - self.retain_txns)

    # -- reads & maintenance ----------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame | None:
        """Current committed state (no bucket column), or None if empty."""
        return self._read_buckets(spark, self._entry(self._manifest()))

    def prune(self, spark: SparkSession, predicate: F.Column) -> int:
        """Transactionally DELETE state rows matching ``predicate`` (state
        retention: expired windows, aged-out keys). Returns rows removed.

        A ``commit_all`` write like every merge: the committed rows
        matching the predicate are the wave, so only the buckets holding
        them are rewritten (write IO ∝ touched buckets), and the combine
        drops them. Finding them costs ONE full-state scan (retention is
        a rare maintenance pass, amortized over many merges — a
        predicate on a key prefix could consult per-bucket min/max stats
        instead, not wired). A bucket the delete empties leaves the
        manifest, not a zero-row file; a prune that matches nothing
        makes no commit. It carries no replay mark, so the ``writers``
        map is untouched — a replayed wave whose rows were since pruned
        is STILL skipped (retention must not resurrect data through the
        at-least-once path)."""
        # NULL predicate rows are KEPT (a delete must be affirmative)
        pred = F.coalesce(predicate.cast("boolean"), F.lit(False))

        def matching(led: dict) -> DataFrame | None:
            state = self._read_buckets(spark, led)
            return None if state is None else state.filter(pred)

        return self.commit_all([(self, matching, lambda base, cols: base.filter(~pred))])[0]

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> bool:
        """Savepoint-style state RESCALE (Flink's rescale-on-restore for
        keyed state): rewrite the whole state under a new bucket count in
        one ``commit_all``. Returns False, committing nothing, if the
        count is already current.

        Why it exists: bucket count fixes the parallelism/IO granularity
        of every merge; a stream that outgrows its initial count needs
        more buckets without losing state or exactly-once replay
        protection. The write reads the committed state, clears the
        bucket pointers, records the new count and stages the whole
        state as its wave, all in one manifest replace. Semantics:

        - it carries no replay mark, so the ``writers`` map is
          untouched and a wave redelivered across the rescale is still
          skipped;
        - crash-safe like every merge: the new layout becomes visible
          only at the atomic manifest commit — a crash mid-rewrite
          leaves the old layout fully live and the half-written txn dir
          as an invisible orphan for ``vacuum``;
        - the committed manifest records the new count, and every
          instance adopts the committed count on its next manifest read
          — a stale constructor ``n_buckets`` cannot mis-route keys.

        Cost: one full-state read + write (state size, not history) —
        a rare maintenance pass, same class as ``prune``."""
        rescaled = []

        def whole_state(led: dict) -> DataFrame | None:
            if led["n_buckets"] == new_n_buckets:
                return None
            state = self._read_buckets(spark, led)
            led["buckets"] = {}
            self.n_buckets = led["n_buckets"] = new_n_buckets
            rescaled.append(new_n_buckets)
            return state

        self.commit_all([(self, whole_state, lambda base, cols: base)])
        return bool(rescaled)

    def vacuum(self, keep_newer_than: int | None = None) -> int:
        """Delete files no committed bucket version references (orphans of
        crashed attempts, shadowed old versions). Returns dirs removed.
        Safe any time: readers only follow the manifest.

        ``keep_newer_than``: also spare shadowed/orphaned dirs of txns
        strictly newer than this id — the steady-state grace window for
        concurrent readers mid-scan on paths they resolved from an older
        manifest. ``None`` (a full vacuum) spares nothing but the live
        set."""
        led = self._entry(self._manifest())
        live = {(v, int(b)) for b, v in led["buckets"].items()}
        removed = 0
        for entry in os.listdir(self.dir):
            if not entry.startswith("t"):
                continue
            try:
                txn = int(entry[1:])
            except ValueError:
                continue
            if keep_newer_than is not None and txn > keep_newer_than:
                continue
            tdir = f"{self.dir}/{entry}"
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


class AppendDeltaState(DirLedger):
    """Append-only delta ledger for ORDER-FREE mergeable aggregates
    (MIN/MAX/SUM/COUNT — anything where agg(a ∪ b) == agg(agg(a) ∪ b)).

    ``TransactionalKeyState.merge_aggregate`` re-aggregates old∪new
    inside every touched bucket each wave — right when waves touch a few
    buckets, but a ledger keyed on a HASH OF CONTENT (e.g. the streaming
    exact-substring gram ledger), or one whose waves each spread over
    many keys (the window top-N counts), touches essentially every
    bucket every wave, so each merge rewrote the whole accumulated
    state: per-wave write IO ∝ total ingested corpus (the round-9
    verdict's one scale-killer). This store makes the merge a pure APPEND instead —
    legal precisely because the aggregate is order-free, so partials can
    sit side by side and be folded at read time:

    - ``append`` writes the wave's partials to a brand-new immutable
      ``d<seq>/`` dir and atomically commits the manifest — per-wave
      bytes written ∝ wave partials, NEVER re-reading or rewriting prior
      state (pinned by tests/test_chunkdedup.py's bytes-written test);
    - ``read`` unions the live delta dirs; callers fold with their
      ``agg_cols`` (read amplification grows with the live-delta count,
      which compaction bounds: an append or upsert given ``agg_cols``
      folds all live deltas into one inside its own commit once they
      reach ``compact_every``, so steady-state read fan-in stays ≤
      compact_every and amortized write IO per wave stays
      O(state/compact_every + wave));
    - replay-safe exactly like ``TransactionalKeyState``: the
      ``writers`` map skips re-delivered (writer, batch) pairs BEFORE
      any write — an at-least-once foreachBatch redelivery cannot
      double-count.

    An instance is one named ``ledger`` of its directory's one
    transaction log (module docstring): ``(ledger, drop, add,
    agg_cols)`` is its ``commit_all`` write, so a wave appends to,
    upserts and prunes several ledgers — and merges TransactionalKeyState
    buckets — in ONE manifest replace carrying one replay mark.

    Layout (module docstring): one immutable ``d<seq>/`` dir per delta,
    and ``x<seq>/`` DELETION VECTORS (tombstone key tuples + ``__upto``
    seq watermark) — committed by ``upsert``, applied by readers,
    settled and cleared at compaction. The ledger's ``schema`` is the
    committed data columns: every delta reads with it (no footer-
    inference job), and a data write whose column names differ from it
    (``append``, ``upsert``'s ``add``) raises a ``ValueError`` before
    any file is written. Compaction and ``prune`` rewrite rows read with
    that schema, so they keep it by construction; tombstones keep their
    own columns, recorded as ``tomb_schema`` so their reads skip
    inference too.

    On a cluster this is the LSM shape every table format implements
    natively — append = commit a new file set, ``upsert`` = the
    merge-on-read DELETE+INSERT commit (deletion vectors), compaction =
    rewrite-minor — so the same ledger maps onto Delta/Iceberg appends,
    DV deletes, + OPTIMIZE."""

    fields = ("deltas", "tombs")

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
        super().__init__(path, ledger)
        self.keys = list(keys)
        self.compact_every = compact_every
        self.tomb_match = [list(g) for g in tomb_match] if tomb_match else None
        os.makedirs(self.dir, exist_ok=True)

    def _entry(self, manifest: dict) -> dict:
        """This ledger's {"deltas", "tombs"} lists in ``manifest``."""
        manifest.setdefault("seq", 0)
        led = super()._entry(manifest)
        led.setdefault("deltas", [])
        led.setdefault("tombs", [])
        return led

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
        reader = self._reader(spark, led)
        if not led["tombs"]:
            return reader.parquet(*[f"{self.dir}/d{s}" for s in led["deltas"]])
        # merge-on-read: tag each delta's rows with its seq (the union
        # fan-in is bounded by compact_every), then anti-join the
        # tombstone set per match group with the watermark condition —
        # rows appended AFTER a tombstone (seq > __upto) survive, which
        # is what lets one atomic upsert drop a key and re-add it.
        data = None
        for s in led["deltas"]:
            part = reader.parquet(f"{self.dir}/d{s}").withColumn("__seq", F.lit(int(s)))
            data = part if data is None else data.unionByName(part)
        tomb = self._reader(spark, led, "tomb_schema").parquet(
            *[f"{self.dir}/x{s}" for s in led["tombs"]]
        )
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

    def _stage(self, manifest: dict, drop, add, agg_cols) -> int:
        """Stage one write: ``drop`` names the rows it removes — None
        (an ``append``), key tuples (a DataFrame: an ``upsert``'s
        deletion vector) or a predicate (a Column: a ``prune``) — and
        ``add`` lands as a fresh delta. Returns the rows a prune
        removed (0 for the others)."""
        led = self._entry(manifest)
        if add is not None:
            self._check_columns(led, add.columns)
        pruned = 0
        if isinstance(drop, Column):
            pruned = self._prune_staged(SparkSession.active(), manifest, drop)
        elif drop is not None and led["deltas"]:
            # a tombstone kills the rows the ledger holds before this
            # write, never the delta it adds (against an EMPTY ledger it
            # kills nothing)
            drop = drop.distinct().withColumn("__upto", F.lit(int(manifest["seq"])))
            led["tombs"].append(self._write(manifest, drop, "x"))
        if add is not None:
            led["deltas"].append(self._write(manifest, add, "d"))
        return pruned

    def _settle(self, manifest: dict, drop, add, agg_cols):
        """Fold the ledger by ``agg_cols`` inside the same commit once
        its deltas or tombstones reach ``compact_every``; a fold or a
        prune shadows live deltas, so the ledger is vacuumed after."""
        led = self._entry(manifest)
        live = max(len(led["deltas"]), len(led["tombs"]))
        folded = (
            agg_cols is not None
            and live >= self.compact_every
            and self._fold(SparkSession.active(), manifest, agg_cols)
        )
        return self.vacuum if folded or isinstance(drop, Column) else None

    def _write(self, manifest: dict, df: DataFrame, kind: str) -> int:
        """Write ``df`` as this ledger's next ``d``/``x`` dir; its seq. A
        data delta records its columns as the ledger's ``schema``, a
        tombstone dir as its ``tomb_schema``."""
        seq = manifest["seq"] = manifest["seq"] + 1
        df.write.mode("overwrite").parquet(f"{self.dir}/{kind}{seq}")
        key = "schema" if kind == "d" else "tomb_schema"
        self._entry(manifest)[key] = df.schema.jsonValue()
        return seq

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
        rebuild instead, and their owners do not expose prune. The one
        exception is a predicate fixed by the keys alone (the window top-
        N's window end): it drops every partial of a key together, so
        the key leaves the fold whole.

        A ``commit_all`` write like every verb: one full-state scan,
        survivors land in ONE fresh delta (so the pass doubles as a
        compaction), the atomic manifest replace is the commit point (a
        prune that matches nothing on a ledger with no pending
        tombstones makes none), shadowed deltas are vacuumed, and it
        carries no replay mark, so the ``writers`` map is untouched — a
        replayed wave whose rows were since pruned is STILL skipped
        (retention must not resurrect data through the at-least-once
        path). Cost ∝ live state, a rare maintenance pass."""
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
        """Delete this ledger's delta/tombstone dirs the manifest no
        longer references (shadowed by compaction, or orphans of crashed
        commits)."""
        led = self._entry(self._manifest())
        live = {f"d{s}" for s in led["deltas"]} | {f"x{s}" for s in led["tombs"]}
        removed = 0
        for entry in os.listdir(self.dir) if os.path.isdir(self.dir) else ():
            if entry[:1] in ("d", "x") and entry[1:].isdigit() and entry not in live:
                shutil.rmtree(f"{self.dir}/{entry}", ignore_errors=True)
                removed += 1
        return removed
