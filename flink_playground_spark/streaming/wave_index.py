"""The per-wave protocol every streaming near-dup index shares.

The streaming pair indexes (phash_index: image/audio Hamming
fingerprints, minhash_index: text, cosine_index: embeddings,
frameset_index: video frame-hash sets) answer the pipeline question —
*as batches arrive, which new docs near-duplicate anything seen so
far* — and all fold a wave the same way. ``WaveIndex`` holds that fold
once; a family class supplies only its signature kernel: how a wave is
prepared, which committed frame the one-wave-per-doc guard probes, how
candidates are verified, and the ledgers its state lives in (class
data, never a branch on the family).

Protocol of ``ingest`` / ``update`` for one wave ``batch_id``:

1. Replay probe BEFORE any write: if the commit-point ledger (the LAST
   one written) already holds ``batch_id``, the whole wave is skipped.
2. Prepare: the caller's lineage is checkpointed once (often a full
   media-hash or embedding pass); every guard and join reads the
   checkpoint. Every checkpoint a wave takes (``_pin``) is released
   when its fold ends, committed or raised.
3. Guards. Within the wave, one doc id carrying two distinct payloads
   would fold two content generations into one stored identity — the
   cross-wave guard cannot see it (nothing is committed yet). Across
   waves (``ingest`` only), a doc already committed would pair against
   its own stored state and skew every later answer. Either raises
   (``on_conflict="error"``: ``IntraWaveConflict`` /
   ``OneWavePerDocViolation``) or routes the doc WHOLE to the
   quarantine ledger (``"quarantine"``, surfaced in ``ops_metrics``) —
   a conflicted wave cannot say which generation is current, that is
   what ``update`` waves are for.
4. Bucket cap (banded families): buckets whose ACCUMULATED distinct-doc
   count crosses ``max_bucket`` are appended to the overflow ledger and
   excluded from every later candidate join, and the wave rows they
   swallow after the crossing are SUM-counted
   (``ops_metrics()["overflow_rows_skipped"]``). drained == batch
   whenever no bucket crosses the cap mid-stream; on a corpus that does
   overflow, pairs emitted before the crossing are never retracted and
   the divergence is named and quantified. The overflow set lives and is
   pruned executor-side, so a degenerate corpus cannot blow up the
   driver.
5. Pairs: new×new within the wave plus new×touched-prior (only state in
   the buckets the wave touches is read), verified exactly. Every pair
   is emitted once, in the wave of its later member, so the drained
   pair set equals the batch answer.
6. Ledger writes, each an ``AppendDeltaState`` commit that skips itself
   per (writer, batch): pairs first, tagged ``since_batch`` so a
   composed pipeline (dedup_pipeline.py) can recover exactly this
   wave's pairs after a crash between this commit and a downstream
   one (min-fold safe: a pair is emitted in exactly one wave); then the
   family's state ledgers, the commit point LAST. A crash anywhere
   before the commit point redelivers the wave: its content is
   recomputed deterministically, already-committed ledgers skip via
   their replay marks, and the rest catch up — the wave's own rows can
   never make the guard self-flag.

``ingest`` appends. ``update`` is the one-call changed-doc path (+U)
the cross-wave guard otherwise refuses — the PK upsert of
WithStateTtlJob.java:73-77 and the keep-latest dedup of
WithDeduplicateJoinJob.java:88-104: each ledger write is ONE atomic
``AppendDeltaState.upsert`` (a deletion-vector delta killing the wave
docs' old rows, the new rows and the replay mark in one manifest
commit), and the wave docs' old state is excluded from candidates and
verification. It is one call, not ``forget`` + ``ingest``, because that
pair leaves a crash window in which the doc has silently vanished; here
every committed point holds either a doc's old generation or its new
one. A doc id not yet committed is simply inserted. Per-wave write IO
is ∝ WAVE rows for both verbs (merge-on-read: tombstones are applied by
readers and settled at the next compaction, never a rewrite in the
wave path).

Every ledger row is a raw per-doc fact, so ``forget`` is surgical. The
replay ledger still skips the original waves (deletes must not
resurrect data), and overflowed buckets stay excluded (the cap records
that a bucket WAS degenerate; un-crossing it would silently re-admit
candidates recall already skipped — re-ingest survivors into a fresh
index to reclaim such buckets).
"""

from __future__ import annotations

import glob
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.streaming.txn_state import AppendDeltaState


class OneWavePerDocViolation(ValueError):
    """A wave re-delivered an already-committed doc id under a NEW
    batch_id — the one-wave-per-doc ingest precondition, violated.
    Folding it silently would pair the doc against its own stored state
    and quietly skew every later answer; the guard refuses instead."""


class IntraWaveConflict(ValueError):
    """ONE wave carried conflicting content for the same doc id (two
    distinct fingerprints / texts / embeddings) — folding both would
    quietly merge two generations into one stored identity, so every
    later distance or Jaccard against that doc would be wrong. Raised
    (or the doc quarantined whole) BEFORE any state write."""


def _sum_ledger_col(state: AppendDeltaState, col: str) -> int:
    """File-level SUM over one column of a (tiny, bounded-by-design)
    ledger — no Spark session, same discipline as ``metrics()``."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    total = 0
    for s in state._manifest()["deltas"]:
        d = f"{state.path}/d{s}"
        if os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d)):
            v = pc.sum(ds.dataset(d, format="parquet").to_table(columns=[col])[col])
            total += v.as_py() or 0
    return total


def state_bytes(workdir: str, ledger: str) -> int:
    """Committed bytes of one ledger's data deltas under ``workdir``
    (test hook for the per-wave write-IO contract)."""
    return sum(
        os.path.getsize(p)
        for p in glob.glob(f"{workdir}/{ledger}/d*/**/*.parquet", recursive=True)
    )


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a local checkpoint nothing reads again —
    ``RDD.unpersist`` without its warning that a local checkpoint cannot
    be recomputed once unpersisted."""
    rdd = df._jdf.queryExecution().logical().rdd()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


def _tag(df: DataFrame, batch_id: int) -> DataFrame:
    return df.withColumn("since_batch", F.lit(batch_id))


def _mins(cols) -> list:
    return [F.min(c).alias(c) for c in cols]


def _with_candidates(wave_rows: DataFrame, state: DataFrame, cand: DataFrame) -> DataFrame:
    """The wave's rows plus the stored rows of candidate docs only —
    verification never scans a state ledger whole (one semi-join)."""
    cand_docs = (
        cand.select(F.col("id_a").alias("doc"))
        .unionByName(cand.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    return wave_rows.unionByName(state.join(cand_docs, "doc", "left_semi"))


class Ledger(NamedTuple):
    """One state ledger of a family, declared as class data. The ledger
    lives in ``workdir/<name>``, is the instance attribute
    ``_<writer>``, is keyed on ``keys`` with ``[["doc"]]`` deletion
    vectors, and folds ``mins`` by MIN on compaction. A ``since_batch``
    in ``mins`` tags the rows with the wave that wrote them. The
    prepared wave's ``<name>`` frame is what it receives."""

    name: str
    writer: str
    keys: tuple
    mins: tuple
    forget_stat: bool = True  # report ``<writer>_removed`` from forget()


class WaveIndex:
    """The shared streaming-index surface (``ingest``/``update``/
    ``committed``/``pairs``/``pairs_for_batch``/``wave_doc_ids``/
    ``forget``/``ops_metrics``) over the protocol in the module
    docstring. Subclasses set the class data below and implement
    ``_source``, ``_prepare`` and ``_wave_pairs``."""

    _LEDGERS: tuple  # state ledgers in write order, commit point last
    _SCORE: tuple  # the pair ledger's score column and its type
    _CONTENT: str | None = None  # SQL over the source wave: per-doc payload
    _PAYLOAD = ""  # the payload's name in IntraWaveConflict messages
    id_col = "doc"  # the caller's doc-id column

    def __init__(self, workdir: str, on_conflict: str):
        if on_conflict not in ("error", "quarantine"):
            raise ValueError(f"on_conflict must be error|quarantine, got {on_conflict}")
        self.workdir = workdir
        self.on_conflict = on_conflict
        for led in self._LEDGERS:
            state = AppendDeltaState(
                f"{workdir}/{led.name}", keys=list(led.keys), tomb_match=[["doc"]]
            )
            setattr(self, f"_{led.writer}", state)
        self._pairs = AppendDeltaState(
            f"{workdir}/pairs", keys=["id_a", "id_b"], tomb_match=[["id_a"], ["id_b"]]
        )
        self._quarantine = AppendDeltaState(f"{workdir}/quarantine", keys=["doc"])
        self._pinned: list[DataFrame] = []  # the current wave's checkpoints

    # -- family kernel -------------------------------------------------------

    def _source(self, wave: DataFrame) -> DataFrame:
        """The wave as doc-keyed rows the intra-wave guard reads."""
        raise NotImplementedError

    def _prepare(self, src: DataFrame) -> dict:
        """The guarded source as named doc-keyed frames: ``docs`` (the
        doc ids the cross-wave guard probes) plus one frame per ledger
        name. Both guards drop a quarantined doc from every frame."""
        raise NotImplementedError

    def _seen_docs(self, spark: SparkSession, batch_id: int) -> DataFrame | None:
        """Doc ids committed by EARLIER waves. The commit-point ledger
        serves: its rows land last, so a crash-redelivered wave never
        finds its own."""
        return self._commit_ledger().read(spark)

    def _wave_pairs(self, w: dict, batch_id: int, dead: DataFrame | None) -> DataFrame:
        """The wave's verified (id_a, id_b, score) pairs. ``dead``: doc
        ids whose STORED state is stale (an update wave's excision
        set) — their content is represented by the wave alone."""
        raise NotImplementedError

    # -- protocol ------------------------------------------------------------

    def _pin(self, df: DataFrame) -> DataFrame:
        """Eager local checkpoint of a wave-scoped frame; ``_fold``
        releases it once the wave ends, committed or raised."""
        out = df.localCheckpoint(eager=True)
        self._pinned.append(out)
        return out

    def _commit_ledger(self) -> AppendDeltaState:
        return getattr(self, f"_{self._LEDGERS[-1].writer}")

    def _live_state(self, spark: SparkSession, dead: DataFrame | None) -> DataFrame | None:
        """The commit-point ledger's rows minus the ``dead`` docs."""
        state = self._commit_ledger().read(spark)
        if state is not None and dead is not None:
            state = state.join(F.broadcast(dead), "doc", "left_anti")
        return state

    def _refuse(self, w, bad: DataFrame, batch_id: int, exc: type, msg: str, fix: str, writer):
        """Raise ``exc`` naming a sample of ``bad`` docs, or append them
        to the quarantine ledger under ``writer`` and drop them from
        ``w`` (one frame or a dict of frames)."""
        if bad.isEmpty():
            return w
        if self.on_conflict == "error":
            sample = [r["doc"] for r in bad.limit(5).collect()]
            raise exc(
                f"wave {batch_id} {msg} (sample: {sample}) — {fix} or construct "
                "the index with on_conflict='quarantine'"
            )
        self._quarantine.append(
            _tag(bad, batch_id),
            writer_id=writer,
            batch_id=batch_id,
            agg_cols=_mins(["since_batch"]),
        )
        if isinstance(w, dict):
            return {k: v.join(F.broadcast(bad), "doc", "left_anti") for k, v in w.items()}
        return w.join(F.broadcast(bad), "doc", "left_anti")

    def _guard_intra_wave(self, src: DataFrame, batch_id: int) -> DataFrame:
        """One payload per doc WITHIN the wave (module docstring, step
        3). Exact duplicates of the same (doc, payload) row pass. One
        wave-sized aggregate over the (hashed) payload."""
        if self._CONTENT is None:
            return src
        bad = self._pin(
            src.groupBy("doc")
            .agg(F.count_distinct(F.expr(self._CONTENT)).alias("n"))
            .filter(F.col("n") > 1)
            .select("doc")
        )
        msg = f"carries >1 distinct {self._PAYLOAD} for the same doc id"
        fix = "resolve upstream (keep-latest per doc)"
        return self._refuse(src, bad, batch_id, IntraWaveConflict, msg, fix, "quarantine_intra")

    def _guard_one_wave_per_doc(self, w: dict, batch_id: int) -> dict:
        """Anti-probe the wave's doc ids against ``_seen_docs`` (module
        docstring, step 3): one columnar scan of the seen frame per
        wave, semi-joined against the broadcast wave ids."""
        seen = self._seen_docs(w["docs"].sparkSession, batch_id)
        if seen is None:
            return w
        bad = self._pin(
            seen.join(F.broadcast(w["docs"]), "doc", "left_semi").select("doc").distinct()
        )
        msg = "re-delivers already-committed doc ids — one-wave-per-doc violated"
        fix = "fold changed docs through update()"
        return self._refuse(w, bad, batch_id, OneWavePerDocViolation, msg, fix, "quarantine")

    def _fold(self, wave: DataFrame, batch_id: int, update: bool) -> None:
        if self.committed(batch_id):
            return  # replay of a committed wave: skipped before ANY write
        try:
            self._fold_wave(wave, batch_id, update)
        finally:
            for df in self._pinned:
                release_checkpoint(df)
            self._pinned.clear()

    def _fold_wave(self, wave: DataFrame, batch_id: int, update: bool) -> None:
        src = self._guard_intra_wave(self._source(wave), batch_id)
        # update's excision set: every doc the (guarded) wave carries,
        # taken before preparation so a doc whose new content stores
        # nothing still loses its old state
        dead = self._pin(src.select("doc").distinct()) if update else None
        w = self._prepare(src)
        if not update:
            w = self._guard_one_wave_per_doc(w, batch_id)
        pairs = _tag(self._wave_pairs(w, batch_id, dead), batch_id)
        writes = [(self._pairs, "pairs", pairs, (self._SCORE[0], "since_batch"))]
        for led in self._LEDGERS:
            rows = _tag(w[led.name], batch_id) if "since_batch" in led.mins else w[led.name]
            writes.append((getattr(self, f"_{led.writer}"), led.writer, rows, led.mins))
        for state, writer, rows, mins in writes:
            kw = dict(writer_id=writer, batch_id=batch_id, agg_cols=_mins(mins))
            if dead is None:
                state.append(rows, **kw)
            else:
                state.upsert(dead, rows, **kw)

    # -- API -----------------------------------------------------------------

    def ingest(self, wave: DataFrame, batch_id: int) -> None:
        """Fold one wave of NEW docs: emit every pair the wave completes,
        then append the wave's state. Each doc id arrives in exactly one
        wave — enforced by the guards per ``on_conflict``; redelivery of
        the same ``batch_id`` is skipped before any write."""
        self._fold(wave, batch_id, update=False)

    def update(self, wave: DataFrame, batch_id: int) -> None:
        """Fold one wave of CHANGED docs under ONE batch id: each doc's
        new content REPLACES its committed state, its stale pairs are
        retracted and its new pairs emitted (module docstring)."""
        self._fold(wave, batch_id, update=True)

    def wave_doc_ids(self, wave: DataFrame) -> DataFrame:
        """The doc ids a wave carries, as a single-column ``doc``
        DataFrame — the composed pipeline derives an update wave's
        excision set through this, schema-agnostically."""
        return wave.select(F.col(self.id_col).alias("doc")).distinct()

    def committed(self, batch_id: int) -> bool:
        """True when ``batch_id`` is fully folded (the commit-point
        ledger holds it). The composed pipeline uses this to tell
        'index done, downstream not' apart from a whole-wave replay."""
        return self._commit_ledger().committed(self._LEDGERS[-1].writer, batch_id)

    def _read_pairs(self, spark: SparkSession, batch_id: int | None) -> DataFrame:
        score, typ = self._SCORE
        out = self._pairs.read(spark)
        if out is None:
            return spark.createDataFrame([], f"id_a long, id_b long, {score} {typ}")
        if batch_id is not None:
            out = out.filter(F.col("since_batch") == batch_id)
        return (
            out.groupBy("id_a", "id_b")
            .agg(F.min(score).alias(score))
            .select("id_a", "id_b", score)
        )

    def pairs(self, spark: SparkSession) -> DataFrame:
        """Every near-dup pair emitted so far, folded by the declared
        (id_a, id_b) keys so reads are deterministic — one row per
        pair."""
        return self._read_pairs(spark, None)

    def pairs_for_batch(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Exactly the pairs wave ``batch_id`` emitted (stable under
        compaction's min-fold). The composed pipeline's crash recovery:
        when the index committed a wave but a downstream ledger did
        not, the wave's pairs are recovered here instead of being
        recomputed — or lost."""
        return self._read_pairs(spark, batch_id)

    def forget(self, spark: SparkSession, docs) -> dict:
        """Retention / takedown: transactionally remove a doc cohort —
        its state rows, every emitted pair that references it, and its
        quarantine entry (so a LATER wave re-introducing it is fresh,
        legal data). ``docs`` is an iterable of doc ids (the bounded
        delete list an operator hands a retention job — deletes are an
        explicit, audited act). Cost ∝ live state (the pass doubles as
        a compaction). Caveats in the module docstring."""
        ids = sorted(set(docs))
        is_doc = F.col("doc").isin(ids)
        out = {}
        for led in self._LEDGERS:
            n = getattr(self, f"_{led.writer}").prune(spark, is_doc)
            if led.forget_stat:
                out[f"{led.writer}_removed"] = n
        out["pairs_removed"] = self._pairs.prune(
            spark, F.col("id_a").isin(ids) | F.col("id_b").isin(ids)
        )
        self._quarantine.prune(spark, is_doc)
        return out

    def ops_metrics(self) -> dict:
        """Day-2 snapshot of every ledger (file-level, no Spark
        session): per-ledger live-delta count / bytes / rows / replay
        ledger. Alert on ``quarantine.rows > 0`` (guard violations
        routed aside, never folded) and on live deltas nearing
        ``compact_every`` (read fan-in ceiling)."""
        out = {led.name: getattr(self, f"_{led.writer}").metrics() for led in self._LEDGERS}
        out["pairs"] = self._pairs.metrics()
        out["quarantine"] = self._quarantine.metrics()
        return out


class BandedWaveIndex(WaveIndex):
    """A ``WaveIndex`` whose candidates are band-bucket collisions: the
    ``bands`` ledger holds (``_BAND``, bucket, doc) rows and the bucket
    cap applies (module docstring, step 4). Subclasses implement
    ``_verify``."""

    _BAND = "band"  # the band column name
    _CARRY: tuple = ()  # payload columns the candidate join carries (as <c>_a, <c>_b)

    def __init__(self, workdir: str, on_conflict: str, max_bucket: int | None):
        super().__init__(workdir, on_conflict)
        self.max_bucket = max_bucket
        key = [self._BAND, "bucket"]
        self._overflow = AppendDeltaState(f"{workdir}/bucket_overflow", keys=key)
        self._ovf_skip = AppendDeltaState(f"{workdir}/overflow_skipped", keys=key)

    def _verify(self, w: dict, cand: DataFrame, dead, cross: bool) -> DataFrame:
        """Exact scores for the candidate pairs; ``cross``: candidates
        include new×state pairs."""
        raise NotImplementedError

    def _overflow_set(self, spark: SparkSession) -> DataFrame | None:
        """Committed overflow buckets, deduplicated (a bucket is appended
        once — when it crosses the cap — but a crash-redo could legally
        append it twice; the distinct absorbs that)."""
        out = self._overflow.read(spark)
        return None if out is None else out.select(self._BAND, "bucket").distinct()

    def _cap_and_count(
        self, banded: DataFrame, prior: DataFrame | None, batch_id: int
    ) -> tuple[DataFrame, DataFrame | None]:
        """The bucket-cap protocol: accumulated distinct-doc occupancy
        over TOUCHED buckets only, newly-crossed buckets appended to the
        overflow ledger, the swallowed wave rows SUM-counted, and both
        sides anti-joined against the full set."""
        if self.max_bucket is None:
            return banded, prior
        spark = banded.sparkSession
        key = [self._BAND, "bucket"]
        occ_src = banded.select(*key, "doc")
        if prior is not None:
            occ_src = occ_src.unionByName(prior.select(*key, "doc"))
        over = (
            occ_src.groupBy(*key)
            .agg(F.count_distinct("doc").alias("n"))
            .filter(F.col("n") > self.max_bucket)
            .select(*key)
        )
        known = self._overflow_set(spark)
        if known is not None:
            over = over.join(known, key, "left_anti")
        # the overflow set is BOUNDED BY DESIGN (the loud exception
        # list, not data): checkpointing it costs one tiny job and lets
        # the healthy path — nothing overflowed, nothing known — skip
        # the ledger append and both exclusion joins outright
        new_over = self._pin(over)
        if not new_over.isEmpty():
            # one immutable delta — atomic manifest commit, replay-
            # skipped, never rewriting (or even reading) the recorded
            # set; the exclusion joins read committed executor-side
            # state, so overflow rows never pass through the driver
            self._overflow.append(
                _tag(new_over, batch_id),
                writer_id="overflow",
                batch_id=batch_id,
                agg_cols=_mins(["since_batch"]),
            )
            known = self._overflow_set(spark)
        if known is None:
            return banded, prior
        # quantify the divergence: the wave rows each overflowed bucket
        # swallows AFTER its crossing; appended only on the (degenerate)
        # overflow path — the clean path pays nothing
        skipped = self._pin(
            banded.join(F.broadcast(known), key, "left_semi")
            .groupBy(*key)
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        if not skipped.isEmpty():
            self._ovf_skip.append(
                skipped,
                writer_id="ovf_skip",
                batch_id=batch_id,
                agg_cols=[F.sum("n_rows").alias("n_rows")],
            )
        banded = banded.join(F.broadcast(known), key, "left_anti")
        if prior is not None:
            prior = prior.join(F.broadcast(known), key, "left_anti")
        return banded, prior

    def _band_candidates(self, banded: DataFrame, prior: DataFrame | None) -> DataFrame:
        """(id_a, id_b) bucket collisions: new×new within the wave,
        new×state across waves (disjoint sources — state never holds a
        wave doc, so the cross side's orientation is canonicalized with
        least/greatest)."""

        def same_bucket(o: str):
            return (F.col(f"a.{self._BAND}") == F.col(f"{o}.{self._BAND}")) & (
                F.col("a.bucket") == F.col(f"{o}.bucket")
            )

        def carry(o: str):
            return [F.col(f"a.{c}").alias(f"{c}_a") for c in self._CARRY] + [
                F.col(f"{o}.{c}").alias(f"{c}_b") for c in self._CARRY
            ]

        a = banded.alias("a")
        cand = a.join(
            banded.alias("b"), same_bucket("b") & (F.col("a.doc") < F.col("b.doc"))
        ).select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"), *carry("b"))
        if prior is not None:
            cross = a.join(
                prior.alias("p"), same_bucket("p") & (F.col("a.doc") != F.col("p.doc"))
            ).select(
                F.least("a.doc", "p.doc").alias("id_a"),
                F.greatest("a.doc", "p.doc").alias("id_b"),
                *carry("p"),
            )
            cand = cand.unionByName(cross)
        return cand

    def _wave_pairs(self, w: dict, batch_id: int, dead: DataFrame | None) -> DataFrame:
        """Join the wave's bands against state bands in the buckets the
        wave touches only (a semi-join prunes the scan; an update's dead
        docs' old bands are excluded — their new rows pair via the wave
        side), cap, and verify. Work ∝ wave docs × touched-bucket
        occupancy, independent of corpus age."""
        key = [self._BAND, "bucket"]
        touched = w["bands"].select(*key).distinct()
        prior = self._bands.read(w["bands"].sparkSession)
        if prior is not None:
            if dead is not None:
                prior = prior.join(F.broadcast(dead), "doc", "left_anti")
            prior = prior.join(F.broadcast(touched), key, "left_semi")
        # the bands ledger receives the capped rows
        w["bands"], prior = self._cap_and_count(w["bands"], prior, batch_id)
        cand = self._band_candidates(w["bands"], prior)
        return self._verify(w, cand, dead, prior is not None)

    def overflow_buckets(self, spark: SparkSession) -> DataFrame:
        """The loud ledger: buckets excluded from candidate joins."""
        out = self._overflow_set(spark)
        if out is None:
            return spark.createDataFrame([], f"{self._BAND} int, bucket long")
        return out

    def ops_metrics(self) -> dict:
        """``WaveIndex.ops_metrics`` plus the cap's ledgers: alert on
        ``overflow.rows > 0`` (recall deliberately traded in named
        buckets); ``overflow_rows_skipped`` is the total wave rows
        overflowed buckets swallowed AFTER their crossing — the number
        that decides whether survivors are worth re-ingesting into a
        fresh index (0 in any clean run)."""
        out = super().ops_metrics()
        out["overflow"] = self._overflow.metrics()
        out["overflow_rows_skipped"] = _sum_ledger_col(self._ovf_skip, "n_rows")
        return out
