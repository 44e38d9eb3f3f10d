"""Retraction-aware changelog emission (Flink ``toChangelogStream``).

The reference prints an *updating* query as a changelog of row kinds
(``WithStateTtlJob.java:90``: ``tableEnv.toChangelogStream(outerJoin)
.print()``): ``+I`` insert, ``-U`` update-before (retraction), ``+U``
update-after, ``-D`` delete. Round 1 mapped updating queries to Spark's
update/complete modes, which re-emit new versions but never retract old
ones — this module closes that last semantic gap.

Design: a changelog is the diff between successive *consistent
snapshots* of an updating query's result. ``changelog_ops`` computes
that diff as one full-outer join + one explode — fully distributed, no
driver loop. ``keep_latest_changelog_stream`` folds a micro-batch stream
through the transactional keep-latest state (streaming.txn_state). A
keep-latest batch can only insert or replace rows, so its ops come from
one left join of the batch's per-key winners against the touched
buckets' stored rows, written to a per-batch directory before the state
commits: exactly-once, and exactly the Flink sequence — a key's first
row is ``+I``; every overwrite is a ``-U``/``+U`` pair carrying the old
and new row. (A key eviction, ``-D``, only arises in a ``changelog_ops``
snapshot diff.)

Reference fixture (``WithStateTtlJob.java:62-77``): four rows for
iso='a' (capitals a,b,c,d) with ``primaryKey("iso")`` collapse to an
upsert history — changelog ``+I(a,a); -U(a,a) +U(a,b); -U(a,b) +U(a,c);
-U(a,c) +U(a,d)`` — reproduced bit-for-bit by
``tests/test_changelog.py``.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.operators.dedup import dedup_latest
from flink_playground_spark.sqltext import named_struct, quote, string
from flink_playground_spark.streaming.txn_state import TransactionalKeyState

OP_COL = "op"
BATCH_COL = "batch_id"


def changelog_ops(old: DataFrame, new: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Row-kind diff between two snapshots keyed by ``keys``.

    Emits ``(op, <row columns>)`` where op ∈ {+I, -U, +U, -D}: keys only
    in ``new`` → +I(new row); keys in both with any non-key column
    changed → -U(old row) and +U(new row); keys only in ``old`` →
    -D(old row). Unchanged keys emit nothing. One full-outer join, one
    explode — no driver-side iteration.
    """
    keys = list(keys)
    cols = new.columns
    payload = [c for c in cols if c not in keys]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *[F.col(k).alias(f"{tag}_{k}") for k in keys],
            F.struct(*payload).alias(f"{tag}_row"),
        )

    o, n = side(old, "o"), side(new, "n")
    cond = None
    for k in keys:
        c = o[f"o_{k}"].eqNullSafe(n[f"n_{k}"])
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")

    def entry(op: str, tag: str):
        return F.struct(
            F.lit(op).alias(OP_COL),
            *[F.col(f"{tag}_{k}").alias(k) for k in keys],
            F.col(f"{tag}_row").alias("__row"),
        )

    old_missing = F.col("o_row").isNull()
    new_missing = F.col("n_row").isNull()
    changed = ~F.col("o_row").eqNullSafe(F.col("n_row"))
    ops = j.filter(old_missing | new_missing | changed).select(
        F.explode(
            F.when(old_missing, F.array(entry("+I", "n")))
            .when(new_missing, F.array(entry("-D", "o")))
            .otherwise(F.array(entry("-U", "o"), entry("+U", "n")))
        ).alias("e")
    )
    return ops.select(
        F.col(f"e.{OP_COL}").alias(OP_COL),
        *[F.col(f"e.{k}").alias(k) for k in keys],
        *[F.col(f"e.__row.{c}").alias(c) for c in payload],
    )


def _replacements(
    old: DataFrame | None,
    winners: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """The batch's per-key ``winners`` that change the kept row, as
    ``(o, n)`` structs: ``o`` the stored row it replaces (null for a new
    key), ``n`` the winner. One left join against ``old``, the stored
    rows of the touched buckets; a winner replaces the stored row when
    it ranks higher by the ``struct(order, tiebreakers, rest)`` ordering
    ``dedup_latest`` keeps. A loser or an identical row is dropped.

    Expressions are SQL text (see ``sqltext``): one JVM call each."""
    cols = winners.columns
    order = [order_col, *tiebreakers]
    ranked = [*order, *[c for c in cols if c not in order]]

    def row(prefix: str, names: Sequence[str]) -> str:
        return named_struct((c, quote(prefix + c)) for c in names)

    new = f"{row('', cols)} AS n"
    if old is None:
        return winners.selectExpr(f"IF(false, {row('', cols)}, NULL) AS o", new)
    # stored rows under prefixed names: the join needs no aliases
    stored = old.selectExpr(
        *[f"{quote(c)} AS {quote('__o_' + c)}" for c in cols], "true AS __hit"
    )
    cond = " AND ".join(f"{quote(k)} <=> {quote('__o_' + k)}" for k in keys)
    return (
        winners.join(stored, F.expr(cond), "left")
        .filter(f"__hit IS NULL OR {row('', ranked)} > {row('__o_', ranked)}")
        .selectExpr(f"IF(__hit, {row('__o_', cols)}, NULL) AS o", new)
    )


def _read_ops(spark: SparkSession, out_path: str) -> DataFrame:
    """Every batch's ops under ``out_path/<writer>/b<batch>``."""
    return spark.read.option("recursiveFileLookup", "true").parquet(out_path)


def keep_latest_changelog_stream(
    stream: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
    n_buckets: int = 16,
    work_dir: str | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """Drain ``stream`` (availableNow) through keep-latest dedup and
    return the full retraction changelog ``(op, batch_id, <columns>)``.

    Per micro-batch: collapse the batch to its per-key winners (one
    shuffle, map-side combine), merge them into the transactional state
    (IO ∝ touched buckets) and, before the merge commits, write the
    batch's ops from one left join of the winners against the touched
    buckets' stored rows: a new key is ``+I``, a winner that beats the
    stored row is ``-U(old)`` ``+U(new)``. A later row that LOSES to the
    current state winner emits nothing — matching Flink's Deduplicate
    changelog, which only speaks when the kept row changes.

    Each batch's ops land in their own directory (``ops/<writer>/b<batch>``,
    overwritten) ahead of the state commit, so the log is exactly-once:
    a replayed batch is either skipped by the state's writers ledger or
    rewrites identical ops. Passing a stable ``work_dir`` with
    ``checkpoint=True`` makes the log restartable: the stream checkpoint
    tracks consumed source files, the state reattaches under a stable
    writer id, and a relaunch adds ops only for newly-arrived data,
    continuing the batch numbering — the emitted changelog equals the
    uninterrupted run's. Without a checkpoint every call is a new writer,
    so a second run into the same ``work_dir`` is new data, never a
    replay.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    spark = stream.sparkSession
    work = work_dir or tempfile.mkdtemp(prefix="fps_changelog_")
    state = TransactionalKeyState(f"{work}/state", keys, n_buckets)
    writer = "changelog" if checkpoint else f"changelog-{uuid.uuid4().hex}"
    out_path = f"{work}/ops"
    emitted = {"any": os.path.isdir(out_path)}

    def fold(batch: DataFrame, epoch_id: int) -> None:
        def write_ops(old: DataFrame | None, wave: DataFrame) -> None:
            rep = _replacements(old, wave, keys, order_col, tiebreakers)
            out = [*keys, *[c for c in wave.columns if c not in keys]]

            def entry(op: str, side: str) -> str:
                return named_struct(
                    [
                        (OP_COL, string(op)),
                        *[(c, f"{side}.{quote(c)}") for c in out],
                        (BATCH_COL, f"CAST({int(epoch_id)} AS BIGINT)"),
                    ]
                )

            ops = rep.selectExpr(
                f"inline(IF(o IS NULL, array({entry('+I', 'n')}), "
                f"array({entry('-U', 'o')}, {entry('+U', 'n')})))"
            )
            ops.write.mode("overwrite").parquet(f"{out_path}/{writer}/b{int(epoch_id)}")

        winners = dedup_latest(batch, keys, order_col, tiebreakers)
        state.merge_keep_latest(
            writer, int(epoch_id), winners, order_col, tiebreakers, on_write=write_ops
        )
        emitted["any"] = True

    w = stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", f"{work}/ckpt")
    q = w.start()
    q.awaitTermination()
    if not emitted["any"]:
        raise RuntimeError("stream produced no data")
    return _read_ops(spark, out_path)


def outer_join_changelog_stream(
    probe: DataFrame,
    dim_stream: DataFrame,
    on: Sequence[tuple[str, str]],
    dim_keys: Sequence[str],
    dim_order_col: str,
    dim_tiebreakers: Sequence[str] = (),
    probe_keys: Sequence[str] | None = None,
    n_buckets: int = 16,
    work_dir: str | None = None,
) -> DataFrame:
    """Changelog of ``probe ⟕ latest(dim)`` as the dim stream arrives —
    the exact query the reference prints (``WithStateTtlJob.java:79-90``:
    LEFT OUTER JOIN against the PK'd upsert view, ``toChangelogStream``).

    Batch 0 of the log is the probe's arrival: ``+I(p, NULL…)`` for every
    probe row (no dim matched yet — Flink's outer join emits exactly
    these). Each dim micro-batch then updates only the probe rows whose
    join key's dim row changed: ``-U(p, old_dim)`` / ``+U(p, new_dim)``
    pairs — the first dim row for a key retracts the null-extended row,
    later upserts retract the previous join row. Probe rows whose keys
    never arrive keep their ``+I(p, NULL…)`` — "four rows for 'a'" stays
    one row per probe key throughout.

    ``probe_keys`` (default: first ``on`` left column) must uniquely
    identify probe rows — they key the snapshot diff.
    """
    spark = probe.sparkSession
    probe_keys = list(probe_keys or [on[0][0]])
    work = work_dir or tempfile.mkdtemp(prefix="fps_ojlog_")
    state = TransactionalKeyState(f"{work}/state", list(dim_keys), n_buckets)
    writer = f"ojlog-{uuid.uuid4().hex}"
    out_path = f"{work}/ops"
    # probe is re-joined every batch against only the changed dim rows;
    # pin it so each batch doesn't re-run the probe's upstream plan
    probe = probe.localCheckpoint(eager=True)
    dim_schema: dict[str, object] = {}

    def joined(p: DataFrame, dim_rows: DataFrame) -> DataFrame:
        # dim payload columns colliding with probe names get a right_
        # prefix (the as_of_join convention) so the snapshot schema is
        # unambiguous
        rkeys = [r for _, r in on]
        payload = [c for c in dim_rows.columns if c not in rkeys]
        renames = {c: (f"right_{c}" if c in p.columns else c) for c in payload}
        # alias-qualified resolution: `affected` carries dim lineage via
        # the changed-keys semi join, so bare column refs are ambiguous
        pa, da = p.alias("__probe"), dim_rows.alias("__dim")
        cond = None
        for l, r in on:
            c = F.col(f"__probe.{l}") == F.col(f"__dim.{r}")
            cond = c if cond is None else (cond & c)
        out = pa.join(da, cond, "left_outer")
        keep = [F.col(f"__probe.{c}") for c in p.columns] + [
            F.col(f"__dim.{c}").alias(renames[c]) for c in payload
        ]
        return out.select(*keep)

    def fold(batch: DataFrame, epoch_id: int) -> None:
        dim_schema.setdefault("schema", batch.schema)

        def write_ops(old: DataFrame | None, wave: DataFrame) -> None:
            rep = _replacements(old, wave, dim_keys, dim_order_col, dim_tiebreakers)
            before = rep.filter(F.col("o").isNotNull()).select("o.*")
            after = rep.select("n.*")
            # only probe rows whose join key's kept dim row changed;
            # restrict the before/after snapshots to them
            changed = after.select(*[F.col(r).alias(l) for l, r in on])
            affected = probe.join(changed, [l for l, _ in on], "left_semi")
            ops = changelog_ops(
                joined(affected, before), joined(affected, after), probe_keys
            ).withColumn(BATCH_COL, F.lit(int(epoch_id) + 1).cast("long"))
            ops.write.mode("overwrite").parquet(f"{out_path}/{writer}/b{int(epoch_id)}")

        winners = dedup_latest(batch, dim_keys, dim_order_col, dim_tiebreakers)
        state.merge_keep_latest(
            writer, int(epoch_id), winners, dim_order_col, dim_tiebreakers,
            on_write=write_ops,
        )

    q = dim_stream.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
    q.awaitTermination()
    if "schema" not in dim_schema:
        raise RuntimeError("dim stream produced no data")
    # batch 0: the probe arrival — every probe row null-extended
    empty_dim = spark.createDataFrame([], dim_schema["schema"])
    arrival = (
        joined(probe, empty_dim)
        .select(F.lit("+I").alias(OP_COL), "*")
        .withColumn(BATCH_COL, F.lit(0).cast("long"))
    )
    log = _read_ops(spark, out_path)
    return arrival.select(*log.columns).unionByName(log)
