"""One commit per wave for the folds on the state directories of
streaming/txn_state.py: every store a wave touches — and its drift row
or high-water mark, or the compaction its append triggers — is a ledger
of ONE state directory, so a wave lands with one ``manifest.json``
replace, a crash anywhere inside that commit leaves the manifest
byte-identical, and redelivery converges to the uncrashed run. The
maintenance verbs (retention ``prune``, ``rebucket``) commit through
the same door, and every mutation verb of the three stores makes
exactly one replace, or none when it changes nothing."""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.sources.tables import load_table

BASE = dt.datetime(2024, 5, 1)
TERMS = ["vector", "stream"]


@dataclass
class Fold:
    make: Callable  # path -> fold
    waves: Callable  # (spark, sf_dir) -> list of wave DataFrames
    ingest: Callable  # (fold, wave, wave number) -> bool | None
    outcome: Callable  # (spark, sf_dir, fold) -> (exact, approximate floats)
    crash_wave: int  # the wave whose commit the crash hits
    replayable: bool  # ingest takes the wave number as its batch id


def _docs(spark, sf):
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 120)
    return [docs.filter(F.col("doc_id") % 2 == w) for w in range(2)]


def _vectors(spark, sf):
    rows = load_table(spark, sf, "embeddings")
    return [rows.filter(F.col("vec_id") % 2 == w) for w in range(2)]


def _late_waves(spark, sf):
    return [
        spark.createDataFrame(
            [(i, BASE + dt.timedelta(minutes=m), k) for i, m, k in rows],
            "event_id long, ts timestamp_ntz, k string",
        )
        for rows in (
            [(1, 5, "a"), (2, 70, "a")],
            [(3, 200, "a"), (4, 15, "a")],
            [(5, 100, "b"), (6, 250, "a")],
        )
    ]


def _event_waves(spark, sf):
    events = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    return [events.filter(F.col("event_id") % 8 == w) for w in range(8)]


def _search(path):
    from flink_playground_spark.streaming.search_index import StreamingSearchIndex

    return StreamingSearchIndex(path, "doc_id", "text")


def _lm(path):
    from flink_playground_spark.streaming.lm import StreamingBigramLM

    return StreamingBigramLM(path)


def _drift(path):
    from flink_playground_spark.streaming.drift import StreamingDriftMonitor

    return StreamingDriftMonitor(path)


def _ivf(path):
    from flink_playground_spark.streaming.ann_index import StreamingIVFIndex

    return StreamingIVFIndex(path, n_centroids=8, kmeans_iters=1)


def _pq(path):
    from flink_playground_spark.streaming.pq_index import StreamingPQIndex

    return StreamingPQIndex(path)


def _late(path):
    from flink_playground_spark.streaming.late_data import LateDataWindowCounts

    return LateDataWindowCounts(path, keys=("k",), window="1 hour", delay_s=0)


def _topn(path):
    from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

    return StreamingWindowTopN(path, "user_id", "ts", "1 hour")


def _drift_rows(spark, idx, state):
    report = idx.drift_report(spark).select("wave", "phase", "n", idx.drift.metric)
    drift = sorted(tuple(r) for r in report.collect())
    cells = sorted(tuple(r) for r in getattr(idx, state).read(spark).collect())
    return (cells, [r[:3] for r in drift]), [r[3] for r in drift]


FOLDS = {
    "search": Fold(
        _search,
        _docs,
        lambda idx, w, i: idx.ingest(w, i),
        lambda spark, sf, idx: (sorted(tuple(r) for r in idx.query(spark, TERMS, k=10).collect()), []),
        1,
        True,
    ),
    "lm": Fold(
        _lm,
        _docs,
        lambda idx, w, i: idx.ingest(w, i, "doc_id", "text"),
        lambda spark, sf, idx: (
            sorted(tuple(r) for r in idx.score(_docs(spark, sf)[0], "doc_id", "text").collect()),
            [],
        ),
        1,
        True,
    ),
    "drift": Fold(
        _drift,
        lambda spark, sf: [
            load_table(spark, sf, "events").filter(F.col("event_id") % 3 == w).select("value")
            for w in range(3)
        ],
        lambda idx, w, i: idx.ingest(w, i),
        lambda spark, sf, idx: (sorted(tuple(r) for r in idx.psi(spark).collect()), []),
        1,
        True,
    ),
    # the first wave trains the geometry: a crash in its commit must
    # leave the redelivered wave recorded as "train"
    "ivf": Fold(
        _ivf, _vectors, lambda idx, w, i: idx.ingest(w), lambda s, sf, i: _drift_rows(s, i, "cells"), 0, False
    ),
    "pq": Fold(
        _pq, _vectors, lambda idx, w, i: idx.ingest(w), lambda s, sf, i: _drift_rows(s, i, "codes"), 0, False
    ),
    "late": Fold(
        _late,
        _late_waves,
        lambda idx, w, i: idx.apply_batch(w, i),
        lambda spark, sf, idx: (
            (
                sorted(tuple(r) for r in idx.read_counts(spark).collect()),
                sorted(tuple(r) for r in idx.read_side(spark).collect()),
            ),
            [],
        ),
        1,
        True,
    ),
    # the 8th append reaches compact_every: the append and the
    # compaction it triggers are one commit
    "topn": Fold(
        _topn,
        _event_waves,
        lambda op, w, i: op.ingest(w, i),
        lambda spark, sf, op: (sorted(tuple(r) for r in op.topn(spark, 3).collect()), []),
        7,
        True,
    ),
}
POINTS = {
    "search": ["second_bucket_write", "manifest"],
    "lm": ["second_bucket_write", "manifest"],
    "drift": ["bucket_write", "manifest"],
    "ivf": ["bucket_write", "record", "manifest"],
    "pq": ["bucket_write", "record", "manifest"],
    "late": ["bucket_write", "record", "manifest"],
    "topn": ["second_delta", "manifest"],
}


@pytest.fixture(scope="module")
def uncrashed(spark, sf_dir, tmp_path_factory):
    """Each fold's outcome after all its waves, computed once."""
    done = {}

    def run(name):
        if name not in done:
            fold = FOLDS[name]
            idx = fold.make(str(tmp_path_factory.mktemp(f"clean_{name}")))
            for i, wave in enumerate(fold.waves(spark, sf_dir)):
                fold.ingest(idx, wave, i)
            done[name] = fold.outcome(spark, sf_dir, idx)
        return done[name]

    return run


def _count_replaces(monkeypatch) -> list:
    """The ``manifest.json`` replaces from here on, one entry each: True
    when it ran inside ``commit_all``, the directory's one door."""
    from flink_playground_spark.streaming.txn_state import DirLedger

    real, door, seen, inside = os.replace, DirLedger.commit_all, [], []

    def counting(src, dst):
        if str(dst).endswith("/manifest.json"):
            seen.append(bool(inside))
        return real(src, dst)

    def commit_all(*args, **kwargs):
        inside.append(True)
        try:
            return door(*args, **kwargs)
        finally:
            inside.pop()

    monkeypatch.setattr(os, "replace", counting)
    monkeypatch.setattr(DirLedger, "commit_all", staticmethod(commit_all))
    return seen


@pytest.mark.parametrize(
    "name,point", [(name, point) for name, points in POINTS.items() for point in points]
)
def test_crash_inside_one_commit_redelivers_cleanly(
    spark, sf_dir, tmp_path, crash_at, monkeypatch, uncrashed, name, point
):
    """A fault inside a wave's one commit — at a TransactionalKeyState
    bucket write (the second store's, where a wave writes two), at the
    drift row or high-water mark, at the compaction an append triggers
    (its second delta write), or at the manifest replace — leaves
    ``manifest.json`` byte-identical. A restarted fold re-ingests the
    wave and the rest with exactly one manifest replace each, a
    replayed wave performs none, and the outcome equals the uncrashed
    run's."""
    fold = FOLDS[name]
    waves = fold.waves(spark, sf_dir)
    k = fold.crash_wave
    idx = fold.make(str(tmp_path))
    for i in range(k):
        fold.ingest(idx, waves[i], i)
    manifest = tmp_path / "manifest.json"
    before = manifest.read_bytes() if manifest.exists() else None

    crash_at(point)
    with pytest.raises(RuntimeError, match="simulated crash"):
        fold.ingest(idx, waves[k], k)
    monkeypatch.undo()
    assert (manifest.read_bytes() if manifest.exists() else None) == before

    idx = fold.make(str(tmp_path))  # the restarted process reattaches
    replaces = _count_replaces(monkeypatch)
    for i in range(k, len(waves)):
        replaces.clear()
        fold.ingest(idx, waves[i], i)
        assert len(replaces) == 1, (i, replaces)
    if fold.replayable:
        replaces.clear()
        assert not fold.ingest(idx, waves[-1], len(waves) - 1)
        assert replaces == []
    monkeypatch.undo()

    (got, got_f), (want, want_f) = fold.outcome(spark, sf_dir, idx), uncrashed(name)
    assert got == want
    assert got_f == pytest.approx(want_f, rel=1e-12)
    if name in ("ivf", "pq"):
        assert got[1][0] == (0, "train", 250)
    if name == "search":
        from flink_playground_spark.functions.tfidf import bm25_topk

        docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
        batch = bm25_topk(docs, "doc_id", "text", TERMS, k=10).collect()
        assert got == sorted(tuple(r) for r in batch)


def _view(path):
    from flink_playground_spark.streaming.ivm import RetractableAggView

    return RetractableAggView(path, ["g"], ["v"])


def _retract(spark, view):
    """40 groups inserted, every third one deleted again: 14 zero-count
    groups for retention to drop."""
    ins = [("+I", f"g{i}", float(i)) for i in range(40)]
    dels = [("-D", f"g{i}", float(i)) for i in range(0, 40, 3)]
    for b, rows in enumerate((ins, dels)):
        view.apply_batch(spark.createDataFrame(rows, "op string, g string, v double"), b)


def _keyed(path):
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    return TransactionalKeyState(path, ["k"])


def _fill_keyed(spark, st):
    rows = spark.range(40).selectExpr("CAST(id AS STRING) AS k", "id AS n")
    st.merge_aggregate("w", 0, rows, [F.sum("n").alias("n")])


def _count_hours(spark, op):
    """Per-user counts over three hourly windows, in two waves."""
    for b in range(2):
        rows = [(b * 100 + i, BASE + dt.timedelta(minutes=7 * i + b), i % 5) for i in range(26)]
        op.ingest(spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, user_id long"), b)


@dataclass
class Verb:
    attach: Callable  # path -> the store (or the fold owning it)
    fill: Callable  # (spark, store) -> None: commits the state the verb acts on
    run: Callable  # (spark, store) -> the verb's result
    outcome: Callable  # (spark, store) -> the state the verb leaves


VERBS = {
    # TransactionalKeyState.prune, as retention calls it
    "tks_prune": Verb(
        _view,
        _retract,
        lambda spark, view: view.prune_tombstones(spark),
        lambda spark, view: sorted(tuple(r) for r in view.state.read(spark).collect()),
    ),
    "tks_rebucket": Verb(
        _keyed,
        _fill_keyed,
        lambda spark, st: st.rebucket(spark, 4),
        lambda spark, st: (st.n_buckets, sorted(tuple(r) for r in st.read(spark).collect())),
    ),
    # AppendDeltaState.prune, as window retention calls it
    "ads_prune": Verb(
        _topn,
        _count_hours,
        lambda spark, op: op.expire(spark, BASE + dt.timedelta(hours=2)),
        lambda spark, op: sorted(tuple(r) for r in op.topn(spark, 3).collect()),
    ),
}
VERB_POINTS = {
    "tks_prune": ["bucket_write", "manifest"],
    "tks_rebucket": ["bucket_write", "manifest"],
    "ads_prune": ["manifest"],
}


@pytest.mark.parametrize(
    "name,point", [(name, point) for name, points in VERB_POINTS.items() for point in points]
)
def test_crash_inside_a_maintenance_commit_leaves_it_whole(
    spark, tmp_path, crash_at, monkeypatch, name, point
):
    """Retention and rescale commit through ``commit_all`` like every
    wave: a fault at their bucket write or manifest replace leaves
    ``manifest.json`` byte-identical, re-running the verb on a
    reattached store makes exactly one manifest replace, and its result
    and the state it leaves equal an uncrashed run's."""
    verb = VERBS[name]
    clean = verb.attach(str(tmp_path / "clean"))
    verb.fill(spark, clean)
    want = verb.run(spark, clean), verb.outcome(spark, clean)
    assert want[0]  # the verb has something to do

    path = tmp_path / "crash"
    store = verb.attach(str(path))
    verb.fill(spark, store)
    manifest = (path / "manifest.json").read_bytes()
    crash_at(point)
    with pytest.raises(RuntimeError, match="simulated crash"):
        verb.run(spark, store)
    monkeypatch.undo()
    assert (path / "manifest.json").read_bytes() == manifest

    store = verb.attach(str(path))  # the restarted process reattaches
    replaces = _count_replaces(monkeypatch)
    got = verb.run(spark, store)
    assert replaces == [True]
    monkeypatch.undo()
    assert (got, verb.outcome(spark, store)) == want


def test_every_mutation_verb_replaces_the_manifest_once(spark, tmp_path, monkeypatch):
    """Each public mutation verb of the three stores lands with exactly
    one ``manifest.json`` replace, made inside ``commit_all`` — the
    merges, ``append``, ``upsert``, both ``prune``s, ``rebucket`` and a
    ``commit_all`` of a ``ManifestRecords`` row — and a write that
    changes nothing (a replayed batch, a prune matching nothing, a
    rebucket to the current count) makes none."""
    from flink_playground_spark.streaming.txn_state import (
        AppendDeltaState,
        ManifestRecords,
        TransactionalKeyState,
    )

    rows = spark.createDataFrame([("a", 1, "I"), ("b", 2, "I")], "k string, n long, op string")
    fold = [F.sum("n").alias("n"), F.max("op").alias("op")]
    agg, latest, cdc, moved = (
        TransactionalKeyState(str(tmp_path / "tks"), ["k"], ledger=name)
        for name in ("agg", "latest", "cdc", "moved")
    )
    ads = AppendDeltaState(str(tmp_path / "ads"), ["k"], tomb_match=[["k"]])
    rec = ManifestRecords(str(tmp_path / "tks"), ledger="rows")
    verbs = [
        ("merge_aggregate", lambda: agg.merge_aggregate("w", 0, rows, fold), 1),
        ("merge_aggregate, replayed", lambda: agg.merge_aggregate("w", 0, rows, fold), 0),
        # the ledgers share one directory, hence one replay mark per writer
        ("merge_keep_latest", lambda: latest.merge_keep_latest("l", 0, rows, "n"), 1),
        ("merge_changes", lambda: cdc.merge_changes("c", 0, rows, "op", "n"), 1),
        ("merge_transform", lambda: moved.merge_transform("t", 0, rows, lambda b, c: b), 1),
        ("tks prune", lambda: agg.prune(spark, F.col("k") == "a"), 1),
        ("tks prune, no match", lambda: agg.prune(spark, F.col("k") == "z"), 0),
        ("rebucket", lambda: agg.rebucket(spark, 4), 1),
        ("rebucket, same count", lambda: agg.rebucket(spark, 4), 0),
        ("commit_all record", lambda: ManifestRecords.commit_all([(rec, [1])], "r", 0), 1),
        ("commit_all record, replayed", lambda: ManifestRecords.commit_all([(rec, [1])], "r", 0), 0),
        ("append", lambda: ads.append(rows, "w", 0), 1),
        ("append, replayed", lambda: ads.append(rows, "w", 0), 0),
        ("upsert", lambda: ads.upsert(rows.filter("k = 'a'").select("k"), rows, "w", 1), 1),
        ("ads prune", lambda: ads.prune(spark, F.col("k") == "b"), 1),
        ("ads prune, no match", lambda: ads.prune(spark, F.col("k") == "z"), 0),
    ]
    replaces = _count_replaces(monkeypatch)
    seen = []
    for label, run, _ in verbs:
        replaces.clear()
        run()
        seen.append((label, replaces[:]))
    assert seen == [(label, [True] * n) for label, _, n in verbs]
