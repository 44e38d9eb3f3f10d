"""The shared per-wave protocol (streaming/wave_index.py) on all four
streaming near-dup index families, on a handful of docs: a replayed
wave writes nothing, a cross-wave re-delivery raises or is quarantined,
and a crash inside a wave's one commit redelivers to the uninterrupted
result."""

from __future__ import annotations

import os

import pytest

from flink_playground_spark.streaming.cosine_index import StreamingCosineLSHIndex
from flink_playground_spark.streaming.frameset_index import StreamingFrameSetIndex
from flink_playground_spark.streaming.minhash_index import StreamingMinHashIndex
from flink_playground_spark.streaming.phash_index import StreamingPhashIndex
from flink_playground_spark.streaming.wave_index import OneWavePerDocViolation


def _rows(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


def _frames(spark, sets):
    return _rows(
        spark, "doc long, shingle long", [(d, s) for d, shingles in sets for s in shingles]
    )


# per family: (class, wave builder, payload a, payload b); docs sharing
# a payload pair, docs with different payloads do not
FAMILIES = {
    "phash": (
        StreamingPhashIndex,
        lambda spark, rows: _rows(spark, "doc long, sh long", rows),
        0x0F0F,
        1 << 40,
    ),
    "minhash": (
        StreamingMinHashIndex,
        lambda spark, rows: _rows(spark, "doc_id long, text string", rows),
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different content about spark streaming state ledgers here",
    ),
    "cosine": (
        StreamingCosineLSHIndex,
        lambda spark, rows: _rows(spark, "vec_id long, embedding array<float>", rows),
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
    ),
    "frameset": (StreamingFrameSetIndex, _frames, list(range(1, 11)), list(range(50, 60))),
}


def _waves(family):
    _, _, a, b = FAMILIES[family]
    # wave 2 re-delivers doc 1 (committed in wave 0) beside a fresh doc 5
    return [[(1, a), (2, a)], [(3, a), (4, b)], [(1, a), (5, b)]]


AFTER_TWO = {(1, 2), (1, 3), (2, 3)}


def _pairs(spark, idx):
    return {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()}


def _listing(root):
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)))
        for d, _, files in os.walk(root)
        for f in files
    )


# the crash points of a wave's one commit; at the replace (the commit
# point itself) a family's test keeps its bare id
CRASHES = [
    pytest.param(family, point, id=family if point == "manifest" else f"{family}-{point}")
    for family in sorted(FAMILIES)
    for point in ("manifest", "second_delta")
]


@pytest.mark.parametrize("family,point", CRASHES)
def test_replay_guard_and_crash_at_commit_point(
    spark, tmp_path, crash_at, monkeypatch, family, point
):
    """Replaying a committed batch_id leaves the ledger directory
    listing unchanged; re-delivering a committed doc under a new
    batch_id raises under on_conflict="error". A wave that dies inside
    its one commit (at the second ledger's delta write, or at the
    manifest replace) leaves the manifest byte-identical and redelivers
    to the uninterrupted run's pairs and ledger rows, quarantine at 0;
    under "quarantine" the re-delivery is routed aside as one row while
    the rest of its wave still folds. No fold, committed or raised,
    leaves a persisted RDD (its checkpoints) behind."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    held = set(persisted().keys())
    cls, mk, _, _ = FAMILIES[family]
    waves = _waves(family)
    ref = cls(str(tmp_path / "ref"))
    for b in (0, 1):
        ref.ingest(mk(spark, waves[b]), batch_id=b)
    assert _pairs(spark, ref) == AFTER_TWO
    before = _listing(str(tmp_path / "ref"))
    ref.ingest(mk(spark, waves[1]), batch_id=1)
    assert _listing(str(tmp_path / "ref")) == before
    with pytest.raises(OneWavePerDocViolation, match=r"\[1\]"):
        ref.ingest(mk(spark, waves[2]), batch_id=2)
    assert not ref.committed(2)

    idx = cls(str(tmp_path / "crash"), on_conflict="quarantine")
    idx.ingest(mk(spark, waves[0]), batch_id=0)
    manifest = (tmp_path / "crash" / "manifest.json").read_bytes()
    crash_at(point)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.ingest(mk(spark, waves[1]), batch_id=1)
    monkeypatch.undo()
    assert not idx.committed(1)
    assert (tmp_path / "crash" / "manifest.json").read_bytes() == manifest
    idx.ingest(mk(spark, waves[1]), batch_id=1)  # redelivery
    assert idx.committed(1)
    assert _pairs(spark, idx) == AFTER_TWO
    rows = lambda i: {k: v["rows"] for k, v in i.ops_metrics().items() if isinstance(v, dict)}
    assert rows(idx) == rows(ref)
    assert rows(idx)["quarantine"] == 0
    idx.ingest(mk(spark, waves[2]), batch_id=2)
    assert idx.ops_metrics()["quarantine"]["rows"] == 1
    assert _pairs(spark, idx) == AFTER_TWO | {(4, 5)}
    assert set(persisted().keys()) <= held
