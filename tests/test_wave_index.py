"""The shared per-wave protocol (streaming/wave_index.py) on all four
streaming near-dup index families, on a handful of docs: a replayed
wave writes nothing, a cross-wave re-delivery raises or is quarantined,
and a crash at the commit point redelivers to the uninterrupted
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


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_replay_guard_and_crash_at_commit_point(spark, tmp_path, family):
    """Replaying a committed batch_id leaves the ledger directory
    listing unchanged; re-delivering a committed doc under a new
    batch_id raises under on_conflict="error". A wave whose
    commit-point write raises (every other ledger of the wave already
    committed) redelivers to the uninterrupted run's pairs and ledger
    rows, its own crash remnants never making the guard self-flag;
    under "quarantine" the re-delivery is routed aside as one row while
    the rest of its wave still folds."""
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
    commit = idx._commit_ledger()

    def dies_at_commit(*a, **k):
        raise RuntimeError("simulated crash at the wave's commit point")

    commit.append = dies_at_commit
    with pytest.raises(RuntimeError, match="commit point"):
        idx.ingest(mk(spark, waves[1]), batch_id=1)
    del commit.append
    assert not idx.committed(1)
    idx.ingest(mk(spark, waves[1]), batch_id=1)  # redelivery
    assert idx.committed(1)
    assert _pairs(spark, idx) == AFTER_TWO
    rows = lambda i: {k: v["rows"] for k, v in i.ops_metrics().items() if isinstance(v, dict)}
    assert rows(idx) == rows(ref)  # quarantine included: no self-flag
    idx.ingest(mk(spark, waves[2]), batch_id=2)
    assert idx.ops_metrics()["quarantine"]["rows"] == 1
    assert _pairs(spark, idx) == AFTER_TWO | {(4, 5)}
