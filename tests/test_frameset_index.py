"""StreamingFrameSetIndex contracts: drained == batch, exactly-once
replay, append-only per-wave write IO — the video member of the
streaming multimodal dedup family (mirrors test_phash_index.py)."""

from __future__ import annotations

import tempfile
from functools import partial

from flink_playground_spark.streaming.frameset_index import StreamingFrameSetIndex
from flink_playground_spark.streaming.wave_index import state_bytes as ledger_bytes

state_bytes = partial(ledger_bytes, ledger="grams")


def _grams(spark, sets):
    rows = [(doc, sh) for doc, shingles in sets for sh in shingles]
    return spark.createDataFrame(rows, "doc long, shingle long")


def test_drain_equals_batch_and_replay_skipped(spark):
    """3 waves of frame-hash sets drain to exactly the exact-Jaccard
    pair set at t=0.8, each pair once, in the wave of its later member;
    re-delivering a wave (same batch_id) changes nothing. Planted
    ground truth: J(1,2)=1.0, J(1,4)=J(2,4)=9/11≈0.818 (pairs),
    J(·,3)=8/12≈0.667 (pruned)."""
    a = list(range(1, 11))             # doc 1: {1..10}
    b = list(range(1, 11))             # doc 2: identical
    c = list(range(1, 9)) + [11, 12]   # doc 3: J=8/12 < 0.8
    d = list(range(1, 10)) + [13]      # doc 4: J=9/11 >= 0.8
    waves = [[(1, a)], [(2, b), (3, c)], [(4, d)]]

    work = tempfile.mkdtemp(prefix="fps_fsidx_t_")
    idx = StreamingFrameSetIndex(work, threshold=0.8)
    seen = []
    for w, wave in enumerate(waves):
        idx.ingest(_grams(spark, wave), batch_id=w)
        seen.append({(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()})
    assert seen[0] == set()
    assert seen[1] == {(1, 2)}
    drained = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in idx.pairs(spark).collect()
    }
    assert drained == {(1, 2): 1.0, (1, 4): 0.818182, (2, 4): 0.818182}, drained
    # at-least-once redelivery: same batch_id is skipped before any write
    before = state_bytes(work)
    idx.ingest(_grams(spark, waves[1]), batch_id=1)
    assert state_bytes(work) == before
    assert {
        (r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()
    } == set(drained)


def test_per_wave_write_io_tracks_wave_rows(spark):
    """Gram-state bytes written per wave are ∝ the wave's rows (append-
    only deltas) — a 1-doc wave after a 40-doc wave writes a sliver,
    never a rewrite of the accumulated state."""
    work = tempfile.mkdtemp(prefix="fps_fsidx_io_")
    idx = StreamingFrameSetIndex(work)
    big = [(i, [i * 100 + j for j in range(16)]) for i in range(40)]
    idx.ingest(_grams(spark, big), batch_id=0)
    after_big = state_bytes(work)
    idx.ingest(_grams(spark, [(1000, list(range(7_000, 7_016)))]), batch_id=1)
    delta = state_bytes(work) - after_big
    assert delta > 0
    assert delta < after_big / 2, (delta, after_big)


def test_forget_removes_cohort_and_metrics_report(spark):
    """Retention on the video index: forgetting a title drops its gram
    rows and the pairs referencing it; ops_metrics reflects the shrink;
    the replayed original wave stays skipped."""
    base = list(range(1, 11))
    idx = StreamingFrameSetIndex(tempfile.mkdtemp(prefix="fps_fsidx_fg_"))
    idx.ingest(_grams(spark, [(1, base), (2, base)]), batch_id=0)
    idx.ingest(_grams(spark, [(3, base)]), batch_id=1)
    assert {
        (r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()
    } == {(1, 2), (1, 3), (2, 3)}
    stats = idx.forget(spark, [2])
    assert stats == {"grams_removed": 10, "pairs_removed": 2}, stats
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(1, 3)}
    m = idx.ops_metrics()
    assert m["grams"]["rows"] == 20 and m["pairs"]["rows"] == 1
    idx.ingest(_grams(spark, [(1, base), (2, base)]), batch_id=0)  # replay
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(1, 3)}


def test_common_shingle_across_waves_still_found(spark):
    """The streaming-stable VALUE-order prefix must stay complete when
    the discriminating shingle is globally common (the case rarest-first
    ordering pushes out of prefixes): many docs share shingle 1; a later
    wave's near-identical copy of an early doc must still pair with it
    across state."""
    base = [1, 2, 3, 4, 5]
    noise = [(100 + i, [1, 1000 + 10 * i, 2000 + 10 * i, 3000 + 10 * i]) for i in range(8)]
    idx = StreamingFrameSetIndex(
        tempfile.mkdtemp(prefix="fps_fsidx_cm_"), threshold=0.8
    )
    idx.ingest(_grams(spark, [(1, base)] + noise), batch_id=0)
    idx.ingest(_grams(spark, [(2, base)]), batch_id=1)  # exact copy, later wave
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in idx.pairs(spark).collect()}
    assert pairs == {(1, 2): 1.0}, pairs


def test_one_wave_per_doc_violation_raises_loudly(spark):
    """The one-wave-per-doc precondition is ENFORCED: a doc whose
    shingles arrive in a second wave — which would write two
    conflicting (n_sh, rk) ledger generations and min-fold them into a
    quietly wrong Jaccard — raises OneWavePerDocViolation, and nothing
    from the refused wave commits."""
    import pytest

    from flink_playground_spark.streaming.phash_index import OneWavePerDocViolation

    idx = StreamingFrameSetIndex(tempfile.mkdtemp(prefix="fps_fsidx_v_"))
    full = list(range(1, 11))
    idx.ingest(_grams(spark, [(1, full[:5])]), batch_id=0)  # first half
    with pytest.raises(OneWavePerDocViolation, match=r"\[1\]"):
        idx.ingest(_grams(spark, [(1, full[5:]), (2, full)]), batch_id=1)
    assert idx.pairs(spark).count() == 0
    assert not idx.committed(1)


def test_one_wave_per_doc_quarantine_routes_and_survivors_proceed(spark):
    """on_conflict='quarantine': the split-delivery doc is routed to the
    quarantine ledger (ops_metrics surfaces it) and the clean docs of
    the wave still pair correctly. Before the guard this sequence
    min-folded doc 1's two (n_sh, rk) generations — J(1,2) would have
    been computed against a corrupted signature."""
    idx = StreamingFrameSetIndex(
        tempfile.mkdtemp(prefix="fps_fsidx_vq_"), on_conflict="quarantine"
    )
    full = list(range(1, 11))
    idx.ingest(_grams(spark, [(1, full[:5]), (3, full)]), batch_id=0)
    idx.ingest(_grams(spark, [(1, full[5:]), (2, full)]), batch_id=1)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in idx.pairs(spark).collect()}
    # doc 2 pairs with the CLEAN doc 3 only; doc 1's fragments never fold
    assert pairs == {(2, 3): 1.0}, pairs
    m = idx.ops_metrics()
    assert m["quarantine"]["rows"] == 1
