"""StreamingMinHashIndex contracts: drained == batch doc-level banding,
exactly-once replay, append-only per-wave write IO, loud guard +
overflow, surgical forget, pipeline composition — the TEXT member of
the streaming index family (mirrors test_phash_index.py)."""

from __future__ import annotations

import tempfile
from functools import partial

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.streaming.minhash_index import StreamingMinHashIndex
from flink_playground_spark.streaming.wave_index import state_bytes as ledger_bytes

state_bytes = partial(ledger_bytes, ledger="bands")

TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again today"),
    (3, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (4, "completely different content about spark streaming state ledgers here"),
    (5, "completely different content about spark streaming state ledgers here"),
    (6, "short text"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_pairs(spark, rows):
    """Doc-level batch answer: banding candidates + exact verification,
    no rep collapse — what the drained index must equal."""
    from flink_playground_spark.functions.dedupe import (
        _band_signatures,
        lsh_band_candidates,
        minhash_signatures,
        shingle_index,
        verify_pairs,
    )

    df = _docs(spark, rows)
    idx = shingle_index(df, "doc_id", "text", 3)
    banded = _band_signatures(minhash_signatures(None, "doc", None, 128, 3, index=idx), 32, 4)
    cand = lsh_band_candidates(banded)
    return {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verify_pairs(idx, cand, 0.8).collect()
    }


def test_drain_equals_batch_and_replay_skipped(spark):
    """3 text waves drain to exactly the batch banding answer (exact
    dups J=1.0 across waves, near-dups at their true Jaccard), each
    pair once; redelivery of a committed wave writes nothing."""
    batch = _batch_pairs(spark, TEXTS)
    assert set(batch) == {(1, 2), (1, 3), (2, 3), (4, 5)}, batch

    work = tempfile.mkdtemp(prefix="fps_mhidx_t_")
    idx = StreamingMinHashIndex(work)
    df = _docs(spark, TEXTS)
    for w in range(3):
        idx.ingest(df.filter(F.col("doc_id") % 3 == w), batch_id=w)
    drained = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in idx.pairs(spark).collect()
    }
    assert drained == batch, drained
    before = state_bytes(work)
    idx.ingest(df.filter(F.col("doc_id") % 3 == 1), batch_id=1)
    assert state_bytes(work) == before
    assert {
        (r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()
    } == set(batch)


def test_one_wave_per_doc_guard_raises_and_quarantines(spark):
    """Error mode refuses a re-delivered doc loudly and commits nothing
    of the violating wave; quarantine mode routes it aside (surfaced in
    ops_metrics) while the wave's clean docs still pair — the doc's
    updated text never folds into a second shingle generation."""
    import pytest

    from flink_playground_spark.streaming.phash_index import OneWavePerDocViolation

    work = tempfile.mkdtemp(prefix="fps_mhidx_g_")
    idx = StreamingMinHashIndex(work)
    idx.ingest(_docs(spark, TEXTS[:2]), batch_id=0)
    with pytest.raises(OneWavePerDocViolation, match=r"\[1\]"):
        idx.ingest(_docs(spark, [TEXTS[0], TEXTS[2]]), batch_id=1)
    assert not idx.committed(1)
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(1, 2)}

    q = StreamingMinHashIndex(
        tempfile.mkdtemp(prefix="fps_mhidx_q_"), on_conflict="quarantine"
    )
    q.ingest(_docs(spark, TEXTS[:2]), batch_id=0)
    q.ingest(_docs(spark, [TEXTS[0], TEXTS[2]]), batch_id=1)  # doc 1 again + clean doc 3
    drained = {(r["id_a"], r["id_b"]) for r in q.pairs(spark).collect()}
    # doc 3 pairs against the COMMITTED state of both 1 and 2 (that is
    # legal and right); only doc 1's re-delivery is routed aside
    assert drained == {(1, 2), (1, 3), (2, 3)}, drained
    assert q.ops_metrics()["quarantine"]["rows"] == 1


def test_per_wave_write_io_tracks_wave_rows(spark):
    """Band-ledger bytes per wave are ∝ the wave's rows — a 1-doc wave
    after a 60-doc wave appends a sliver, never a state rewrite."""
    work = tempfile.mkdtemp(prefix="fps_mhidx_io_")
    idx = StreamingMinHashIndex(work)
    big = [(i, f"document number {i} with some shared vocabulary and a tail {i*7}")
           for i in range(60)]
    idx.ingest(_docs(spark, big), batch_id=0)
    after_big = state_bytes(work)
    idx.ingest(_docs(spark, [(1000, "one more tiny document arriving later")]), batch_id=1)
    delta = state_bytes(work) - after_big
    assert delta > 0
    assert delta < after_big / 2, (delta, after_big)


def test_boilerplate_class_overflows_loudly_with_quantified_loss(spark):
    """The documented tradeoff of skipping the rep-class collapse: a
    boilerplate class larger than max_bucket overflows its buckets —
    LOUDLY (ledger names them, skipped volume counted), never silently
    dropping recall; an unrelated pair in the same stream still works."""
    work = tempfile.mkdtemp(prefix="fps_mhidx_ov_")
    idx = StreamingMinHashIndex(work, max_bucket=2)
    boiler = [(i, "identical boilerplate text repeated across the corpus forever")
              for i in range(4)]
    idx.ingest(_docs(spark, boiler), batch_id=0)
    assert idx.pairs(spark).count() == 0  # suppressed, not wrong
    assert idx.overflow_buckets(spark).count() == 32  # every band bucket
    m = idx.ops_metrics()
    assert m["overflow"]["rows"] == 32 and m["overflow_rows_skipped"] == 4 * 32
    idx.ingest(_docs(spark, TEXTS[3:5]), batch_id=1)  # unrelated exact pair
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(4, 5)}


def test_forget_is_surgical_without_resurrection(spark):
    """Takedown removes the cohort's bands, shingles and pairs exactly
    (every ledger row is a raw per-doc fact — the reason this index
    skips the rep collapse); survivors keep pairing; the original wave
    stays replay-skipped."""
    work = tempfile.mkdtemp(prefix="fps_mhidx_fg_")
    idx = StreamingMinHashIndex(work)
    df = _docs(spark, TEXTS)
    for w in range(3):
        idx.ingest(df.filter(F.col("doc_id") % 3 == w), batch_id=w)
    stats = idx.forget(spark, [1])
    assert stats["bands_removed"] == 32 and stats["pairs_removed"] == 2
    assert stats["shingles_removed"] > 0
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {
        (2, 3), (4, 5),
    }
    idx.ingest(df.filter(F.col("doc_id") % 3 == 1), batch_id=1)  # replay
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {
        (2, 3), (4, 5),
    }


def test_pipeline_composition_with_crash_between_ledgers(spark, crash_at, monkeypatch):
    """The composed fold runs the text index through the SAME pipeline
    as the image/video modalities, and a crash between two ledgers'
    deltas inside wave 1's one commit (index and cluster ledgers share
    it) leaves nothing of the wave committed; redelivery converges to
    the batch clusters."""
    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )

    work = tempfile.mkdtemp(prefix="fps_mhidx_p_")
    mh = StreamingMinHashIndex(f"{work}/idx")
    pipe = StreamingNearDupPipeline(mh)
    df = _docs(spark, TEXTS)
    pipe.ingest(df.filter(F.col("doc_id") % 3 == 0), batch_id=0)
    crash_at("second_delta")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.ingest(df.filter(F.col("doc_id") % 3 == 1), batch_id=1)
    monkeypatch.undo()
    assert not mh.committed(1)
    pipe.ingest(df.filter(F.col("doc_id") % 3 == 1), batch_id=1)  # heals
    pipe.ingest(df.filter(F.col("doc_id") % 3 == 2), batch_id=2)
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}, comp
    # takedown cascades: forgetting canonical doc 1 relabels {2,3}
    pipe.forget(spark, [1])
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp == {2: 2, 3: 2, 4: 4, 5: 4}, comp
