"""StreamingCosineLSHIndex contracts: drained == batch hyperplane-LSH
answer, exactly-once replay, append-only per-wave write IO, loud guard
+ overflow, surgical forget, deletion-vector update, pipeline
composition — the EMBEDDING member of the streaming index family
(mirrors test_minhash_index.py / test_phash_index.py)."""

from __future__ import annotations

import tempfile
from functools import partial

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.streaming.cosine_index import StreamingCosineLSHIndex
from flink_playground_spark.streaming.wave_index import state_bytes as ledger_bytes

state_bytes = partial(ledger_bytes, ledger="bands")

VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [1.0, 0.0, 0.0, 0.0]),
    (3, [0.99, 0.14, 0.0, 0.0]),
    (4, [0.0, 1.0, 0.0, 0.0]),
    (5, [0.0, 1.0, 0.0, 0.0]),
    (6, [0.0, 0.0, 1.0, -1.0]),
]


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _batch_pairs(spark, rows, tables=8, planes=4, threshold=0.4):
    """The batch answer through the same operators the
    embedding_neardup_lsh query composes — what the drained index must
    equal (the independent value check is the parity query's bit-exact
    Python oracle)."""
    from flink_playground_spark.functions.similarity import cosine, lsh_buckets

    b = lsh_buckets(_vecs(spark, rows), "vec_id", "embedding", tables, planes)
    cand = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.vec").alias("ea"),
            F.col("b.vec").alias("eb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cand.withColumn("sim", F.round(cosine(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .collect()
    }


def test_drain_equals_batch_and_replay_skipped(spark):
    """3 embedding waves drain to exactly the batch LSH answer
    (identical vectors sim 1.0 across waves, the near vector at its
    true cosine), each pair once; redelivery of a committed wave
    writes nothing."""
    batch = _batch_pairs(spark, VECS)
    assert set(batch) == {(1, 2), (1, 3), (2, 3), (4, 5)}, batch
    assert batch[(1, 2)] == 1.0 and 0.98 < batch[(1, 3)] < 1.0

    work = tempfile.mkdtemp(prefix="fps_cosidx_t_")
    idx = StreamingCosineLSHIndex(work)
    df = _vecs(spark, VECS)
    for w in range(3):
        idx.ingest(df.filter(F.col("vec_id") % 3 == w), batch_id=w)
    drained = {
        (r["id_a"], r["id_b"]): r["sim"] for r in idx.pairs(spark).collect()
    }
    assert drained == batch, drained
    before = state_bytes(work)
    idx.ingest(df.filter(F.col("vec_id") % 3 == 1), batch_id=1)
    assert state_bytes(work) == before
    assert {
        (r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()
    } == set(batch)


def test_one_wave_per_doc_guard_raises_and_quarantines(spark):
    """Error mode refuses a re-delivered doc loudly and commits nothing
    of the violating wave; quarantine mode routes it aside (surfaced in
    ops_metrics) while the wave's clean docs still pair."""
    import pytest

    from flink_playground_spark.streaming.phash_index import OneWavePerDocViolation

    work = tempfile.mkdtemp(prefix="fps_cosidx_g_")
    idx = StreamingCosineLSHIndex(work)
    idx.ingest(_vecs(spark, VECS[:2]), batch_id=0)
    with pytest.raises(OneWavePerDocViolation, match=r"\[1\]"):
        idx.ingest(_vecs(spark, [VECS[0], VECS[2]]), batch_id=1)
    assert not idx.committed(1)
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(1, 2)}

    q = StreamingCosineLSHIndex(
        tempfile.mkdtemp(prefix="fps_cosidx_q_"), on_conflict="quarantine"
    )
    q.ingest(_vecs(spark, VECS[:2]), batch_id=0)
    q.ingest(_vecs(spark, [VECS[0], VECS[2]]), batch_id=1)  # doc 1 again + clean doc 3
    drained = {(r["id_a"], r["id_b"]) for r in q.pairs(spark).collect()}
    # doc 3 pairs against the COMMITTED state of both 1 and 2; only
    # doc 1's re-delivery is routed aside
    assert drained == {(1, 2), (1, 3), (2, 3)}, drained
    assert q.ops_metrics()["quarantine"]["rows"] == 1


def test_intra_wave_conflict_raises(spark):
    """ONE wave carrying two distinct vectors for a doc id raises
    before any write — folding either would make every later sim
    against that doc arbitrary."""
    import pytest

    from flink_playground_spark.streaming.phash_index import IntraWaveConflict

    idx = StreamingCosineLSHIndex(tempfile.mkdtemp(prefix="fps_cosidx_iw_"))
    with pytest.raises(IntraWaveConflict, match=r"\[1\]"):
        idx.ingest(
            _vecs(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]),
            batch_id=0,
        )
    assert not idx.committed(0)
    # exact duplicates of the same (doc, vec) row are harmless
    idx.ingest(_vecs(spark, [VECS[0], VECS[0], VECS[1]]), batch_id=1)
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(1, 2)}


def test_per_wave_write_io_tracks_wave_rows(spark):
    """Band-ledger bytes per wave are ∝ the wave's rows — a 1-doc wave
    after a 60-doc wave appends a sliver, never a state rewrite; and
    an UPDATE wave (deletion vectors) writes wave-sized too."""
    import numpy as np

    work = tempfile.mkdtemp(prefix="fps_cosidx_io_")
    idx = StreamingCosineLSHIndex(work)
    rng = np.random.default_rng(7)
    # 500 docs so the wave's data dwarfs the ~1.3 KB fixed parquet
    # footer a 1-row delta pays (band rows are 3 ints — tiny)
    big = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(500)]
    idx.ingest(_vecs(spark, big), batch_id=0)
    after_big = state_bytes(work)
    idx.ingest(_vecs(spark, [(1000, [1.0] * 8)]), batch_id=1)
    delta = state_bytes(work) - after_big
    assert 0 < delta < after_big / 2, (delta, after_big)
    after_small = state_bytes(work)
    idx.update(_vecs(spark, [(7, [1.0] * 8)]), batch_id=2)
    upd_delta = state_bytes(work) - after_small
    assert 0 < upd_delta < after_big / 2, (upd_delta, after_big)


def test_identical_cluster_overflows_loudly_with_quantified_loss(spark):
    """With the cap armed, a degenerate class of identical vectors
    larger than max_bucket overflows its buckets LOUDLY (ledger names
    them, skipped volume counted), never silently dropping recall; an
    unrelated pair in the same stream still works."""
    work = tempfile.mkdtemp(prefix="fps_cosidx_ov_")
    idx = StreamingCosineLSHIndex(work, max_bucket=2)
    boiler = [(i, [0.6, 0.8, 0.0, 0.0]) for i in range(4)]
    idx.ingest(_vecs(spark, boiler), batch_id=0)
    assert idx.pairs(spark).count() == 0  # suppressed, not wrong
    assert idx.overflow_buckets(spark).count() == 8  # every hash table's bucket
    m = idx.ops_metrics()
    assert m["overflow"]["rows"] == 8 and m["overflow_rows_skipped"] == 4 * 8
    idx.ingest(_vecs(spark, VECS[3:5]), batch_id=1)  # unrelated identical pair
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {(4, 5)}


def test_forget_is_surgical_without_resurrection(spark):
    """Takedown removes the cohort's bands, vector and pairs exactly;
    survivors keep pairing; the original wave stays replay-skipped."""
    work = tempfile.mkdtemp(prefix="fps_cosidx_fg_")
    idx = StreamingCosineLSHIndex(work)
    df = _vecs(spark, VECS)
    for w in range(3):
        idx.ingest(df.filter(F.col("vec_id") % 3 == w), batch_id=w)
    stats = idx.forget(spark, [1])
    assert stats["bands_removed"] == 8 and stats["vecs_removed"] == 1
    assert stats["pairs_removed"] == 2
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {
        (2, 3), (4, 5),
    }
    idx.ingest(df.filter(F.col("vec_id") % 3 == 1), batch_id=1)  # replay
    assert {(r["id_a"], r["id_b"]) for r in idx.pairs(spark).collect()} == {
        (2, 3), (4, 5),
    }


def test_update_retracts_stale_pairs_and_crash_heals(spark, crash_at, monkeypatch):
    """The +U verb end to end: doc 3's vector moves from the e0 cluster
    to the e1 cluster — its stale pairs (1,3)/(2,3) are retracted, new
    pairs (3,4)/(3,5) emitted, drained == the batch answer over the
    POST-update corpus; a crash inside the composed pipeline's one
    commit (index and cluster ledgers together) commits nothing and
    heals on redelivery; a replayed update writes nothing."""
    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )

    post = [(i, v) for i, v in VECS if i != 3] + [(3, [0.0, 1.0, 0.0, 0.0])]
    post_batch = _batch_pairs(spark, sorted(post))
    assert set(post_batch) == {(1, 2), (3, 4), (3, 5), (4, 5)}, post_batch

    work = tempfile.mkdtemp(prefix="fps_cosidx_u_")
    ci = StreamingCosineLSHIndex(f"{work}/idx")
    pipe = StreamingNearDupPipeline(ci)
    df = _vecs(spark, VECS)
    for w in range(3):
        pipe.ingest(df.filter(F.col("vec_id") % 3 == w), batch_id=w)
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}, comp

    upd = _vecs(spark, [(3, [0.0, 1.0, 0.0, 0.0])])
    crash_at("manifest")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.update(upd, batch_id=3)
    monkeypatch.undo()
    assert not ci.committed(3)
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}, comp
    pipe.update(upd, batch_id=3)  # redelivery heals
    drained = {(r["id_a"], r["id_b"]): r["sim"] for r in ci.pairs(spark).collect()}
    assert drained == post_batch, drained
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    # doc 3 left {1,2} (label stays 1) and joined {4,5} (merged label 3)
    assert comp == {1: 1, 2: 1, 3: 3, 4: 3, 5: 3}, comp
    before = state_bytes(f"{work}/idx")
    pipe.update(upd, batch_id=3)  # replay: nothing written
    assert state_bytes(f"{work}/idx") == before
