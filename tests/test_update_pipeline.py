"""Doc UPDATE (+U) on the streaming dedup surface (r12 verdict Next
#1): the one-call changed-doc path on every index family and on the
composed pipeline — atomic rewrite-based excision + re-ingest under ONE
batch id, crash-pinned at each ledger boundary, drained state == a
batch rebuild over the post-update corpus. Plus the r12 ADVICE items:
the intra-wave conflict guard, the takedown intent ledger, the
both-endpoint edge prune in the cluster relabel, and rewrite v2's
replay marks / dropper / single-pass removed count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.streaming.cc_index import StreamingDupClusters
from flink_playground_spark.streaming.dedup_pipeline import StreamingNearDupPipeline
from flink_playground_spark.streaming.frameset_index import StreamingFrameSetIndex
from flink_playground_spark.streaming.minhash_index import StreamingMinHashIndex
from flink_playground_spark.streaming.phash_index import (
    IntraWaveConflict,
    StreamingHammingIndex,
)
from flink_playground_spark.streaming.txn_state import AppendDeltaState


def _fp(spark, rows):
    return spark.createDataFrame(rows, "doc long, sh long")


def _drain(spark, pipe):
    pairs = {(r["id_a"], r["id_b"]) for r in pipe.pairs(spark).collect()}
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    return pairs, comp


# base corpus (same classes as test_dedup_pipeline): {1,2,3} identical,
# {10,11} within 2 bits, 20 isolated
_BASE = [
    (1, 0x0F0F),
    (2, 0x0F0F),
    (3, 0x0F0F),
    (10, 1 << 40),
    (11, (1 << 40) | 3),
    (20, 0x00FF00FF00FF00FF),
]
_WAVES = [_BASE[:2], _BASE[2:4], _BASE[4:]]
# update wave: 3 becomes 20's twin (retraction + merge with a
# previously-isolated doc), 11 leaves its class (both sides isolated →
# leave the mapping), 99 is a brand-new insert pairing with {1,2}
_UPD = [(3, 0x00FF00FF00FF00FF), (11, 0x5555AAAA5555AAAA), (99, 0x0F0E)]
_POST_PAIRS = {(1, 2), (1, 99), (2, 99), (3, 20)}
_POST_COMP = {1: 1, 2: 1, 99: 1, 3: 3, 20: 3}


def _batch_truth(spark, rows):
    from flink_playground_spark.functions.dedupe import hamming_band_pairs
    from flink_playground_spark.operators.graph import connected_components

    pairs = hamming_band_pairs(_fp(spark, rows))
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    return {(r["id_a"], r["id_b"]) for r in pairs.collect()}, comp


def _ingested_pipe(spark, tmp_path, name="p"):
    pipe = StreamingNearDupPipeline(
        str(tmp_path / name), StreamingHammingIndex(str(tmp_path / name / "idx"))
    )
    for b, wave in enumerate(_WAVES):
        pipe.ingest(_fp(spark, wave), batch_id=b)
    return pipe


def test_update_equals_batch_rebuild_on_post_update_corpus(spark, tmp_path):
    """One update wave (retraction + cluster merge + fresh insert)
    drains to exactly the batch pair set AND cluster mapping over the
    POST-update corpus; the wave's new pairs carry its since_batch tag;
    replaying the committed update writes nothing."""
    post = {d: s for d, s in _BASE} | {d: s for d, s in _UPD}
    batch_pairs, batch_comp = _batch_truth(spark, sorted(post.items()))
    assert (batch_pairs, batch_comp) == (_POST_PAIRS, _POST_COMP)

    pipe = _ingested_pipe(spark, tmp_path)
    pipe.update(_fp(spark, _UPD), batch_id=3)
    assert _drain(spark, pipe) == (_POST_PAIRS, _POST_COMP)
    wave3 = {
        (r["id_a"], r["id_b"])
        for r in pipe.index.pairs_for_batch(spark, 3).collect()
    }
    assert wave3 == {(1, 99), (2, 99), (3, 20)}  # (1,2) predates the wave

    from functools import partial

    from flink_playground_spark.streaming.wave_index import state_bytes

    cc_bytes = partial(state_bytes, ledger="mapping")
    band_bytes = partial(state_bytes, ledger="bands")

    before = (band_bytes(str(tmp_path / "p/idx")), cc_bytes(str(tmp_path / "p/clusters")))
    pipe.update(_fp(spark, _UPD), batch_id=3)  # replay: full skip
    assert (band_bytes(str(tmp_path / "p/idx")), cc_bytes(str(tmp_path / "p/clusters"))) == before
    assert _drain(spark, pipe) == (_POST_PAIRS, _POST_COMP)


def test_update_can_raise_the_cluster_label(spark, tmp_path):
    """Updating the CANONICAL (minimum) doc out of its cluster must
    RAISE the survivors' label — the move the ingest min-fold can never
    express and the reason update relabels via one atomic rewrite."""
    pipe = _ingested_pipe(spark, tmp_path)
    pipe.update(_fp(spark, _UPD), batch_id=3)
    pipe.update(_fp(spark, [(1, 0x123456789ABCDEF)]), batch_id=4)
    pairs, comp = _drain(spark, pipe)
    assert pairs == {(2, 99), (3, 20)}
    assert comp == {2: 2, 99: 2, 3: 3, 20: 3}, comp
    assert 1 not in comp and 1 not in comp.values()


def test_update_crash_between_index_ledgers_converges(spark, tmp_path):
    """Crash INSIDE the index update, after the pairs rewrite committed
    but before docs/bands: redelivery of the same batch id skips the
    committed rewrite via its replay mark, catches the rest up, and the
    drained state equals the un-crashed run — at no committed point was
    any doc absent from the index."""
    pipe = _ingested_pipe(spark, tmp_path)
    idx = pipe.index
    orig = idx._docs.upsert

    def boom(*a, **k):
        raise RuntimeError("simulated crash after pairs upsert")

    idx._docs.upsert = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.update(_fp(spark, _UPD), batch_id=3)
    # pairs committed, docs/bands did not — the mid-update crash window
    assert idx._pairs.committed("pairs", 3) and not idx.committed(3)
    # every base doc still present in SOME generation (nothing vanished)
    docs_now = {r["doc"] for r in idx._docs.read(spark).select("doc").collect()}
    assert {d for d, _ in _BASE} <= docs_now
    idx._docs.upsert = orig
    pipe.update(_fp(spark, _UPD), batch_id=3)  # redelivery heals
    assert _drain(spark, pipe) == (_POST_PAIRS, _POST_COMP)


def test_update_crash_between_index_and_cluster_commits(spark, tmp_path):
    """THE composition crash point, now for updates: the index fully
    committed the update wave but the job died before the cluster
    rewrite. Redelivery probes the cluster ledger, skips the index
    internally, recovers the wave's pairs from their since_batch tag,
    and the cluster relabel catches up."""
    pipe = _ingested_pipe(spark, tmp_path)
    pipe.index.update(_fp(spark, _UPD), batch_id=3)  # index only: the crash
    assert pipe.index.committed(3) and not pipe.clusters.committed(3)
    pipe.update(_fp(spark, _UPD), batch_id=3)  # redelivery through the pipeline
    assert pipe.clusters.committed(3)
    assert _drain(spark, pipe) == (_POST_PAIRS, _POST_COMP)


def test_minhash_update_parity_and_conflict_guard(spark, tmp_path):
    """The text family: an update wave that retracts one doc's pairs
    (content replaced) and joins another to an existing class drains to
    the batch answer on the post-update corpus; an intra-wave conflict
    (two texts, one doc, one wave) raises before any write."""
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different words entirely unrelated tokens listed here now"
    c = "a third body of text sharing nothing with either corpus half"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    pipe = StreamingNearDupPipeline(
        str(tmp_path / "txt"),
        StreamingMinHashIndex(str(tmp_path / "txt/idx"), k=64, bands=16, n=3, threshold=0.8),
    )
    pipe.ingest(mk([(1, a), (2, a)]), batch_id=0)
    pipe.ingest(mk([(3, b)]), batch_id=1)
    assert _drain(spark, pipe) == ({(1, 2)}, {1: 1, 2: 1})
    # doc 1 leaves the class (new content c), doc 3 joins it (now a)
    pipe.update(mk([(1, c), (3, a)]), batch_id=2)
    assert _drain(spark, pipe) == ({(2, 3)}, {2: 2, 3: 2})

    with pytest.raises(IntraWaveConflict, match="distinct text"):
        pipe.ingest(mk([(7, a), (7, b)]), batch_id=3)


def test_minhash_intra_wave_quarantine_drops_doc_whole(spark, tmp_path):
    """Quarantine mode: the conflicted doc's BOTH generations are
    dropped (never folded), the ledger records it, clean docs in the
    same wave proceed."""
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different words entirely unrelated tokens listed here now"
    idx = StreamingMinHashIndex(
        str(tmp_path / "q/idx"), k=64, bands=16, n=3, threshold=0.8,
        on_conflict="quarantine",
    )
    idx.ingest(
        spark.createDataFrame([(7, a), (7, b), (8, a)], "doc_id long, text string"),
        batch_id=0,
    )
    stored = {r["doc"] for r in idx._shingles.read(spark).select("doc").distinct().collect()}
    assert stored == {8}
    assert idx.ops_metrics()["quarantine"]["rows"] == 1


def test_phash_intra_wave_conflict(spark, tmp_path):
    """Two distinct fingerprints for one doc id in ONE wave raise
    (error mode) / quarantine the doc whole — the hole the cross-wave
    guard could not see (r12 ADVICE)."""
    idx = StreamingHammingIndex(str(tmp_path / "pc"))
    with pytest.raises(IntraWaveConflict, match="distinct fingerprint"):
        idx.ingest(_fp(spark, [(5, 1), (5, 2), (6, 7)]), batch_id=0)
    q = StreamingHammingIndex(str(tmp_path / "pq"), on_conflict="quarantine")
    q.ingest(_fp(spark, [(5, 1), (5, 2), (6, 7)]), batch_id=0)
    stored = {r["doc"] for r in q._docs.read(spark).select("doc").collect()}
    assert stored == {6}
    assert q.ops_metrics()["quarantine"]["rows"] == 1
    # exact duplicate rows of the SAME (doc, sh) are harmless and pass
    q.ingest(_fp(spark, [(9, 42), (9, 42)]), batch_id=1)
    assert {r["doc"] for r in q._docs.read(spark).select("doc").collect()} == {6, 9}


def test_frameset_update_parity(spark, tmp_path):
    """The video family: updating a member out of its class retracts
    its pairs; updating it back in re-pairs — both via the same atomic
    per-ledger rewrites."""
    def grams(sets):
        rows = [(doc, sh) for doc, shingles in sets for sh in shingles]
        return spark.createDataFrame(rows, "doc long, shingle long")

    full = list(range(1, 11))
    pipe = StreamingNearDupPipeline(
        str(tmp_path / "fs"), StreamingFrameSetIndex(str(tmp_path / "fs/idx"), threshold=0.8)
    )
    pipe.ingest(grams([(1, full)]), batch_id=0)
    pipe.ingest(grams([(2, full), (4, full)]), batch_id=1)
    assert _drain(spark, pipe) == ({(1, 2), (1, 4), (2, 4)}, {1: 1, 2: 1, 4: 1})
    pipe.update(grams([(4, list(range(50, 61)))]), batch_id=2)
    assert _drain(spark, pipe) == ({(1, 2)}, {1: 1, 2: 1})
    pipe.update(grams([(4, full)]), batch_id=3)
    assert _drain(spark, pipe) == ({(1, 2), (1, 4), (2, 4)}, {1: 1, 2: 1, 4: 1})


def test_takedown_intent_ledger_resumes_after_crash(spark, tmp_path):
    """forget's crash window (r12 ADVICE): a cascade that dies between
    the index prune and the cluster relabel leaves a durable PENDING
    intent; ops_metrics counts it, resume_takedowns replays it
    idempotently, and the final state equals an un-crashed takedown."""
    pipe = _ingested_pipe(spark, tmp_path)
    # healthy takedown: intent opens and closes, nothing pending
    pipe.forget(spark, [20])
    assert pipe.pending_takedowns(spark).count() == 0
    assert pipe.ops_metrics()["pending_takedowns"] == 0

    orig = pipe.clusters.forget

    def boom(*a, **k):
        raise RuntimeError("simulated crash between takedown stages")

    pipe.clusters.forget = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.forget(spark, [1])
    pipe.clusters.forget = orig
    pend = pipe.pending_takedowns(spark).collect()
    assert {(r["tid"], r["doc"]) for r in pend} == {(2, 1)}
    assert pipe.ops_metrics()["pending_takedowns"] == 1
    # the half-applied state is detectable, then the resume heals it
    resumed = pipe.resume_takedowns(spark)
    assert set(resumed) == {2}
    assert pipe.pending_takedowns(spark).count() == 0
    pairs, comp = _drain(spark, pipe)
    assert pairs == {(2, 3), (10, 11)}
    assert comp == {2: 2, 3: 2, 10: 10, 11: 10}, comp


def test_cc_forget_prunes_edges_on_both_endpoints(spark, tmp_path):
    """r12 ADVICE: in the crash window the surviving pair set can
    reference a not-yet-ingested endpoint; the relabel input must keep
    such an edge regardless of WHICH side is the stored member."""
    for name, edge in [("u", (2, 7)), ("v", (7, 2))]:
        cc = StreamingDupClusters(str(tmp_path / f"cc_{name}"))
        cc.ingest(spark.createDataFrame([(1, 2)], "u long, v long"), batch_id=0)
        surv = spark.createDataFrame([edge], "id_a long, id_b long")
        cc.forget(spark, [1], surviving_edges=surv)
        comp = {r["node"]: r["comp"] for r in cc.mapping(spark).collect()}
        assert comp == {2: 2, 7: 2}, (name, comp)


def test_upsert_deletion_vectors(spark, tmp_path):
    """AppendDeltaState.upsert: tombstone + data delta + replay mark in
    ONE commit; the watermark lets a key re-added after its tombstone
    survive; stacked vectors compose; compaction settles them
    physically and clears the manifest; vacuum spares live tombstone
    dirs; metrics reports the merge-on-read debt."""
    import os

    st = AppendDeltaState(
        str(tmp_path / "dv"), keys=["k"], compact_every=99, tomb_match=[["k"]]
    )
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    st.append(mk([(1, 10), (2, 20)]), writer_id="w", batch_id=0)
    # upsert: kill k=1's old row, re-add it with new content — one commit
    assert st.upsert(mk([(1, 0)]).select("k"), mk([(1, 11)]), writer_id="w", batch_id=1)
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(1, 11), (2, 20)}
    # replay of the committed upsert: skipped whole
    assert st.upsert(mk([(2, 0)]).select("k"), mk([(2, 99)]), writer_id="w", batch_id=1) is False
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(1, 11), (2, 20)}
    # stacked vectors compose: now replace k=2 too
    st.upsert(mk([(2, 0)]).select("k"), mk([(2, 21)]), writer_id="w", batch_id=2)
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(1, 11), (2, 21)}
    m = st.metrics()
    assert m["tombstones"]["live"] == 2 and m["tombstones"]["rows"] == 2
    # physical rows still include the dead generations until compaction
    assert m["rows"] == 4
    # live tombstone dirs survive vacuum
    st.vacuum()
    assert any(e.startswith("x") for e in os.listdir(str(tmp_path / "dv")))
    # compaction settles the debt: vectors applied, cleared, content same
    st.compact(spark, [F.min("v").alias("v")])
    m2 = st.metrics()
    assert m2["tombstones"]["live"] == 0 and m2["live_deltas"] == 1 and m2["rows"] == 2
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(1, 11), (2, 21)}
    assert not any(e.startswith("x") for e in os.listdir(str(tmp_path / "dv")))


def test_update_write_io_is_wave_sized(spark, tmp_path):
    """THE point of the deletion-vector upsert: updating 1 doc out of
    60 appends exactly the wave's rows on every ledger (tombstone +
    new rows), never a rewrite of accumulated state — on the index
    ledgers AND the cluster mapping. Asserted in PHYSICAL ROWS (byte
    deltas at this scale are dominated by the per-file parquet floor)."""
    work = tmp_path / "io"
    pipe = StreamingNearDupPipeline(
        str(work), StreamingHammingIndex(str(work / "idx"))
    )
    big = [(i, (i * 0x9E3779B97F4A7C15) % (1 << 63)) for i in range(60)]
    big[1] = (1, big[0][1])  # doc 0's class: {0, 1}
    for k in range(5, 25):  # 20 more planted classes: {10,11}, {12,13}, ...
        big[2 * k + 1] = (2 * k + 1, big[2 * k][1])
    pipe.ingest(_fp(spark, big), batch_id=0)
    rows0 = (
        pipe.index._bands.metrics()["rows"],
        pipe.clusters._state.metrics()["rows"],
    )
    assert rows0[1] == 42  # 21 planted 2-doc clusters
    # update doc 5 (unpaired before) to pair with doc 0's class
    pipe.update(_fp(spark, [(5, big[0][1] ^ 2)]), batch_id=1)
    rows1 = (
        pipe.index._bands.metrics()["rows"],
        pipe.clusters._state.metrics()["rows"],
    )
    # bands: +4 rows (one doc's banding); mapping: +3 rows (the ONE
    # touched component's relabel: 0, 1, 5) — a rewrite-based path
    # would have re-written all 240 band / 42 mapping rows
    assert rows1[0] - rows0[0] == 4, (rows0, rows1)
    assert rows1[1] - rows0[1] == 3, (rows0, rows1)
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp[0] == comp[1] == comp[5] == 0 and comp[10] == 10 and len(comp) == 43
    # the merge-on-read debt is visible on the ops surface
    pm = pipe.ops_metrics()
    assert pm["index"]["bands"]["tombstones"]["live"] == 1
    assert pm["clusters"]["mapping"]["tombstones"]["live"] == 1


def test_stacked_updates_converge_to_final_corpus(spark, tmp_path):
    """Three successive update waves (the same doc updated TWICE among
    them) drain to the batch answer over the FINAL corpus — stacked
    deletion vectors across commits compose correctly with the
    min-fold reads."""
    pipe = _ingested_pipe(spark, tmp_path, name="stk")
    pipe.update(_fp(spark, _UPD), batch_id=3)
    pipe.update(_fp(spark, [(1, 0x123456789ABCDEF)]), batch_id=4)
    # doc 3 updated AGAIN: back to the {1,2}-class fingerprint
    pipe.update(_fp(spark, [(3, 0x0F0F)]), batch_id=5)
    final = {d: s for d, s in _BASE} | {d: s for d, s in _UPD}
    final[1] = 0x123456789ABCDEF
    final[3] = 0x0F0F
    batch_pairs, batch_comp = _batch_truth(spark, sorted(final.items()))
    assert _drain(spark, pipe) == (batch_pairs, batch_comp)


def test_rewrite_v2_dropper_replay_and_count(spark, tmp_path):
    """AppendDeltaState.rewrite: the dropper form, the single-pass
    removed count, the replay mark landing in the same commit, and the
    writer-mark-only commit when there is nothing to write."""
    st = AppendDeltaState(str(tmp_path / "led"), keys=["k"])
    st.append(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long"))
    add = spark.createDataFrame([(9, 90)], "k long, v long")
    removed = st.rewrite(
        spark,
        dropper=lambda cur: cur.filter(~F.col("k").isin(1, 2)),
        add=add,
        writer_id="w",
        batch_id=5,
    )
    assert removed == 2
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(3, 30), (9, 90)}
    assert st.committed("w", 5)
    # replay of the committed rewrite: skipped, signalled as None
    assert st.rewrite(spark, dropper=lambda cur: cur.limit(0), writer_id="w", batch_id=5) is None
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(3, 30), (9, 90)}
    # a later batch proceeds; key-tuple drop still works
    drop = spark.createDataFrame([(9,)], "k long")
    assert st.rewrite(spark, drop_keys=drop, writer_id="w", batch_id=6) == 1
    assert {(r["k"], r["v"]) for r in st.read(spark).collect()} == {(3, 30)}
    # nothing read, nothing written — the mark must still advance (a
    # no-op update is a committed outcome for the replay probe)
    fresh = AppendDeltaState(str(tmp_path / "led2"), keys=["k"])
    assert fresh.rewrite(spark, writer_id="w", batch_id=1) == 0
    assert fresh.committed("w", 1)
