"""Doc UPDATE (+U) on the streaming dedup surface (r12 verdict Next
#1): the one-call changed-doc path on every index family and on the
composed pipeline — atomic deletion-vector excision + re-ingest under
ONE batch id, crash-pinned at each ledger boundary, drained state == a
batch rebuild over the post-update corpus. Plus the intra-wave
conflict guard and the both-endpoint edge prune in the cluster
relabel."""

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
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(str(tmp_path / name / "idx")))
    for b, wave in enumerate(_WAVES):
        pipe.ingest(_fp(spark, wave), batch_id=b)
    return pipe


def test_update_equals_batch_rebuild_on_post_update_corpus(spark, tmp_path):
    """One update wave (retraction + cluster merge + fresh insert)
    drains to exactly the batch pair set AND cluster mapping over the
    POST-update corpus; replaying the committed update writes nothing."""
    post = {d: s for d, s in _BASE} | {d: s for d, s in _UPD}
    batch_pairs, batch_comp = _batch_truth(spark, sorted(post.items()))
    assert (batch_pairs, batch_comp) == (_POST_PAIRS, _POST_COMP)

    pipe = _ingested_pipe(spark, tmp_path)
    pipe.update(_fp(spark, _UPD), batch_id=3)
    assert _drain(spark, pipe) == (_POST_PAIRS, _POST_COMP)

    from functools import partial

    from flink_playground_spark.streaming.wave_index import state_bytes

    cc_bytes = partial(state_bytes, ledger="mapping")
    band_bytes = partial(state_bytes, ledger="bands")

    before = (band_bytes(str(tmp_path / "p/idx")), cc_bytes(str(tmp_path / "p/idx")))
    pipe.update(_fp(spark, _UPD), batch_id=3)  # replay: full skip
    assert (band_bytes(str(tmp_path / "p/idx")), cc_bytes(str(tmp_path / "p/idx"))) == before
    assert _drain(spark, pipe) == (_POST_PAIRS, _POST_COMP)


def test_update_can_raise_the_cluster_label(spark, tmp_path):
    """Updating the CANONICAL (minimum) doc out of its cluster must
    RAISE the survivors' label — the move the ingest min-fold can never
    express and the reason update relabels via one atomic upsert."""
    pipe = _ingested_pipe(spark, tmp_path)
    pipe.update(_fp(spark, _UPD), batch_id=3)
    pipe.update(_fp(spark, [(1, 0x123456789ABCDEF)]), batch_id=4)
    pairs, comp = _drain(spark, pipe)
    assert pairs == {(2, 99), (3, 20)}
    assert comp == {2: 2, 99: 2, 3: 3, 20: 3}, comp
    assert 1 not in comp and 1 not in comp.values()


def test_update_crash_between_index_ledgers_converges(spark, tmp_path, crash_at, monkeypatch):
    """Crash INSIDE the index update, at its one manifest replace after
    every ledger's delta was written: nothing of the wave is committed
    (no pairs, no docs), every base doc is still present, and
    redelivery of the same batch id converges to the un-crashed run —
    at no committed point was any doc absent from the index."""
    pipe = _ingested_pipe(spark, tmp_path)
    idx = pipe.index
    pairs_before = _drain(spark, pipe)[0]
    crash_at("manifest")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.update(_fp(spark, _UPD), batch_id=3)
    monkeypatch.undo()
    assert _drain(spark, pipe)[0] == pairs_before and not idx.committed(3)
    # every base doc still present in SOME generation (nothing vanished)
    docs_now = {r["doc"] for r in idx._docs.read(spark).select("doc").collect()}
    assert {d for d, _ in _BASE} <= docs_now
    pipe.update(_fp(spark, _UPD), batch_id=3)  # redelivery heals
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
        StreamingFrameSetIndex(str(tmp_path / "fs/idx"), threshold=0.8)
    )
    pipe.ingest(grams([(1, full)]), batch_id=0)
    pipe.ingest(grams([(2, full), (4, full)]), batch_id=1)
    assert _drain(spark, pipe) == ({(1, 2), (1, 4), (2, 4)}, {1: 1, 2: 1, 4: 1})
    pipe.update(grams([(4, list(range(50, 61)))]), batch_id=2)
    assert _drain(spark, pipe) == ({(1, 2)}, {1: 1, 2: 1})
    pipe.update(grams([(4, full)]), batch_id=3)
    assert _drain(spark, pipe) == ({(1, 2), (1, 4), (2, 4)}, {1: 1, 2: 1, 4: 1})


def test_cc_forget_prunes_edges_on_both_endpoints(spark, tmp_path):
    """A caller's surviving pair set can reference an endpoint never
    ingested into the mapping; the relabel input must keep such an
    edge regardless of WHICH side is the stored member."""
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
    dirs; metrics reports the merge-on-read debt. Writes without
    ``agg_cols`` never compact, so the vectors stay pending until the
    append that passes the fold."""
    import os

    st = AppendDeltaState(
        str(tmp_path / "dv"), keys=["k"], compact_every=4, tomb_match=[["k"]]
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
    # the 4th delta reaches compact_every: its commit settles the debt —
    # vectors applied, cleared, content same (it re-adds a live row,
    # which the MIN fold absorbs)
    assert st.append(mk([(2, 21)]), "w", 3, [F.min("v").alias("v")])
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
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(str(work / "idx")))
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
