"""StreamingDupClusters contracts: drained mapping == batch connected
components, cross-wave cluster merges, exactly-once replay, per-wave
write IO ∝ touched mass (mirrors the other streaming-index test files)."""

from __future__ import annotations

import tempfile
from functools import partial

from flink_playground_spark.streaming.cc_index import StreamingDupClusters
from flink_playground_spark.streaming.wave_index import state_bytes as ledger_bytes

state_bytes = partial(ledger_bytes, ledger="mapping")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _map(spark, idx):
    return {r["node"]: r["comp"] for r in idx.mapping(spark).collect()}


def test_cross_wave_merge_equals_batch_and_replay_skipped(spark):
    """Two clusters built in separate waves merge when a later wave
    bridges them — every member of both relabels to the joint minimum —
    and the drained mapping equals batch CC over all edges. Replaying a
    committed wave writes nothing."""
    from flink_playground_spark.operators.graph import connected_components

    waves = [
        [(5, 6), (6, 7)],          # cluster {5,6,7} -> comp 5
        [(1, 2), (10, 11)],        # clusters {1,2} and {10,11}
        [(7, 2)],                  # bridges {5,6,7} with {1,2} -> comp 1
    ]
    work = tempfile.mkdtemp(prefix="fps_ccidx_t_")
    idx = StreamingDupClusters(work)
    idx.ingest(_edges(spark, waves[0]), batch_id=0)
    assert _map(spark, idx) == {5: 5, 6: 5, 7: 5}
    idx.ingest(_edges(spark, waves[1]), batch_id=1)
    assert _map(spark, idx) == {5: 5, 6: 5, 7: 5, 1: 1, 2: 1, 10: 10, 11: 10}
    idx.ingest(_edges(spark, waves[2]), batch_id=2)
    got = _map(spark, idx)
    want = {
        r["node"]: r["comp"]
        for r in connected_components(
            _edges(spark, [e for w in waves for e in w]), "u", "v"
        ).collect()
    }
    assert got == want == {1: 1, 2: 1, 5: 1, 6: 1, 7: 1, 10: 10, 11: 10}
    # replay of a committed wave: skipped before any write
    before = state_bytes(work)
    idx.ingest(_edges(spark, waves[1]), batch_id=1)
    assert state_bytes(work) == before
    assert _map(spark, idx) == want
    m = idx.ops_metrics()
    assert m["mapping"]["rows"] > 0 and m["mapping"]["writers"] == {"cc": 2}


def test_wave_content_order_does_not_matter(spark):
    """The min-fold ledger absorbs any wave interleaving: delivering the
    same edge waves in a different order drains to the same mapping."""
    waves = [[(1, 2)], [(3, 4)], [(2, 3)], [(8, 9)]]
    maps = []
    for order in ([0, 1, 2, 3], [2, 3, 0, 1], [3, 2, 1, 0]):
        idx = StreamingDupClusters(tempfile.mkdtemp(prefix="fps_ccidx_o_"))
        for b, w in enumerate(order):
            idx.ingest(_edges(spark, waves[w]), batch_id=b)
        maps.append(_map(spark, idx))
    assert maps[0] == maps[1] == maps[2] == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_per_wave_write_io_tracks_touched_mass(spark):
    """A tiny disjoint wave after a big wave appends a sliver — state
    for untouched components is never rewritten."""
    work = tempfile.mkdtemp(prefix="fps_ccidx_io_")
    idx = StreamingDupClusters(work)
    big = [(i, i + 1) for i in range(0, 300, 3)]  # 100 disjoint pairs
    idx.ingest(_edges(spark, big), batch_id=0)
    after_big = state_bytes(work)
    idx.ingest(_edges(spark, [(9000, 9001)]), batch_id=1)
    delta = state_bytes(work) - after_big
    assert delta > 0
    assert delta < after_big / 2, (delta, after_big)


def test_forget_relabels_touched_component_and_drops_canonical_label(spark):
    """Takedown cascade: forgetting the CANONICAL (min-id) doc of a
    cluster must relabel the survivors to the new minimum — a plain
    min-fold append can never raise a label, so this exercises the
    atomic rewrite path. No forgotten id may appear anywhere in the
    mapping, as node OR as comp; untouched components are untouched."""
    work = tempfile.mkdtemp(prefix="fps_ccidx_fg_")
    idx = StreamingDupClusters(work)
    idx.ingest(_edges(spark, [(1, 2), (2, 3)]), batch_id=0)   # {1,2,3} -> 1
    idx.ingest(_edges(spark, [(10, 11)]), batch_id=1)         # {10,11} -> 10
    assert _map(spark, idx) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # pair ledger AFTER the cohort's pairs are pruned: doc 1's edges gone
    surviving = spark.createDataFrame([(2, 3), (10, 11)], "id_a long, id_b long")
    stats = idx.forget(spark, [1], surviving_edges=surviving)
    assert stats == {"forgotten": 1, "touched_members": 2}, stats
    got = _map(spark, idx)
    assert got == {2: 2, 3: 2, 10: 10, 11: 10}, got
    assert 1 not in got and 1 not in got.values()


def test_forget_splits_component_when_bridge_doc_removed(spark):
    """Forgetting a doc that BRIDGED two sub-clusters splits the
    component: survivors relabel to their own minima, and a survivor
    isolated by the excision leaves the mapping (isolated docs never
    enter the graph)."""
    idx = StreamingDupClusters(tempfile.mkdtemp(prefix="fps_ccidx_fg2_"))
    # 5-2-7 and 5-9: doc 5 bridges {2,7} with {9}; removing 5 isolates 9
    idx.ingest(_edges(spark, [(5, 2), (5, 7), (5, 9), (2, 7)]), batch_id=0)
    assert _map(spark, idx) == {2: 2, 5: 2, 7: 2, 9: 2}
    surviving = spark.createDataFrame([(2, 7)], "id_a long, id_b long")
    stats = idx.forget(spark, [5], surviving_edges=surviving)
    assert stats == {"forgotten": 1, "touched_members": 3}, stats
    got = _map(spark, idx)
    assert got == {2: 2, 7: 2}, got  # 9 isolated -> out of the mapping


def test_forget_unknown_docs_is_a_clean_noop(spark):
    """Forgetting ids no mapping row mentions changes nothing and
    reports zeros — and replay protection is intact afterwards."""
    work = tempfile.mkdtemp(prefix="fps_ccidx_fg3_")
    idx = StreamingDupClusters(work)
    idx.ingest(_edges(spark, [(1, 2)]), batch_id=0)
    before = state_bytes(work)
    stats = idx.forget(spark, [999], surviving_edges=None)
    assert stats == {"forgotten": 0, "touched_members": 0}, stats
    assert state_bytes(work) == before
    assert _map(spark, idx) == {1: 1, 2: 1}
    idx.ingest(_edges(spark, [(1, 2)]), batch_id=0)  # replay still skipped
    assert _map(spark, idx) == {1: 1, 2: 1}
