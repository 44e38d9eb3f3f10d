"""StreamingNearDupPipeline contracts: the composed doc-waves →
pair-index → cluster fold equals the batch answer, survives a crash
BETWEEN the two ledgers' commit points, keeps per-wave write IO
append-only on both ledgers, and cascades takedown through both stages
(r11 verdict Next #1)."""

from __future__ import annotations

import tempfile
from functools import partial

from flink_playground_spark.streaming.dedup_pipeline import StreamingNearDupPipeline
from flink_playground_spark.streaming.frameset_index import StreamingFrameSetIndex
from flink_playground_spark.streaming.phash_index import StreamingHammingIndex
from flink_playground_spark.streaming.wave_index import state_bytes

cc_state_bytes = partial(state_bytes, ledger="mapping")
band_state_bytes = partial(state_bytes, ledger="bands")


def _fp(spark, rows):
    return spark.createDataFrame(rows, "doc long, sh long")


# classes: {1,2,3} identical, {10,11} within 2 bits, 20 isolated;
# waves split class members apart so pairs cross state
_ROWS = [
    (1, 0x0F0F),
    (2, 0x0F0F),
    (3, 0x0F0F),
    (10, 1 << 40),
    (11, (1 << 40) | 3),
    (20, 0x00FF00FF00FF00FF),
]
_WAVES = [_ROWS[:2], _ROWS[2:4], _ROWS[4:]]


def _batch_truth(spark):
    """Batch pairs + batch clusters over the full corpus — the parity
    target the drained pipeline must hit exactly."""
    from flink_playground_spark.functions.dedupe import hamming_band_pairs
    from flink_playground_spark.operators.graph import connected_components

    pairs = hamming_band_pairs(_fp(spark, _ROWS))
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    return {(r["id_a"], r["id_b"]) for r in pairs.collect()}, comp


def _drain(spark, pipe):
    pairs = {(r["id_a"], r["id_b"]) for r in pipe.pairs(spark).collect()}
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    return pairs, comp


def test_drained_pipeline_equals_batch_pairs_and_clusters(spark):
    """Doc waves through the composed fold drain to exactly the batch
    pair set AND the batch cluster mapping; re-delivering a committed
    wave (whole-wave replay) writes nothing to either ledger."""
    batch_pairs, batch_comp = _batch_truth(spark)
    assert batch_comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    work = tempfile.mkdtemp(prefix="fps_pipe_t_")
    pipe = StreamingNearDupPipeline(work, StreamingHammingIndex(f"{work}/idx"))
    for b, wave in enumerate(_WAVES):
        pipe.ingest(_fp(spark, wave), batch_id=b)
    assert _drain(spark, pipe) == (batch_pairs, batch_comp)

    before = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/clusters"))
    pipe.ingest(_fp(spark, _WAVES[1]), batch_id=1)
    after = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/clusters"))
    assert after == before
    assert _drain(spark, pipe) == (batch_pairs, batch_comp)


def test_crash_between_index_and_cluster_commits_recovers(spark):
    """THE crash point composition creates: the index committed wave 1
    but the job died before the cluster ledger did. On redelivery the
    index skips internally, the wave's pairs are recovered from the
    pair ledger's since_batch tag (not recomputed, not lost), and the
    cluster fold catches up — final state identical to the un-crashed
    run."""
    batch_pairs, batch_comp = _batch_truth(spark)
    work = tempfile.mkdtemp(prefix="fps_pipe_c_")
    idx = StreamingHammingIndex(f"{work}/idx")
    pipe = StreamingNearDupPipeline(work, idx)
    pipe.ingest(_fp(spark, _WAVES[0]), batch_id=0)
    # simulate the crash: wave 1 reaches the index ledger ONLY
    idx.ingest(_fp(spark, _WAVES[1]), batch_id=1)
    assert idx.committed(1) and not pipe.clusters.committed(1)
    # redelivery of wave 1 through the pipeline heals the gap
    pipe.ingest(_fp(spark, _WAVES[1]), batch_id=1)
    assert pipe.clusters.committed(1)
    # the recovered mapping already reflects wave 1's pairs
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp == {1: 1, 2: 1, 3: 1}, comp
    pipe.ingest(_fp(spark, _WAVES[2]), batch_id=2)
    assert _drain(spark, pipe) == (batch_pairs, batch_comp)


def test_crash_before_any_commit_redelivers_cleanly(spark):
    """The other crash point: nothing of wave 1 committed (both probes
    false) — redelivery just runs the wave; and a wave whose pairs are
    EMPTY still commits both ledgers (the cluster replay probe must
    advance even with no edges)."""
    work = tempfile.mkdtemp(prefix="fps_pipe_c0_")
    pipe = StreamingNearDupPipeline(work, StreamingHammingIndex(f"{work}/idx"))
    # wave of one isolated doc: zero pairs, zero edges
    pipe.ingest(_fp(spark, [(20, 0x00FF00FF00FF00FF)]), batch_id=0)
    assert pipe.index.committed(0) and pipe.clusters.committed(0)
    assert pipe.mapping(spark).count() == 0
    # next wave pairs against state normally
    pipe.ingest(_fp(spark, [(1, 0x0F0F), (2, 0x0F0F)]), batch_id=1)
    comp = {r["node"]: r["comp"] for r in pipe.mapping(spark).collect()}
    assert comp == {1: 1, 2: 1}


def test_per_wave_write_io_appends_on_both_ledgers(spark):
    """A 1-doc wave after a 60-doc wave appends a sliver to BOTH the
    band ledger and the cluster mapping ledger — neither stage rewrites
    accumulated state inside the composed fold."""
    work = tempfile.mkdtemp(prefix="fps_pipe_io_")
    pipe = StreamingNearDupPipeline(work, StreamingHammingIndex(f"{work}/idx"))
    big = [(i, (i * 0x9E3779B97F4A7C15) % (1 << 63)) for i in range(60)]
    # plant one pair so the cluster ledger has mass
    big[1] = (1, big[0][1])
    pipe.ingest(_fp(spark, big), batch_id=0)
    b0 = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/clusters"))
    pipe.ingest(_fp(spark, [(1000, big[0][1] ^ 1)]), batch_id=1)
    b1 = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/clusters"))
    assert b1[0] > b0[0] and b1[1] > b0[1]
    assert b1[0] - b0[0] < b0[0] / 2, (b0, b1)


def test_forget_cascades_through_both_stages(spark):
    """Takedown through the composition: forgetting the CANONICAL doc
    prunes its bands and pairs from the index AND relabels its cluster
    survivors to the new minimum — no forgotten id survives anywhere,
    not even as a cluster label; untouched clusters untouched; unknown
    ids are a clean no-op."""
    work = tempfile.mkdtemp(prefix="fps_pipe_fg_")
    pipe = StreamingNearDupPipeline(work, StreamingHammingIndex(f"{work}/idx"))
    for b, wave in enumerate(_WAVES):
        pipe.ingest(_fp(spark, wave), batch_id=b)
    stats = pipe.forget(spark, [1])
    assert stats["bands_removed"] == 4 and stats["pairs_removed"] == 2
    assert stats["clusters"] == {"forgotten": 1, "touched_members": 2}
    pairs, comp = _drain(spark, pipe)
    assert pairs == {(2, 3), (10, 11)}
    assert comp == {2: 2, 3: 2, 10: 10, 11: 10}, comp
    assert 1 not in comp and 1 not in comp.values()
    noop = pipe.forget(spark, [4242])
    assert noop["bands_removed"] == 0 and noop["pairs_removed"] == 0
    assert noop["clusters"] == {"forgotten": 0, "touched_members": 0}
    assert _drain(spark, pipe) == (pairs, comp)


def test_pipeline_is_index_agnostic_frameset(spark):
    """The same composed fold runs over the video frameset index — the
    pipeline surface (ingest/committed/pairs_for_batch/forget) is the
    shared streaming-index contract, not a Hamming special case."""
    def grams(sets):
        rows = [(doc, sh) for doc, shingles in sets for sh in shingles]
        return spark.createDataFrame(rows, "doc long, shingle long")

    full = list(range(1, 11))
    near = list(range(1, 10)) + [13]  # J = 9/11 >= 0.8
    work = tempfile.mkdtemp(prefix="fps_pipe_fs_")
    pipe = StreamingNearDupPipeline(
        work, StreamingFrameSetIndex(f"{work}/idx", threshold=0.8)
    )
    pipe.ingest(grams([(1, full)]), batch_id=0)
    pipe.ingest(grams([(2, full), (30, [99, 98, 97])]), batch_id=1)
    pipe.ingest(grams([(4, near)]), batch_id=2)
    pairs, comp = _drain(spark, pipe)
    assert pairs == {(1, 2), (1, 4), (2, 4)}
    assert comp == {1: 1, 2: 1, 4: 1}, comp
