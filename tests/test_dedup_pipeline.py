"""StreamingNearDupPipeline contracts: the composed doc-waves →
pair-index → cluster fold equals the batch answer, lands every verb
(ingest, update, forget) in ONE manifest replace and survives a crash
inside it, keeps per-wave write IO append-only on both stages, and
cascades takedown through both stages."""

from __future__ import annotations

import os
import tempfile
from functools import partial

import pytest

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
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(f"{work}/idx"))
    for b, wave in enumerate(_WAVES):
        pipe.ingest(_fp(spark, wave), batch_id=b)
    assert _drain(spark, pipe) == (batch_pairs, batch_comp)

    before = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/idx"))
    pipe.ingest(_fp(spark, _WAVES[1]), batch_id=1)
    after = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/idx"))
    assert after == before
    assert _drain(spark, pipe) == (batch_pairs, batch_comp)


def test_crash_before_any_commit_redelivers_cleanly(spark):
    """A wave whose pairs are EMPTY still commits (the replay mark must
    advance even with no edges), and the next wave pairs against state
    normally."""
    work = tempfile.mkdtemp(prefix="fps_pipe_c0_")
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(f"{work}/idx"))
    # wave of one isolated doc: zero pairs, zero edges
    pipe.ingest(_fp(spark, [(20, 0x00FF00FF00FF00FF)]), batch_id=0)
    assert pipe.index.committed(0)
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
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(f"{work}/idx"))
    big = [(i, (i * 0x9E3779B97F4A7C15) % (1 << 63)) for i in range(60)]
    # plant one pair so the cluster ledger has mass
    big[1] = (1, big[0][1])
    pipe.ingest(_fp(spark, big), batch_id=0)
    b0 = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/idx"))
    pipe.ingest(_fp(spark, [(1000, big[0][1] ^ 1)]), batch_id=1)
    b1 = (band_state_bytes(f"{work}/idx"), cc_state_bytes(f"{work}/idx"))
    assert b1[0] > b0[0] and b1[1] > b0[1]
    assert b1[0] - b0[0] < b0[0] / 2, (b0, b1)


def test_forget_cascades_through_both_stages(spark):
    """Takedown through the composition: forgetting the CANONICAL doc
    prunes its bands and pairs from the index AND relabels its cluster
    survivors to the new minimum — no forgotten id survives anywhere,
    not even as a cluster label; untouched clusters untouched; unknown
    ids are a clean no-op."""
    work = tempfile.mkdtemp(prefix="fps_pipe_fg_")
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(f"{work}/idx"))
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
    pipeline surface is the shared streaming-index contract, not a
    Hamming special case."""
    def grams(sets):
        rows = [(doc, sh) for doc, shingles in sets for sh in shingles]
        return spark.createDataFrame(rows, "doc long, shingle long")

    full = list(range(1, 11))
    near = list(range(1, 10)) + [13]  # J = 9/11 >= 0.8
    work = tempfile.mkdtemp(prefix="fps_pipe_fs_")
    pipe = StreamingNearDupPipeline(StreamingFrameSetIndex(f"{work}/idx", threshold=0.8))
    pipe.ingest(grams([(1, full)]), batch_id=0)
    pipe.ingest(grams([(2, full), (30, [99, 98, 97])]), batch_id=1)
    pipe.ingest(grams([(4, near)]), batch_id=2)
    pairs, comp = _drain(spark, pipe)
    assert pairs == {(1, 2), (1, 4), (2, 4)}
    assert comp == {1: 1, 2: 1, 4: 1}, comp


# per verb: (waves ingested first, the call, the uncrashed run's drained
# pairs and mapping). The update moves doc 3 from {1,2,3} to 20's
# fingerprint (a retraction plus a merge), 11 out of its class, and
# inserts 99 beside {1,2}; the forget takes out canonical doc 1.
_UPD = [(3, 0x00FF00FF00FF00FF), (11, 0x5555AAAA5555AAAA), (99, 0x0F0E)]
VERBS = {
    "ingest": (
        2,
        lambda spark, pipe: pipe.ingest(_fp(spark, _WAVES[2]), batch_id=2),
        ({(1, 2), (1, 3), (2, 3), (10, 11)}, {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}),
    ),
    "update": (
        3,
        lambda spark, pipe: pipe.update(_fp(spark, _UPD), batch_id=3),
        ({(1, 2), (1, 99), (2, 99), (3, 20)}, {1: 1, 2: 1, 99: 1, 3: 3, 20: 3}),
    ),
    "forget": (
        3,
        lambda spark, pipe: pipe.forget(spark, [1]),
        ({(2, 3), (10, 11)}, {2: 2, 3: 2, 10: 10, 11: 10}),
    ),
}


@pytest.mark.parametrize("point", ["second_delta", "manifest"])
@pytest.mark.parametrize("verb", sorted(VERBS))
def test_one_commit_per_verb_survives_crash_inside_it(
    spark, tmp_path, crash_at, monkeypatch, verb, point
):
    """Index and cluster ledgers share one manifest, so each pipeline
    verb lands with ONE replace. A crash inside that commit (at its
    second delta write, or at the replace) leaves manifest.json
    byte-identical; the redelivered wave (the repeated forget) then
    reaches the uncrashed run's pairs and mapping with exactly one
    manifest replace."""
    n_waves, call, want = VERBS[verb]
    work = str(tmp_path / "p")
    pipe = StreamingNearDupPipeline(StreamingHammingIndex(work))
    for b in range(n_waves):
        pipe.ingest(_fp(spark, _WAVES[b]), batch_id=b)
    manifest = (tmp_path / "p" / "manifest.json").read_bytes()
    crash_at(point)
    with pytest.raises(RuntimeError, match="simulated crash"):
        call(spark, pipe)
    monkeypatch.undo()
    assert (tmp_path / "p" / "manifest.json").read_bytes() == manifest

    replaces, replace = [], os.replace

    def counted(src, dst):
        if str(dst).endswith("/manifest.json"):
            replaces.append(dst)
        return replace(src, dst)

    monkeypatch.setattr(os, "replace", counted)
    call(spark, pipe)  # the redelivery
    monkeypatch.undo()
    assert replaces == [f"{work}/manifest.json"]
    assert _drain(spark, pipe) == want
