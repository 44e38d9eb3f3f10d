"""Streaming chunk-level dedup: drained stream == batch answer; state IO
bucketed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.queries import EXTRA_REGISTRY, REGISTRY
from flink_playground_spark.streaming.chunkdedup import streaming_chunk_dedup

# rotation-safe lookup: driver-gate rotation moves entries between the
# registries without changing what these tests pin
ALL_QUERIES = {**REGISTRY, **EXTRA_REGISTRY}
from flink_playground_spark.streaming.runners import replay_documents_stream


def _rows(pdf):
    return sorted(map(tuple, pdf.values))


def test_streaming_chunk_dedup_equals_batch(spark, sf_dir, tmp_path):
    stream = replay_documents_stream(spark, sf_dir, waves=3)
    secs: list = []
    got = streaming_chunk_dedup(
        stream, work_dir=str(tmp_path / "state"), batch_seconds=secs
    ).toPandas()
    want = ALL_QUERIES["chunk_dedup"].spark_fn(spark, sf_dir).toPandas()
    cols = ["chunk_fp", "n_tokens", "n_occurrences", "n_docs", "canonical_doc"]
    assert _rows(got[cols]) == _rows(want[cols])
    assert len(secs) == 3


def test_streaming_chunk_dedup_state_reattach(spark, sf_dir, tmp_path):
    """Running the second half of the corpus against state left by the
    first half gives the same final answer — state survives operator
    restarts (the ingestion-pipeline resume story)."""
    work = str(tmp_path / "state")
    from flink_playground_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    # use the foreachBatch fold directly via one-wave streams
    import glob
    import shutil
    import tempfile

    def one_wave_stream(df):
        w = tempfile.mkdtemp(prefix="fps_wave_")
        part = f"{w}/p"
        df.coalesce(1).write.mode("overwrite").parquet(part)
        src = f"{w}/src"
        import os

        os.makedirs(src)
        shutil.copy(glob.glob(f"{part}/*.parquet")[0], f"{src}/wave.parquet")
        return spark.readStream.schema(df.schema).parquet(src)

    streaming_chunk_dedup(one_wave_stream(half_a), work_dir=work)
    got = streaming_chunk_dedup(one_wave_stream(half_b), work_dir=work).toPandas()
    want = ALL_QUERIES["chunk_dedup"].spark_fn(spark, sf_dir).toPandas()
    cols = ["chunk_fp", "n_tokens", "n_occurrences", "n_docs", "canonical_doc"]
    assert _rows(got[cols]) == _rows(want[cols])


def test_merge_changes_cdc_apply(spark, tmp_path):
    """CDC apply on transactional state: upserts, deletes, delete-then-
    reinsert ordering, stale rows, and a wave that deletes every key of
    one bucket — the bucket must leave the manifest (no txn directory
    holds its rows) while the untouched buckets keep their entries."""
    import json

    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    path = str(tmp_path / "cdc_state")
    st = TransactionalKeyState(path, ["k"], n_buckets=4)
    waves = iter(range(100))

    def apply(rows):
        df = spark.createDataFrame(rows, "op string, k long, v string, ver long")
        return st.merge_changes("cdc", next(waves), df, "op", "ver")

    def buckets():
        with open(f"{path}/manifest.json") as fh:
            return json.load(fh)["buckets"]

    # wave 1: plain inserts
    apply([("U", k, f"v{k}", 1) for k in range(8)])
    assert {(r.k, r.v) for r in st.read(spark).collect()} == {(k, f"v{k}") for k in range(8)}

    # wave 2: update 0, delete 1, stale update of 2 (ver 0 loses to stored
    # ver 1), delete-then-reinsert 3, insert-then-delete 9 within batch
    apply(
        [
            ("U", 0, "v0b", 2),
            ("D", 1, None, 2),
            ("U", 2, "stale", 0),
            ("D", 3, None, 2),
            ("U", 3, "back", 3),
            ("U", 9, "nine", 2),
            ("D", 9, None, 3),
        ]
    )
    got = {(r.k, r.v) for r in st.read(spark).collect()}
    want = {(0, "v0b"), (2, "v2"), (3, "back"), (4, "v4"), (5, "v5"), (6, "v6"), (7, "v7")}
    assert got == want

    # wave 3: delete EVERY key of one bucket
    bucket_of = {
        r.k: r.b
        for r in spark.createDataFrame([(k,) for k in range(10)], "k long")
        .withColumn("b", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int"))
        .collect()
    }
    target = bucket_of[0]
    victims = [k for k, _ in want if bucket_of[k] == target]
    before = buckets()
    assert str(target) in before
    assert apply([("D", k, None, 10) for k in victims])
    after = buckets()
    assert str(target) not in after
    assert after == {b: v for b, v in before.items() if b != str(target)}
    got = {(r.k, r.v) for r in st.read(spark).collect()}
    assert got == {(k, v) for k, v in want if bucket_of[k] != target}

    # reattach: a new instance sees the same state
    st2 = TransactionalKeyState(path, ["k"], n_buckets=4)
    assert {(r.k, r.v) for r in st2.read(spark).collect()} == got


def _listing(path):
    import os

    return sorted(
        (os.path.relpath(os.path.join(d, f), path), os.path.getsize(os.path.join(d, f)))
        for d, _, files in os.walk(path)
        for f in files
    )


def test_bucketed_state_schema_evolution(spark, tmp_path):
    """Schema drift on keep-latest state is refused loudly: a later wave
    that adds a column, or omits a committed one, raises a ValueError
    naming it before anything is written — the store never null-fills
    or drops a column silently."""
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    path = str(tmp_path / "evo")
    st = TransactionalKeyState(path, ["k"], n_buckets=4)
    st.merge_keep_latest(
        "w",
        0,
        spark.createDataFrame(
            [(1, "a", 1, 0.9), (2, "b", 1, 0.5)], "k long, v string, ts long, quality double"
        ),
        "ts",
    )
    listing = _listing(path)
    added = spark.createDataFrame(
        [(2, "b2", 2, 0.9, "x")], "k long, v string, ts long, quality double, src string"
    )
    with pytest.raises(ValueError, match="src"):
        st.merge_keep_latest("w", 1, added, "ts")
    omitted = spark.createDataFrame([(4, "d", 3)], "k long, v string, ts long")
    with pytest.raises(ValueError, match="quality"):
        st.merge_keep_latest("w", 1, omitted, "ts")
    assert _listing(path) == listing
    got = {r.k: (r.v, r.quality) for r in st.read(spark).collect()}
    assert got == {1: ("a", 0.9), 2: ("b", 0.5)}


def test_merge_changes_schema_evolution_keeps_state_columns(spark, tmp_path):
    """Schema drift on CDC state is refused loudly: a wave that omits a
    committed column (or adds one) raises a ValueError naming it, the
    stored columns and rows stay as committed, and the directory listing
    is unchanged."""
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    path = str(tmp_path / "cdc_evo")
    st = TransactionalKeyState(path, ["k"], n_buckets=4)
    st.merge_changes(
        "cdc",
        0,
        spark.createDataFrame(
            [("U", 1, "a", 1, 0.9), ("U", 2, "b", 1, 0.5)],
            "op string, k long, v string, ver long, quality double",
        ),
        "op",
        "ver",
    )
    listing = _listing(path)
    omitted = spark.createDataFrame(
        [("U", 2, "b2", 2), ("U", 3, "c", 2), ("D", 1, None, 2)],
        "op string, k long, v string, ver long",
    )
    with pytest.raises(ValueError, match="quality"):
        st.merge_changes("cdc", 1, omitted, "op", "ver")
    added = spark.createDataFrame(
        [("U", 3, "c", 2, 0.7, "x")],
        "op string, k long, v string, ver long, quality double, src string",
    )
    with pytest.raises(ValueError, match="src"):
        st.merge_changes("cdc", 1, added, "op", "ver")
    assert _listing(path) == listing
    got = {r.k: (r.v, r.quality) for r in st.read(spark).collect()}
    assert got == {1: ("a", 0.9), 2: ("b", 0.5)}



def test_exact_substring_dedup_offset_shifted_golden(spark):
    """The operator's reason to exist: an offset-shifted exact copy
    inside otherwise-novel text. CDC chunking misses it (every word in
    the corpus is a non-boundary word by construction, so each document
    is one chunk and no chunk repeats), exact-substring dedup excises
    EXACTLY the copied run — nothing more — while the first occurrence
    survives untouched. Also pins the self-repeat case (second
    occurrence within one document removed, first kept) and the
    short-document passthrough."""
    from flink_playground_spark.functions.chunking import dedup_chunks_global
    from flink_playground_spark.functions.dedupe import exact_substring_dedup

    boiler = "the quick brown fox jumps over the sleepy wolf near the river bank today"
    rep = "zebra quartz violet marble sunset harbor crystal willow thunder"
    d2_prefix = "completely different preamble text here "  # 40 chars
    d2_tail = " plus fresh new tail"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {boiler} omega"),
            (2, f"{d2_prefix}{boiler}{d2_tail}"),   # offset-shifted copy
            (3, f"{rep} filler words {rep}"),        # self-repeat
            (4, "tiny"),                              # < min_len
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["removed_chars"])
        for r in exact_substring_dedup(docs, "doc_id", "text", min_len=40).collect()
    }
    # first occurrence + short doc: byte-identical passthrough
    assert got[1] == (f"alpha {boiler} omega", 0)
    assert got[4] == ("tiny", 0)
    # offset-shifted copy: the excised span is the boiler PLUS its two
    # flanking spaces — doc 1 also has spaces around its occurrence, so
    # the duplicated run genuinely extends one char each way; the other
    # straddling grams are novel and survive
    assert got[2] == (d2_prefix[:-1] + d2_tail[1:], len(boiler) + 2)
    # self-repeat: the second occurrence goes, the first stays
    assert got[3] == (f"{rep} filler words ", len(rep))

    # CDC chunk dedup does NOT catch the doc-2 copy: no word is a
    # boundary word, so each doc is a single chunk and nothing repeats
    cdc = {
        r["doc_id"]: r["cleaned_text"]
        for r in dedup_chunks_global(docs, "doc_id", "text").collect()
    }
    assert boiler in cdc[2], "CDC unexpectedly caught the offset-shifted copy"

def test_streaming_substring_ledger_out_of_order_waves_equal_batch(spark, sf_dir, tmp_path):
    """The gram ledger's MIN/SUM merges are order-free: ingesting waves
    that interleave doc_ids (w = doc_id % 3 delivers doc 3 before doc 1's
    wave finishes the corpus) must land on exactly the batch firsts, and
    the post-drain rewrite must equal the batch operator byte for byte —
    including removed_chars."""
    from flink_playground_spark.functions.dedupe import exact_substring_dedup
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    led = StreamingSubstringLedger(str(tmp_path / "led"), min_len=30)
    # deliberately NOT in doc_id order
    for w in (2, 0, 1):
        led.ingest(docs.filter(F.col("doc_id") % 3 == w))
    got = {r["doc_id"]: (r["text"], r["removed_chars"]) for r in led.rewrite(docs).collect()}
    want = {
        r["doc_id"]: (r["text"], r["removed_chars"])
        for r in exact_substring_dedup(docs, "doc_id", "text", min_len=30).collect()
    }
    assert got == want and any(v[1] > 0 for v in want.values())


def test_streaming_substring_ledger_reattach_and_pre_ingest(spark, sf_dir, tmp_path):
    """A second ledger instance on the same path resumes the on-disk
    state (restart story), and a fresh ledger's rewrite is the identity
    (nothing ingested -> nothing duplicated)."""
    from flink_playground_spark.functions.dedupe import exact_substring_dedup
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    fresh = StreamingSubstringLedger(str(tmp_path / "fresh"), min_len=30)
    ident = {r["doc_id"]: (r["text"], r["removed_chars"]) for r in fresh.rewrite(docs).collect()}
    orig = {r["doc_id"]: (r["text"], 0) for r in docs.collect()}
    assert ident == orig

    a = StreamingSubstringLedger(str(tmp_path / "led"), min_len=30)
    a.ingest(docs.filter(F.col("doc_id") % 2 == 0))
    b = StreamingSubstringLedger(str(tmp_path / "led"), min_len=30)  # reattach
    b.ingest(docs.filter(F.col("doc_id") % 2 == 1))
    got = {r["doc_id"]: (r["text"], r["removed_chars"]) for r in b.rewrite(docs).collect()}
    want = {
        r["doc_id"]: (r["text"], r["removed_chars"])
        for r in exact_substring_dedup(docs, "doc_id", "text", min_len=30).collect()
    }
    assert got == want


def _state_files(root):
    """{relpath: (size, mtime_ns)} snapshot of every file under root."""
    import os

    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            rel = os.path.relpath(p, root)
            st = os.stat(p)
            out[rel] = (st.st_size, st.st_mtime_ns)
    return out


def test_substring_ledger_per_wave_write_io_tracks_wave(spark, sf_dir, tmp_path):
    """The round-10 contract: ingest is APPEND-ONLY — a wave writes new
    delta files proportional to ITS OWN grams and never rewrites prior
    state (the round-9 design rewrote the whole accumulated ledger each
    wave). Measured on files, not wall-clock: after a big first wave, a
    one-doc wave must (a) leave every pre-existing state file untouched
    byte-for-byte and (b) write an order of magnitude fewer bytes than
    the big wave did."""
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    led = StreamingSubstringLedger(str(tmp_path / "led"), min_len=30)
    led.ingest(docs.filter(F.col("doc_id") % 2 == 0))  # big wave
    before = _state_files(str(tmp_path / "led"))
    big_bytes = sum(s for s, _ in before.values())

    tiny = docs.filter(F.col("doc_id") == 1).limit(1)
    led.ingest(tiny)
    after = _state_files(str(tmp_path / "led"))
    # (a) append-only: every pre-existing data file survives unmodified
    # (the manifest json is the one expected rewrite)
    changed = [
        p for p in before
        if p in after and after[p] != before[p] and not p.endswith((".json", ".lock"))
    ]
    removed = [p for p in before if p not in after and not p.endswith((".json", ".tmp", ".lock", ".crc"))]
    assert changed == [] and removed == [], (changed, removed)
    # (b) the tiny wave's new bytes ∝ its grams, not total state
    new_bytes = sum(
        s for p, (s, _) in after.items() if p not in before and not p.endswith(".json")
    )
    assert 0 < new_bytes < big_bytes / 5, (new_bytes, big_bytes)


def test_substring_ledger_compaction_and_replay_skip(spark, tmp_path):
    """Auto-compaction folds the live deltas back to one dir without
    changing the folded ledger, and a redelivered (writer, batch) wave
    is skipped (exactly-once under foreachBatch's at-least-once)."""
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    base = "abcdefghij klmnopqrst uvwxyz0123 4567890abc defghijklm "
    docs = spark.createDataFrame(
        [(i, base * 2 + f"tail{i}") for i in range(6)], "doc_id bigint, text string"
    )
    led = StreamingSubstringLedger(str(tmp_path / "led"), min_len=30, compact_every=3)
    assert led.ingest(docs.filter("doc_id < 2"), writer_id="w", batch_id=0)
    assert led.ingest(docs.filter("doc_id in (2,3)"), writer_id="w", batch_id=1)
    # replay of batch 1: skipped, ledger unchanged
    assert not led.ingest(docs.filter("doc_id in (2,3)"), writer_id="w", batch_id=1)
    snap = {tuple(r) for r in led.firsts(spark).collect()}
    # third append crosses compact_every=3 -> auto-compaction to 1 delta
    assert led.ingest(docs.filter("doc_id >= 4"), writer_id="w", batch_id=2)
    assert led.state._manifest()["deltas"] == [led.state._manifest()["seq"]]
    # compaction preserved batches 0-1 contributions exactly: re-fold of
    # the compacted ledger minus wave-2 docs is impossible to read back
    # directly, so assert instead on the FULL ledger equalling a fresh
    # one-shot ingest of all six docs
    fresh = StreamingSubstringLedger(str(tmp_path / "fresh"), min_len=30)
    fresh.ingest(docs)
    assert {tuple(r) for r in led.firsts(spark).collect()} == {
        tuple(r) for r in fresh.firsts(spark).collect()
    }
    assert len(snap) > 0


def test_append_delta_steady_state_fan_in_bounded_long_stream(spark, tmp_path):
    """Steady-state contract under LONG streams (r11, VERDICT #6): after
    every append across >= 3 x compact_every waves, the live-delta count
    stays <= compact_every — so read fan-in (and with it ``firsts()``
    cost) is bounded by the compaction knob, not by how many waves ever
    committed. Covers both AppendDeltaState users: the substring gram
    ledger and the phash band ledger."""
    import time

    from flink_playground_spark.streaming.phash_index import StreamingPhashIndex
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    base = "abcdefghij klmnopqrst uvwxyz0123 4567890abc defghijklm "
    led = StreamingSubstringLedger(str(tmp_path / "led"), min_len=30, compact_every=3)
    mid_t = None
    for w in range(10):
        docs = spark.createDataFrame(
            [(w * 3 + i, base * 2 + f"tail{w}_{i}") for i in range(3)],
            "doc_id bigint, text string",
        )
        assert led.ingest(docs, writer_id="w", batch_id=w)
        assert len(led.state._manifest()["deltas"]) <= 3, w
        if w == 3:
            t0 = time.perf_counter()
            led.firsts(spark).count()
            mid_t = time.perf_counter() - t0
    t0 = time.perf_counter()
    n = led.firsts(spark).count()
    late_t = time.perf_counter() - t0
    assert n > 0
    # flat within noise: fan-in is pinned above, so the late read must
    # not scale with wave count (generous 4x bound absorbs jitter)
    assert late_t < max(mid_t, 0.2) * 4, (mid_t, late_t)

    idx = StreamingPhashIndex(str(tmp_path / "ph"))
    for ledger in (idx._bands, idx._pairs, idx._overflow):
        ledger.compact_every = 3
    for w in range(10):
        rows = [(w * 4 + i, (w * 4 + i) * 0x9E3779B97F4A7C15 % (1 << 62)) for i in range(4)]
        idx.ingest(
            spark.createDataFrame(rows, "doc long, sh long"), batch_id=w
        )
        assert len(idx._bands._manifest()["deltas"]) <= 3, w
        assert len(idx._pairs._manifest()["deltas"]) <= 3, w
    assert idx.pairs(spark).count() >= 0


def test_substring_planted_total_collision_still_exact(spark):
    """The collision-safety argument, pinned executable: with the hash
    forced to lit(0) EVERY gram collides into one hash — the prune
    admits everything and the residual raw-gram phase must still produce
    exactly the default answer, for both the batch operator and the
    streaming ledger (a unique gram that rode in on a collision shows
    count 1 in the exact phase and is dropped)."""
    import tempfile

    from flink_playground_spark.functions.dedupe import (
        exact_substring_dedup,
        exact_substring_spans,
        rebuild_without_spans,
    )
    from flink_playground_spark.streaming.substring_dedup import StreamingSubstringLedger

    boiler = "the quick brown fox jumps over the sleepy wolf near the river bank today"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {boiler} omega"),
            (2, f"completely different preamble text here {boiler} plus fresh new tail"),
            (3, "a wholly unique document with no repeats anywhere in it at all ok"),
        ],
        "doc_id bigint, text string",
    )
    want = {
        tuple(r) for r in exact_substring_dedup(docs, "doc_id", "text", min_len=40).collect()
    }
    collide = lambda c: F.lit(0).cast("long")  # noqa: E731
    got_batch = {
        tuple(r)
        for r in rebuild_without_spans(
            docs,
            exact_substring_spans(docs, "doc_id", "text", min_len=40, _hash=collide),
            "doc_id",
            "text",
        ).collect()
    }
    assert got_batch == want
    led = StreamingSubstringLedger(
        tempfile.mkdtemp(prefix="fps_coll_"), min_len=40, _hash=collide
    )
    for w in (1, 0):
        led.ingest(docs.filter(F.col("doc_id") % 2 == w))
    got_stream = {tuple(r) for r in led.rewrite(docs).collect()}
    assert got_stream == want
