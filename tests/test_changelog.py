"""Retraction-aware changelog (Flink toChangelogStream semantics).

Replays the reference's upsert fixture — four rows for iso='a'
(``WithStateTtlJob.java:62-77``, comment at :75: "Without this
restriction the join will produce four rows for 'a'") — and asserts the
exact Flink row-kind sequence, plus the bucketed-state IO property,
exactly-once ops across a crash, and no leaked cached RDDs.
"""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.streaming.changelog import (
    changelog_ops,
    keep_latest_changelog_stream,
)
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


# the reference fixture: four upserts of iso='a', one per wave, and the
# changelog Flink prints for them
FIXTURE_SCHEMA = "iso string, capital string, seq long"
FIXTURE_WAVES = [
    [("a", "a", 1)],
    [("a", "b", 2)],
    [("a", "c", 3)],
    [("a", "d", 4)],
]
FIXTURE_LOG = [
    (0, "+I", "a", "a"),
    (1, "+U", "a", "b"),
    (1, "-U", "a", "a"),
    (2, "+U", "a", "c"),
    (2, "-U", "a", "b"),
    (3, "+U", "a", "d"),
    (3, "-U", "a", "c"),
]


def _add_wave(spark, src, i, rows, schema=FIXTURE_SCHEMA):
    """Wave ``i`` as one parquet file in ``src``, ordered by mtime."""
    part = tempfile.mkdtemp(prefix="fps_clwave_")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(part)
    dst = f"{src}/wave{i}.parquet"
    shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
    os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))


def _wave_stream(spark, rows_per_wave, schema):
    """One parquet file per wave, drained one file per micro-batch."""
    src = f"{tempfile.mkdtemp(prefix='fps_clsrc_')}/src"
    os.makedirs(src)
    for i, rows in enumerate(rows_per_wave):
        _add_wave(spark, src, i, rows, schema)
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)


def _checkpointed_log(spark, src, work):
    """One checkpointed drain of the fixture waves present in ``src``."""
    stream = (
        spark.readStream.schema(FIXTURE_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    return keep_latest_changelog_stream(
        stream, "iso", "seq", n_buckets=4, work_dir=work, checkpoint=True
    )


def _ops(log):
    return [
        (r["batch_id"], r["op"], r["iso"], r["capital"])
        for r in log.orderBy("batch_id", "op").collect()
    ]


def test_flink_fixture_changelog_sequence(spark):
    """+I(a,a); -U(a,a)+U(a,b); -U(a,b)+U(a,c); -U(a,c)+U(a,d) — the
    changelog Flink prints for the PK'd countries view."""
    stream = _wave_stream(spark, FIXTURE_WAVES, FIXTURE_SCHEMA)
    got = _ops(keep_latest_changelog_stream(stream, "iso", "seq", n_buckets=4))
    assert got == FIXTURE_LOG
    # final upsert state = keep-latest oracle: exactly one row, capital 'd'
    final = {}
    for b, op, iso, cap in got:
        if op in ("+I", "+U"):
            final[iso] = cap
        elif op == "-D":
            final.pop(iso, None)
    assert final == {"a": "d"}


def test_late_loser_emits_nothing(spark):
    """A row that loses to the current state winner produces no ops
    (Flink's Deduplicate only speaks when the kept row changes)."""
    waves = [
        [("a", "new", 10), ("b", "x", 1)],
        [("a", "stale", 5)],  # older than seq 10 — must be silent
    ]
    stream = _wave_stream(spark, waves, "iso string, capital string, seq long")
    log = keep_latest_changelog_stream(stream, "iso", "seq", n_buckets=4)
    rows = log.collect()
    assert sorted((r["op"], r["iso"]) for r in rows) == [("+I", "a"), ("+I", "b")]


def test_changelog_ops_delete(spark):
    """Keys present only in the old snapshot emit -D."""
    old = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    new = spark.createDataFrame([("b", 3)], "k string, v long")
    got = {(r["op"], r["k"], r["v"]) for r in changelog_ops(old, new, ["k"]).collect()}
    assert got == {("-D", "a", 1), ("-U", "b", 2), ("+U", "b", 3)}


def test_bucketed_state_leaves_untouched_buckets_alone(spark, tmp_path):
    """Merging a batch that touches one bucket must not rewrite the
    parquet files of other buckets (per-batch IO ∝ touched buckets):
    untouched buckets keep their manifest entry and their files."""
    import json

    path = str(tmp_path / "state")
    st = TransactionalKeyState(path, ["k"], n_buckets=8)
    seed = spark.createDataFrame(
        [(f"k{i}", i, f"v{i}") for i in range(64)], "k string, seq long, payload string"
    )
    st.merge_keep_latest("w", 0, seed, "seq")

    def manifest():
        with open(f"{path}/manifest.json") as fh:
            return json.load(fh)["buckets"]

    before_manifest = manifest()
    assert len(before_manifest) > 1  # multiple buckets exist
    before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/t*/__bucket=*/*.parquet")}

    one = spark.createDataFrame([("k0", 100, "updated")], "k string, seq long, payload string")
    assert st.merge_keep_latest("w", 1, one, "seq")
    bucket_of_k0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("k0")), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    after_manifest = manifest()
    untouched = {b: v for b, v in before_manifest.items() if b != str(bucket_of_k0)}
    assert untouched, "expected untouched buckets"
    assert {b: after_manifest[b] for b in untouched} == untouched
    assert after_manifest[str(bucket_of_k0)] != before_manifest[str(bucket_of_k0)]
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/t*/__bucket=*/*.parquet")}
    surviving = {
        f for f in before if os.path.basename(os.path.dirname(f)) != f"__bucket={bucket_of_k0}"
    }
    for f in surviving:
        assert f in after and after[f] == before[f], f"untouched bucket rewritten: {f}"
    state = {(r["k"], r["seq"], r["payload"]) for r in st.read(spark).collect()}
    assert ("k0", 100, "updated") in state and len(state) == 64


def test_outer_join_changelog_reference_fixture(spark):
    """The reference's printed query (WithStateTtlJob.java:79-90): people
    LEFT OUTER JOIN the PK'd countries view, as a changelog. Four dim
    rows for iso='a' arrive one per batch; only Alice (country 'a') ever
    updates — Bob/Peter/Paul keep their +I null rows ("four rows for 'a'"
    stays one row per person)."""
    from flink_playground_spark.streaming.changelog import outer_join_changelog_stream

    people = spark.createDataFrame(
        [("Alice", 12, "a"), ("Bob", 5, "b"), ("Peter", 13, "c"), ("Paul", 13, "d")],
        "name string, age int, country string",
    )
    waves = [
        [("a", "a", 1)],
        [("a", "b", 2)],
        [("a", "c", 3)],
        [("a", "d", 4)],
    ]
    dim = _wave_stream(spark, waves, "iso string, capital string, seq long")
    log = outer_join_changelog_stream(
        people,
        dim,
        on=[("country", "iso")],
        dim_keys=["iso"],
        dim_order_col="seq",
        probe_keys=["name"],
        n_buckets=4,
    )
    rows = [
        (r["batch_id"], r["op"], r["name"], r["capital"])
        for r in log.orderBy("batch_id", "op", "name").collect()
    ]
    arrival = [t for t in rows if t[0] == 0]
    assert arrival == [
        (0, "+I", "Alice", None),
        (0, "+I", "Bob", None),
        (0, "+I", "Paul", None),
        (0, "+I", "Peter", None),
    ]
    assert [t for t in rows if t[0] > 0] == [
        (1, "+U", "Alice", "a"),
        (1, "-U", "Alice", None),
        (2, "+U", "Alice", "b"),
        (2, "-U", "Alice", "a"),
        (3, "+U", "Alice", "c"),
        (3, "-U", "Alice", "b"),
        (4, "+U", "Alice", "d"),
        (4, "-U", "Alice", "c"),
    ]
    # materialized view after replaying the changelog == the batch join
    state = {}
    for _, op, name, cap in rows:
        if op in ("+I", "+U"):
            state[name] = cap
        elif op == "-D":
            state.pop(name, None)
    assert state == {"Alice": "d", "Bob": None, "Peter": None, "Paul": None}


def test_changelog_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-relaunch durability: run the changelog over the first two
    waves, then relaunch with the same work_dir/checkpoint after two more
    waves arrive — the combined log must equal the uninterrupted 4-wave
    sequence (state reattaches, batch numbering continues, no re-emission
    of already-logged ops)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    work = str(tmp_path / "work")
    for i in (0, 1):
        _add_wave(spark, src, i, FIXTURE_WAVES[i])
    _checkpointed_log(spark, src, work).collect()  # first run: waves 0-1, then "crash"
    for i in (2, 3):
        _add_wave(spark, src, i, FIXTURE_WAVES[i])
    # relaunch: must consume only waves 2-3
    assert _ops(_checkpointed_log(spark, src, work)) == FIXTURE_LOG


def test_state_read_roundtrip(spark, tmp_path):
    st = TransactionalKeyState(str(tmp_path / "s"), ["k"], n_buckets=4)
    assert st.read(spark) is None
    st.merge_keep_latest(
        "w",
        0,
        spark.createDataFrame([("a", 1, "x"), ("a", 2, "y")], "k string, seq long, p string"),
        "seq",
    )
    rows = {(r["k"], r["seq"], r["p"]) for r in st.read(spark).collect()}
    assert rows == {("a", 2, "y")}


def test_changelog_ops_reconstruct_property(spark):
    """Soundness of the diff: for random before/after snapshots, applying
    the emitted ops to the before-state reconstructs the after-state
    exactly (+I/+U set, -D remove; -U rows must name the retracted
    values). Three seeded rounds with overlapping/disjoint key spaces."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        keys_old = rng.sample(range(40), rng.randint(5, 25))
        keys_new = rng.sample(range(40), rng.randint(5, 25))
        old_rows = [(f"k{k}", rng.randint(0, 3)) for k in keys_old]
        new_rows = [(f"k{k}", rng.randint(0, 3)) for k in keys_new]
        old = spark.createDataFrame(old_rows, "k string, v long")
        new = spark.createDataFrame(new_rows, "k string, v long")
        ops = changelog_ops(old, new, ["k"]).collect()

        state = dict(old_rows)
        retracted = {}
        for r in ops:
            if r["op"] in ("+I", "+U"):
                state[r["k"]] = r["v"]
            elif r["op"] == "-D":
                state.pop(r["k"])
            elif r["op"] == "-U":
                retracted[r["k"]] = r["v"]
        assert state == dict(new_rows), f"seed {seed}: reconstruction failed"
        # every -U names the value that actually stood before
        before = dict(old_rows)
        for k, v in retracted.items():
            assert before[k] == v, f"seed {seed}: -U retracted wrong value"
        # unchanged keys are silent
        unchanged = {k for k, v in old_rows if dict(new_rows).get(k) == v}
        assert not unchanged & {r["k"] for r in ops}, f"seed {seed}: noisy ops"


def test_bucketed_state_refuses_layout_mismatch(spark, tmp_path):
    """Reattaching to on-disk state with a different key set would
    silently mis-route keys — it must refuse loudly. A different bucket
    count is adopted from the committed manifest instead."""
    path = str(tmp_path / "s")
    st = TransactionalKeyState(path, ["k"], n_buckets=8)
    st.merge_keep_latest(
        "w", 0, spark.createDataFrame([("a", 1, "x")], "k string, seq long, p string"), "seq"
    )
    with pytest.raises(ValueError, match="mis-route"):
        TransactionalKeyState(path, ["other"], n_buckets=8).read(spark)
    other_count = TransactionalKeyState(path, ["k"], n_buckets=16)
    assert {(r["k"], r["seq"]) for r in other_count.read(spark).collect()} == {("a", 1)}
    assert other_count.n_buckets == 8
    # same layout reattaches fine
    st2 = TransactionalKeyState(path, ["k"], n_buckets=8)
    assert {(r["k"], r["seq"]) for r in st2.read(spark).collect()} == {("a", 1)}


def test_outer_join_changelog_colliding_column_names(spark):
    """Dim payload columns that collide with probe names get the
    right_ prefix (the as_of_join convention) instead of producing an
    ambiguous schema."""
    from flink_playground_spark.streaming.changelog import outer_join_changelog_stream

    probe = spark.createDataFrame(
        [("p1", "a", 99)], "pid string, iso string, seq int"  # 'seq' collides
    )
    waves = [[("a", "x", 1)], [("a", "y", 2)]]
    dim = _wave_stream(spark, waves, "iso string, capital string, seq long")
    log = outer_join_changelog_stream(
        probe, dim, on=[("iso", "iso")], dim_keys=["iso"],
        dim_order_col="seq", probe_keys=["pid"], n_buckets=2,
    )
    assert "right_seq" in log.columns and "seq" in log.columns
    rows = [(r["batch_id"], r["op"], r["capital"], r["right_seq"]) for r in log.orderBy("batch_id", "op").collect()]
    assert rows == [
        (0, "+I", None, None),
        (1, "+U", "x", 1),
        (1, "-U", None, None),
        (2, "+U", "y", 2),
        (2, "-U", "x", 1),
    ]


def test_changelog_exactly_once_across_crash_before_commit(spark, tmp_path, monkeypatch):
    """The fold dies after batch 2's ops are written and before its state
    commit. The relaunch (same work_dir, checkpoint=True) replays batch 2
    against the old state and rewrites the same ops directory, so the log
    equals the uninterrupted run's: no op is lost or duplicated."""
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(FIXTURE_WAVES):
        _add_wave(spark, src, i, rows)
    work = str(tmp_path / "work")

    commit = TransactionalKeyState._commit
    calls = []

    def crash_on_third_commit(self, manifest):
        calls.append(manifest["txn"])
        if len(calls) == 3:
            raise RuntimeError("crash before the state commit")
        commit(self, manifest)

    monkeypatch.setattr(TransactionalKeyState, "_commit", crash_on_third_commit)
    with pytest.raises(Exception, match="crash before the state commit"):
        _checkpointed_log(spark, src, work)
    # batch 2's ops were written ahead of the failed commit
    assert glob.glob(f"{work}/ops/*/b2/*.parquet")
    monkeypatch.undo()

    assert _ops(_checkpointed_log(spark, src, work)) == FIXTURE_LOG


def test_changelog_stream_leaks_no_cached_rdds(spark):
    """Draining the changelog leaves no persisted RDD behind (the old
    path leaked one localCheckpoint per state read)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    stream = _wave_stream(spark, FIXTURE_WAVES, FIXTURE_SCHEMA)
    log = keep_latest_changelog_stream(stream, "iso", "seq", n_buckets=4)
    assert log.count() == len(FIXTURE_LOG)
    assert jsc.getPersistentRDDs().size() <= before
