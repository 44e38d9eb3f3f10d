"""Exactly-once transactional bucketed state (streaming/txn_state.py)."""

from __future__ import annotations

import json
import shutil

from pyspark.sql import functions as F

from flink_playground_spark.sources.tables import load_table
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


def _waves(events, k=3):
    return [events.filter(F.col("event_id") % k == i) for i in range(k)]


def _agg_partials(df):
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
    )


def _batch_answer(events):
    return {
        (r.user_id, r.n, round(r.sv, 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    }


def _state_answer(st, spark):
    return {(r.user_id, r.n, round(r.sv, 6)) for r in st.read(spark).collect()}


def test_replayed_batch_does_not_double_count(spark, sf_dir, tmp_path):
    """Aggregate merges under at-least-once delivery: replaying a
    committed batch id is skipped, so counts match the batch answer —
    the failure BucketedKeyState.merge_aggregate would double-count."""
    events = load_table(spark, sf_dir, "events")
    st = TransactionalKeyState(str(tmp_path / "txn"), ["user_id"], n_buckets=8)
    w = _waves(events)
    agg = [F.sum("n").alias("n"), F.sum("sv").alias("sv")]
    assert st.merge_aggregate("q1", 0, _agg_partials(w[0]), agg) is True
    assert st.merge_aggregate("q1", 1, _agg_partials(w[1]), agg) is True
    # the crash-replay: batch 1 delivered again
    assert st.merge_aggregate("q1", 1, _agg_partials(w[1]), agg) is False
    assert st.merge_aggregate("q1", 2, _agg_partials(w[2]), agg) is True
    assert _state_answer(st, spark) == _batch_answer(events)


def test_crash_before_commit_replays_cleanly(spark, sf_dir, tmp_path):
    """Simulated crash between the data write and the manifest commit:
    restore the pre-batch manifest (the data files become orphans), then
    replay the batch — the merge reproduces exactly and orphans stay
    invisible; vacuum removes them without disturbing reads."""
    events = load_table(spark, sf_dir, "events")
    st = TransactionalKeyState(str(tmp_path / "txn"), ["user_id"], n_buckets=8)
    w = _waves(events)
    agg = [F.sum("n").alias("n"), F.sum("sv").alias("sv")]
    st.merge_aggregate("q1", 0, _agg_partials(w[0]), agg)
    before = json.load(open(f"{st.path}/manifest.json"))
    st.merge_aggregate("q1", 1, _agg_partials(w[1]), agg)
    # crash: commit never happened — roll the manifest back, t1 files orphaned
    json.dump(before, open(f"{st.path}/manifest.json", "w"))
    # replay writes t1 again and commits this time
    assert st.merge_aggregate("q1", 1, _agg_partials(w[1]), agg) is True
    st.merge_aggregate("q1", 2, _agg_partials(w[2]), agg)
    assert _state_answer(st, spark) == _batch_answer(events)
    # vacuum drops shadowed versions/orphans; state unchanged
    removed = st.vacuum()
    assert removed >= 0
    assert _state_answer(st, spark) == _batch_answer(events)


def test_keep_latest_replay_skipped(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    st = TransactionalKeyState(str(tmp_path / "kl"), ["user_id"], n_buckets=4)
    w = _waves(events, 2)
    sel = lambda d: d.select("user_id", "ts", "event_id", "event_type")
    assert st.merge_keep_latest("q1", 0, sel(w[0]), "ts", ("event_id",)) is True
    assert st.merge_keep_latest("q1", 1, sel(w[1]), "ts", ("event_id",)) is True
    assert st.merge_keep_latest("q1", 1, sel(w[1]), "ts", ("event_id",)) is False
    from flink_playground_spark.operators.dedup import dedup_latest

    want = {
        tuple(r)
        for r in dedup_latest(sel(events), ["user_id"], "ts", ("event_id",)).collect()
    }
    assert {tuple(r) for r in st.read(spark).collect()} == want


def test_distinct_writers_do_not_collide(spark, sf_dir, tmp_path):
    """A NEW logical query restarting batch ids at 0 is new data, not a
    replay — the writer scope keeps the skip from eating it (the bug a
    global batch-id watermark would have)."""
    events = load_table(spark, sf_dir, "events")
    st = TransactionalKeyState(str(tmp_path / "w"), ["user_id"], n_buckets=4)
    agg = [F.sum("n").alias("n"), F.sum("sv").alias("sv")]
    a, b = _waves(events, 2)
    assert st.merge_aggregate("qA", 0, _agg_partials(a), agg) is True
    assert st.merge_aggregate("qB", 0, _agg_partials(b), agg) is True  # not skipped
    assert _state_answer(st, spark) == _batch_answer(events)


def test_concurrent_merge_is_a_loud_error(spark, sf_dir, tmp_path):
    """The single-writer protocol is enforced, not assumed: a merge
    attempted while another holds the writer lock raises
    ConcurrentWriteError instead of silently dropping commits."""
    import fcntl

    import pytest

    from flink_playground_spark.streaming.txn_state import ConcurrentWriteError

    events = load_table(spark, sf_dir, "events")
    st = TransactionalKeyState(str(tmp_path / "cc"), ["user_id"], n_buckets=4)
    agg = [F.sum("n").alias("n"), F.sum("sv").alias("sv")]
    st.merge_aggregate("q", 0, _agg_partials(events), agg)

    holder = open(f"{st.path}/.writer.lock", "w")
    fcntl.flock(holder, fcntl.LOCK_EX)
    try:
        with pytest.raises(ConcurrentWriteError):
            st.merge_aggregate("q", 1, _agg_partials(events), agg)
    finally:
        fcntl.flock(holder, fcntl.LOCK_UN)
        holder.close()
    # released: the merge goes through
    assert st.merge_aggregate("q", 1, _agg_partials(events), agg) is True


def test_retention_bounds_files_over_long_replay(spark, sf_dir, tmp_path):
    """Steady-state retention: 12 committed batches with retain_txns=3
    leave a bounded version-dir count (old shadowed versions pruned at
    commit), replays are still skipped, and the final state equals the
    batch answer. A zero-retention store run side-by-side keeps growing."""
    import os

    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1200)
    n_waves = 12
    waves = _waves(events, k=n_waves)
    agg = [F.sum("n").alias("n"), F.sum("sv").alias("sv")]

    def tdirs(p):
        return sorted(d for d in os.listdir(p) if d.startswith("t") and d[1:].isdigit())

    st = TransactionalKeyState(str(tmp_path / "r"), ["user_id"], n_buckets=4, retain_txns=3)
    un = TransactionalKeyState(str(tmp_path / "u"), ["user_id"], n_buckets=4, retain_txns=0)
    for i, w in enumerate(waves):
        assert st.merge_aggregate("q", i, _agg_partials(w), agg) is True
        assert un.merge_aggregate("q", i, _agg_partials(w), agg) is True
    # unbounded store: one version dir per commit survives
    assert len(tdirs(tmp_path / "u")) == n_waves
    # retained store: current versions + grace window only
    assert len(tdirs(tmp_path / "r")) <= 3 + 1 + 1, tdirs(tmp_path / "r")
    # replay of an old committed batch: skipped, state untouched
    assert st.merge_aggregate("q", 5, _agg_partials(waves[5]), agg) is False
    assert _state_answer(st, spark) == _batch_answer(events)
    # every manifest-referenced bucket path still exists (pruning never
    # touches the live set)
    man = json.load(open(tmp_path / "r" / "manifest.json"))
    for b, v in man["buckets"].items():
        assert os.path.isdir(tmp_path / "r" / f"t{v}" / f"__bucket={b}")


def test_prune_is_transactional_retention(spark, sf_dir, tmp_path):
    """Predicate delete: only matching rows go, only buckets holding
    them are rewritten, emptied buckets leave the manifest, and the
    writers ledger survives — a replayed wave whose rows were pruned is
    still skipped (retention never resurrects data)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    st = TransactionalKeyState(str(tmp_path / "st"), ["user_id"], n_buckets=4)
    for i, w in enumerate(_waves(events)):
        st.merge_aggregate(
            "w", i, _agg_partials(w),
            [F.sum("n").alias("n"), F.sum("sv").alias("sv")],
        )
    before = st.read(spark).count()
    cutoff = st.read(spark).selectExpr("percentile(user_id, 0.5)").first()[0]
    expected_gone = st.read(spark).filter(F.col("user_id") < cutoff).count()
    assert 0 < expected_gone < before

    manifest_before = json.load(open(f"{tmp_path}/st/manifest.json"))
    removed = st.prune(spark, F.col("user_id") < cutoff)
    assert removed == expected_gone
    after = st.read(spark)
    assert after.count() == before - removed
    assert after.filter(F.col("user_id") < cutoff).count() == 0
    manifest_after = json.load(open(f"{tmp_path}/st/manifest.json"))
    # ledger intact: the replayed wave is still a no-op after the prune
    assert manifest_after["writers"] == manifest_before["writers"]
    assert not st.merge_aggregate(
        "w", 1, _agg_partials(_waves(events)[1]),
        [F.sum("n").alias("n"), F.sum("sv").alias("sv")],
    )
    assert st.read(spark).filter(F.col("user_id") < cutoff).count() == 0
    # a prune matching nothing is a no-op transaction
    assert st.prune(spark, F.col("user_id") < -1) == 0
    # delete-everything empties the manifest rather than leaving
    # zero-row bucket files
    st.prune(spark, F.lit(True))
    assert st.read(spark) is None
    assert json.load(open(f"{tmp_path}/st/manifest.json"))["buckets"] == {}


def test_window_topn_expire_drops_old_windows_only(spark, sf_dir, tmp_path):
    """Window retention on the Top-N operator: expired windows vanish
    from state and ranks, the live horizon is untouched."""
    from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    op = StreamingWindowTopN(str(tmp_path / "wt"), "user_id", "ts", "1 hour")
    for i, w in enumerate(_waves(ev)):
        op.ingest(w, batch_id=i)
    windows = sorted(
        r.window_end for r in op.state.read(spark).select("window_end").distinct().collect()
    )
    assert len(windows) > 2
    horizon = windows[len(windows) // 2]
    removed = op.expire(spark, horizon)
    assert removed > 0
    remaining = op.topn(spark, 3)
    assert remaining.filter(F.col("window_end") < F.lit(horizon)).count() == 0
    # live-horizon ranks match a batch recompute over only live events
    from pyspark.sql import Window

    from flink_playground_spark.operators.windows import tumble_agg

    live = (
        tumble_agg(ev, "ts", "1 hour", ["user_id"],
                   [F.count(F.lit(1)).cast("long").alias("cnt")])
        .filter(F.col("window_end") >= F.lit(horizon))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc("user_id"))))
        .filter(F.col("rn") <= 3)
    )
    got = {(r.window_start, r.user_id, r.cnt, r.rn) for r in remaining.collect()}
    want = {(r.window_start, r.user_id, r.cnt, r.rn) for r in live.collect()}
    assert got == want


def test_rebucket_rescales_without_losing_state_or_replay_guard(spark, sf_dir, tmp_path):
    """Savepoint-style rescale: state content identical under the new
    bucket count, the writers ledger survives (a wave redelivered across
    the rescale is still skipped), later merges route by the NEW count,
    and an instance constructed with the stale count adopts the
    committed one instead of mis-hashing keys."""
    import os

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "txn")
    st = TransactionalKeyState(path, ["user_id"], n_buckets=4)
    w = _waves(events)
    agg = [F.sum("n").alias("n"), F.sum("sv").alias("sv")]
    st.merge_aggregate("q1", 0, _agg_partials(w[0]), agg)
    st.merge_aggregate("q1", 1, _agg_partials(w[1]), agg)
    before = _state_answer(st, spark)

    assert st.rebucket(spark, 16) is True
    assert st.n_buckets == 16
    assert _state_answer(st, spark) == before
    # the rescale txn's layout really uses the new count
    man = json.loads((tmp_path / "txn" / "manifest.json").read_text())
    assert man["n_buckets"] == 16
    tdir = tmp_path / "txn" / f"t{man['txn']}"
    assert len([d for d in os.listdir(tdir) if d.startswith("__bucket=")]) > 4

    # replay of a pre-rescale batch is still a no-op
    assert st.merge_aggregate("q1", 1, _agg_partials(w[1]), agg) is False
    assert _state_answer(st, spark) == before

    # a STALE instance (old constructor count) adopts the committed count
    stale = TransactionalKeyState(path, ["user_id"], n_buckets=4)
    assert stale.merge_aggregate("q1", 2, _agg_partials(w[2]), agg) is True
    assert stale.n_buckets == 16
    assert _state_answer(stale, spark) == _batch_answer(events)

    # no-op when already at the requested count
    assert st.rebucket(spark, 16) is False


def test_rebucket_on_empty_state_just_commits_count(spark, tmp_path):
    st = TransactionalKeyState(str(tmp_path / "txn"), ["k"], n_buckets=4)
    assert st.rebucket(spark, 8) is True
    again = TransactionalKeyState(str(tmp_path / "txn"), ["k"], n_buckets=4)
    df = spark.createDataFrame([(1, 2)], "k long, n long")
    assert again.merge_aggregate("w", 0, df, [F.sum("n").alias("n")]) is True
    assert again.n_buckets == 8


def test_schema_drift_raises_before_anything_is_written(spark, tmp_path):
    """A batch whose columns differ from the committed state schema is
    refused with a ValueError naming the columns, and neither the
    manifest nor the data directories change: drift must not null-fill
    silently."""
    import os

    import pytest

    st = TransactionalKeyState(str(tmp_path / "drift"), ["k"], n_buckets=4)
    first = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], "k string, seq long, p string")
    assert st.merge_keep_latest("w", 0, first, "seq") is True
    manifest = (tmp_path / "drift" / "manifest.json").read_text()
    assert json.loads(manifest)["schema"]["fields"][0]["name"] == "k"
    dirs = sorted(os.listdir(tmp_path / "drift"))

    extra = spark.createDataFrame([("a", 3, "z", 1.5)], "k string, seq long, p string, score double")
    with pytest.raises(ValueError, match="score"):
        st.merge_keep_latest("w", 1, extra, "seq")
    missing = spark.createDataFrame([("a", 3)], "k string, seq long")
    with pytest.raises(ValueError, match="'p'"):
        st.merge_keep_latest("w", 1, missing, "seq")

    assert (tmp_path / "drift" / "manifest.json").read_text() == manifest
    assert sorted(os.listdir(tmp_path / "drift")) == dirs
    assert {(r.k, r.seq, r.p) for r in st.read(spark).collect()} == {("a", 1, "x"), ("b", 2, "y")}


def test_manifest_without_schema_still_reads(spark, tmp_path):
    """State committed before the manifest kept a schema reads through
    parquet inference, and the next commit records the schema."""
    path = tmp_path / "legacy"
    st = TransactionalKeyState(str(path), ["k"], n_buckets=4)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long")
    st.merge_aggregate("w", 0, df, [F.sum("n").alias("n")])
    man = json.loads((path / "manifest.json").read_text())
    del man["schema"]
    (path / "manifest.json").write_text(json.dumps(man))

    assert {(r.k, r.n) for r in st.read(spark).collect()} == {("a", 1), ("b", 2)}
    assert st.merge_aggregate("w", 1, df, [F.sum("n").alias("n")]) is True
    assert "schema" in json.loads((path / "manifest.json").read_text())
    assert {(r.k, r.n) for r in st.read(spark).collect()} == {("a", 2), ("b", 4)}


def test_bucket_write_capped_at_cores_keeps_one_file_per_bucket(spark, tmp_path):
    """A merge touching more buckets than the session has cores runs at
    most one writer task per core, and still writes exactly one parquet
    file per touched bucket under its t<txn>/ directory."""
    import os

    n_buckets = 16
    assert spark.sparkContext.defaultParallelism < n_buckets
    st = TransactionalKeyState(str(tmp_path / "cap"), ["k"], n_buckets=n_buckets)
    df = spark.range(2000).select(
        F.col("id").cast("string").alias("k"), (F.col("id") % 7).alias("n")
    )
    assert st.merge_aggregate("w", 0, df, [F.sum("n").alias("n")]) is True
    man = json.loads((tmp_path / "cap" / "manifest.json").read_text())
    assert len(man["buckets"]) == n_buckets
    tdir = tmp_path / "cap" / f"t{man['txn']}"
    buckets = [d for d in os.listdir(tdir) if d.startswith("__bucket=")]
    assert len(buckets) == n_buckets
    for b in buckets:
        files = [f for f in os.listdir(tdir / b) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    assert st.read(spark).count() == 2000
