"""SCD2 build + point-in-time join (operators/scd.py).

Crafted-fixture goldens: tie-breaking at equal timestamps, unchanged-
attribute collapse, open (current) intervals, facts before the first
version / at an interval boundary / after the last change. The
registry-level oracle (scd2_point_in_time) covers the corpus shape;
these pin the operator semantics row by row.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_playground_spark.operators.scd import point_in_time_join, scd2_build


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def scd(spark):
    changelog = spark.createDataFrame(
        [
            # key 1: bronze -> bronze (dup, collapses) -> gold; a tie at
            # 09:00 where seq 5 must win over seq 4
            (1, _ts("2024-01-01T08:00:00"), 1, "bronze"),
            (1, _ts("2024-01-01T08:30:00"), 2, "bronze"),
            (1, _ts("2024-01-01T09:00:00"), 4, "silver"),
            (1, _ts("2024-01-01T09:00:00"), 5, "gold"),
            # key 2: single version, stays open
            (2, _ts("2024-01-01T10:00:00"), 6, "bronze"),
        ],
        "user_id long, ts timestamp_ntz, seq long, tier string",
    )
    return scd2_build(changelog, ["user_id"], "ts", ["tier"], tiebreaker="seq")


def test_scd2_intervals(scd):
    rows = {(r.user_id, r.tier): (r.valid_from, r.valid_to) for r in scd.collect()}
    assert rows == {
        (1, "bronze"): (_ts("2024-01-01T08:00:00"), _ts("2024-01-01T09:00:00")),
        (1, "gold"): (_ts("2024-01-01T09:00:00"), None),  # tie: seq 5 beat seq 4
        (2, "bronze"): (_ts("2024-01-01T10:00:00"), None),
    }


def test_scd2_point_in_time(spark, scd):
    facts = spark.createDataFrame(
        [
            (10, 1, _ts("2024-01-01T07:59:59")),  # before first version
            (11, 1, _ts("2024-01-01T08:00:00")),  # exactly at valid_from
            (12, 1, _ts("2024-01-01T08:59:59")),  # inside bronze interval
            (13, 1, _ts("2024-01-01T09:00:00")),  # boundary: new version applies
            (14, 1, _ts("2024-01-01T12:00:00")),  # in the open interval
            (15, 2, _ts("2024-01-01T09:00:00")),  # before key 2's only version
            (16, 3, _ts("2024-01-01T09:00:00")),  # key with no dimension rows
        ],
        "fact_id long, user_id long, ts timestamp_ntz",
    )
    out = point_in_time_join(facts, scd, [("user_id", "user_id")], "ts", how="left")
    got = {r.fact_id: r.tier for r in out.collect()}
    assert got == {
        10: None,
        11: "bronze",
        12: "bronze",
        13: "gold",
        14: "gold",
        15: None,
        16: None,
    }
    assert out.count() == facts.count()  # left join never drops facts


def test_scd2_matches_interval_join(spark, scd, sf_dir):
    """The as-of lowering equals the textbook interval join on corpus data."""
    from flink_playground_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    dim_src = events.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    dim = scd2_build(dim_src, ["user_id"], "ts", ["state"], tiebreaker="event_id")
    facts = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("fact_id"), "user_id", F.col("ts").alias("fts")
    )
    via_asof = point_in_time_join(facts, dim, [("user_id", "user_id")], "fts", how="left")
    via_interval = facts.join(
        dim,
        (facts.user_id == dim.user_id)
        & (facts.fts >= dim.valid_from)
        & (dim.valid_to.isNull() | (facts.fts < dim.valid_to)),
        "left",
    ).select("fact_id", facts.user_id, "fts", "state", "valid_from", "valid_to")
    a = {tuple(r) for r in via_asof.select("fact_id", "state", "valid_from", "valid_to").collect()}
    b = {tuple(r) for r in via_interval.select("fact_id", "state", "valid_from", "valid_to").collect()}
    assert a == b


def _scd2_waves(spark, sf_dir):
    """signup/purchase changes of the events table and their three
    waves: by ts order for waves 1-2, then wave 3 replays the MIDDLE
    timestamps (out of order w.r.t. wave 2)."""
    from flink_playground_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    changes = events.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    w = changes.withColumn(
        "__w",
        F.ntile(3).over(Window.orderBy("ts", "event_id")),
    ).localCheckpoint(eager=True)
    # apply the middle third LAST -> out of order
    return changes, [w.filter(F.col("__w") == i).drop("__w") for i in (1, 3, 2)]


def _intervals(spark, m):
    return {tuple(r) for r in m.read(spark).collect()}


def test_scd2_incremental_matches_batch(spark, sf_dir, tmp_path):
    """Three changelog waves — the LAST one out of order (earlier ts than
    already-applied changes, the boundary-resurrection case) — end in
    exactly the intervals batch scd2_build derives from all changes; and
    buckets untouched by a wave keep their manifest txn."""
    from flink_playground_spark.streaming.scd2 import Scd2Maintainer

    changes, waves = _scd2_waves(spark, sf_dir)
    m = Scd2Maintainer(str(tmp_path / "scd2"), ["user_id"], "ts", ["state"], "event_id")
    for wave in waves:
        m.apply_batch(wave)

    want = {
        tuple(r)
        for r in scd2_build(changes, ["user_id"], "ts", ["state"], "event_id").collect()
    }
    assert _intervals(spark, m) == want

    # IO contract: apply a single-key wave; every other bucket keeps the
    # version its manifest entry pointed at
    one = changes.orderBy("event_id").limit(1).collect()[0]
    before = dict(m.changes._manifest()["buckets"])
    late = spark.createDataFrame(
        [(one.user_id, one.ts, 10_000_000, "late-state")],
        "user_id long, ts timestamp_ntz, event_id long, state string",
    )
    m.apply_batch(late)
    after = m.changes._manifest()["buckets"]
    n_buckets = F.lit(m.changes.n_buckets)
    target = str(
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(one.user_id).cast("long")), n_buckets).cast("int"))
        .first()[0]
    )
    assert after[target] != before[target]
    assert {b: t for b, t in after.items() if b != target} == {
        b: t for b, t in before.items() if b != target
    }
    # and the late row took effect
    assert m.read(spark).filter(F.col("state") == "late-state").count() == 1


def test_scd2_reapply_after_failed_commit(spark, sf_dir, tmp_path, monkeypatch):
    """A batch whose state commit fails folds in once when re-applied:
    the intervals equal an uninterrupted run's."""
    from flink_playground_spark.streaming.scd2 import Scd2Maintainer
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    _, waves = _scd2_waves(spark, sf_dir)
    args = (["user_id"], "ts", ["state"], "event_id")
    clean = Scd2Maintainer(str(tmp_path / "clean"), *args)
    for wave in waves:
        clean.apply_batch(wave)

    m = Scd2Maintainer(str(tmp_path / "crash"), *args)
    m.apply_batch(waves[0])
    commit = TransactionalKeyState._commit

    def crash(self, manifest):
        raise RuntimeError("crash before the state commit")

    monkeypatch.setattr(TransactionalKeyState, "_commit", crash)
    with pytest.raises(RuntimeError, match="crash before the state commit"):
        m.apply_batch(waves[1])
    monkeypatch.setattr(TransactionalKeyState, "_commit", commit)
    for wave in waves[1:]:
        m.apply_batch(wave)
    assert m.changes._manifest()["writers"] == {"scd2": 2}
    assert _intervals(spark, m) == _intervals(spark, clean)
