"""CEP pattern matching (operators/cep.py) and the forward as-of join
direction it builds on (operators/temporal.py)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.operators.cep import funnel, match_contiguous
from flink_playground_spark.operators.temporal import as_of_join


def T(m):
    return dt.datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def lr(spark):
    left = spark.createDataFrame(
        [(1, T(10), "a"), (1, T(30), "b"), (2, T(5), "c"), (None, T(7), "n")],
        "k bigint, t timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(10), "r10"), (1, T(20), "r20"), (1, T(40), "r40"), (2, T(1), "rX"), (None, T(6), "rN")],
        "k bigint, t timestamp_ntz, v string",
    )
    return left, right


def test_forward_asof_exact_match(lr):
    left, right = lr
    got = {
        r["tag"]: r["v"]
        for r in as_of_join(left, right, "k", "t", "t", how="left", direction="forward").collect()
    }
    # a: exact-time match allowed; b: next version at 00:40; c: right rows
    # all earlier => unmatched; n: NULL key never matches the NULL-key right row
    assert got == {"a": "r10", "b": "r40", "c": None, "n": None}


def test_forward_asof_strict(lr):
    left, right = lr
    got = {
        r["tag"]: r["v"]
        for r in as_of_join(
            left, right, "k", "t", "t", how="left", direction="forward", allow_exact_match=False
        ).collect()
    }
    assert got == {"a": "r20", "b": "r40", "c": None, "n": None}


def test_forward_asof_inner_drops_unmatched(lr):
    left, right = lr
    tags = {
        r["tag"]
        for r in as_of_join(left, right, "k", "t", "t", how="inner", direction="forward").collect()
    }
    assert tags == {"a", "b"}


def test_forward_rejects_broadcast():
    with pytest.raises(ValueError, match="union_sort"):
        as_of_join(None, None, "k", "t", "t", direction="forward", strategy="broadcast")
    with pytest.raises(ValueError, match="backward"):
        as_of_join(None, None, "k", "t", "t", direction="sideways")


@pytest.fixture(scope="module")
def ev(spark):
    return spark.createDataFrame(
        [
            (1, T(0), "A", 100),
            (1, T(5), "B", 101),
            (1, T(3), "B", 102),
            (1, T(9), "C", 103),
            (1, T(4), "C", 104),
            (2, T(0), "A", 200),
            (2, T(50), "B", 201),
            (2, T(55), "C", 202),
        ],
        "u bigint, t timestamp_ntz, et string, eid bigint",
    )


def test_funnel_greedy_earliest(ev):
    et = F.col("et")
    rows = funnel(
        ev, "u", "t", [et == "A", et == "B", et == "C"], "INTERVAL 20 MINUTES",
        start_cols=[F.col("eid").alias("start_id")],
    ).collect()
    # user 1: A@0 -> earliest B after = @3 -> earliest C after 3 = @4.
    # user 2: chain completes only at @55 > 20min deadline -> no row.
    assert len(rows) == 1
    r = rows[0]
    assert (r["u"], r["start_id"], r["ts1"].minute, r["ts2"].minute, r["ts3"].minute) == (
        1, 100, 0, 3, 4,
    )


def test_funnel_deadline_widens(ev):
    et = F.col("et")
    rows = funnel(ev, "u", "t", [et == "A", et == "B", et == "C"], "INTERVAL 1 HOUR").collect()
    assert {r["u"] for r in rows} == {1, 2}


def test_funnel_steps_strictly_increase(ev):
    # step i is strictly after step i-1 even when an earlier C exists
    # (user 1 has C@4 before B@5 — the B@3 chain must not pick C@4's twin
    # at an equal timestamp). Also: two-step funnel sanity.
    et = F.col("et")
    rows = funnel(ev, "u", "t", [et == "B", et == "C"], "INTERVAL 1 HOUR").collect()
    got = {(r["u"], r["ts1"].minute, r["ts2"].minute) for r in rows}
    assert got == {(1, 3, 4), (1, 5, 9), (2, 50, 55)}


def test_match_contiguous_golden(ev):
    rows = match_contiguous(ev, "u", "t", "et", ["A", "B", "C"], tiebreakers=["eid"]).collect()
    got = {(r["u"], r["eid"], r["ts2"].minute, r["ts3"].minute) for r in rows}
    # user 1 ordered: A@0, B@3, C@4, B@5, C@9 -> A B C contiguous from eid=100
    # user 2 ordered: A@0, B@50, C@55 -> contiguous regardless of gaps in time
    assert got == {(1, 100, 3, 4), (2, 200, 50, 55)}


def test_match_contiguous_within(ev):
    rows = match_contiguous(
        ev, "u", "t", "et", ["A", "B", "C"], tiebreakers=["eid"], within="INTERVAL 20 MINUTES"
    ).collect()
    assert {r["u"] for r in rows} == {1}


def test_funnel_parity_vs_naive_join(spark, sf_dir):
    """The chained forward-as-of funnel equals the quadratic join+min
    formulation on real data (sf0.001 events)."""
    from flink_playground_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    et = F.col("event_type")
    fast = funnel(
        ev, "user_id", "ts", [et == "view", et == "click", et == "purchase"],
        "INTERVAL 48 HOURS", start_cols=[F.col("event_id").alias("start_id")],
    )
    s1 = ev.filter(et == "view").select(
        "user_id", F.col("event_id").alias("start_id"), F.col("ts").cast("timestamp_ntz").alias("ts1")
    )
    s2 = ev.filter(et == "click").select(F.col("user_id").alias("u2"), F.col("ts").cast("timestamp_ntz").alias("t2"))
    s3 = ev.filter(et == "purchase").select(F.col("user_id").alias("u3"), F.col("ts").cast("timestamp_ntz").alias("t3"))
    lim = F.col("ts1") + F.expr("INTERVAL 48 HOURS")
    f2 = (
        s1.join(s2, (F.col("user_id") == F.col("u2")) & (F.col("t2") > F.col("ts1")) & (F.col("t2") <= lim))
        .groupBy("user_id", "start_id", "ts1")
        .agg(F.min("t2").alias("ts2"))
    )
    f3 = (
        f2.join(s3, (F.col("user_id") == F.col("u3")) & (F.col("t3") > F.col("ts2")) & (F.col("t3") <= lim))
        .groupBy("user_id", "start_id", "ts1", "ts2")
        .agg(F.min("t3").alias("ts3"))
    )
    cols = ["user_id", "start_id", "ts1", "ts2", "ts3"]
    assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
        map(tuple, f3.select(cols).collect())
    )


# --- streaming CEP (streaming/cep.py) --------------------------------------


def _drain(spark, out, name):
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    return spark.table(name)


def test_funnel_stream_equals_batch(spark, sf_dir):
    """3-wave event-time-ordered replay: the stateful streaming funnel
    emits exactly the batch operator's completed chains. With the
    timed-out side output on, its completed rows are still exactly
    those, and some real chains time out."""
    from flink_playground_spark.sources.tables import load_table
    from flink_playground_spark.streaming.cep import (
        funnel_stream,
        replay_events_stream_timeordered,
    )

    stream = replay_events_stream_timeordered(spark, sf_dir, waves=3)
    cols = ["user_id", "start_id", "ts1", "ts2", "ts3"]

    def drain(emit_timeouts):
        out = funnel_stream(
            stream, "user_id", "ts", "event_type", ["view", "click", "purchase"],
            within_ms=48 * 3600 * 1000, id_col="event_id", emit_timeouts=emit_timeouts,
        )
        return _drain(spark, out, f"cep_stream_parity_{emit_timeouts}".lower())

    got = {tuple(r) for r in drain(False).collect()}
    with_timeouts = drain(True)
    done = {tuple(r) for r in with_timeouts.filter(~F.col("timed_out")).select(*cols).collect()}
    assert with_timeouts.filter(F.col("timed_out")).count() > 0
    ev = load_table(spark, sf_dir, "events")
    et = F.col("event_type")
    want = {
        tuple(r)
        for r in funnel(
            ev, "user_id", "ts", [et == "view", et == "click", et == "purchase"],
            "INTERVAL 48 HOURS", start_cols=[F.col("event_id").alias("start_id")],
        ).select(*cols).collect()
    }
    assert got == want and len(want) > 0
    assert done == want


def test_funnel_stream_state_across_batches(spark, tmp_path):
    """A chain started in one micro-batch completes in a later one; a
    chain whose deadline passes mid-stream never emits."""
    import os

    from flink_playground_spark.streaming.cep import funnel_stream

    schema = "u bigint, t timestamp_ntz, et string, eid bigint"
    waves = [
        [(1, T(0), "A", 100), (2, T(0), "A", 200)],
        [(1, T(3), "B", 101), (2, T(50), "B", 201)],
        [(1, T(8), "C", 102), (2, T(55), "C", 202)],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(waves):
        part = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(part))
        pq = next(part.glob("*.parquet"))
        dst = src / f"wave{i}.parquet"
        dst.write_bytes(pq.read_bytes())
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    out = funnel_stream(
        stream, "u", "t", "et", ["A", "B", "C"], within_ms=20 * 60 * 1000, id_col="eid"
    )
    rows = _drain(spark, out, "cep_stream_state").collect()
    # user 1: A@0 (batch 0) -> B@3 (batch 1) -> C@8 (batch 2) inside 20min.
    # user 2: B only at minute 50 — past the deadline, chain expired in state.
    assert len(rows) == 1
    r = rows[0]
    assert (r["u"], r["start_id"], r["ts1"].minute, r["ts2"].minute, r["ts3"].minute) == (
        1, 100, 0, 3, 8,
    )


def test_match_plus_golden(spark):
    """A+ B: maximal runs of A immediately followed by B."""
    from flink_playground_spark.operators.cep import match_plus

    rows = [
        # key 1: A A A B  -> one match, run of 3
        (1, T(0), "A", 1), (1, T(1), "A", 2), (1, T(2), "A", 3), (1, T(3), "B", 4),
        # key 1 later: A C A B -> C breaks the first run (no match); second
        # run (single A) matches
        (1, T(10), "A", 5), (1, T(11), "C", 6), (1, T(12), "A", 7), (1, T(13), "B", 8),
        # key 2: run of A at end of stream (no follower) -> no match
        (2, T(0), "B", 9), (2, T(1), "A", 10), (2, T(2), "A", 11),
    ]
    df = spark.createDataFrame(rows, "u bigint, t timestamp_ntz, et string, eid bigint")
    got = {
        (r["u"], r["start_id"], r["n_plus"], r["ts1"].minute, r["ts2"].minute, r["ts3"].minute)
        for r in match_plus(
            df, "u", "t", "et", "A", "B", id_col="eid", tiebreakers=["eid"]
        ).collect()
    }
    assert got == {(1, 1, 3, 0, 2, 3), (1, 7, 1, 12, 12, 13)}


def test_match_plus_single_shuffle(spark):
    """Every window in the gaps-and-islands plan keys on the same columns
    — exactly one Exchange."""
    from flink_playground_spark.operators.cep import match_plus
    from flink_playground_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plan = (
        match_plus(ev, "user_id", "ts", "event_type", "view", "click", id_col="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchange = plan.count("Exchange") - plan.count("reused exchange")
    assert n_exchange <= 2  # one for the windows + the final partial agg pair


def test_match_contiguous_stream_equals_batch(spark, sf_dir):
    """Cross-batch strict contiguity: last-(k-1)-rows state sees every
    boundary-spanning window exactly once."""
    from flink_playground_spark.operators.cep import match_contiguous
    from flink_playground_spark.sources.tables import load_table
    from flink_playground_spark.streaming.cep import (
        match_contiguous_stream,
        replay_events_stream_timeordered,
    )

    stream = replay_events_stream_timeordered(spark, sf_dir, waves=3)
    out = match_contiguous_stream(
        stream, "user_id", "ts", "event_type", ["view", "click", "purchase"],
        id_col="event_id",
    )
    got = {tuple(r) for r in _drain(spark, out, "ccs_parity").collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        tuple(r)
        for r in match_contiguous(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"],
            tiebreakers=["event_id"],
        )
        .select(
            "user_id",
            F.col("event_id").alias("start_id"),
            F.col("ts").cast("timestamp_ntz").alias("ts1"),
            "ts2",
            "ts3",
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_funnel_stream_timeout_side_output(spark, tmp_path):
    """Flink CEP's timed-out pattern side output: an expired partial
    chain is emitted with timed_out=True, matched = steps reached, and
    NULL ts columns beyond them; completed chains carry timed_out=False
    and the full ts set. Chains still open at stream end stay silent."""
    import os

    from flink_playground_spark.streaming.cep import funnel_stream

    schema = "u bigint, t timestamp_ntz, et string, eid bigint"
    waves = [
        # u1 completes; u2 matches A,B then dies (C arrives past deadline);
        # u3 starts A and never sees another event (stays open, no row)
        [(1, T(0), "A", 100), (2, T(0), "A", 200), (3, T(0), "A", 300)],
        [(1, T(3), "B", 101), (2, T(5), "B", 201)],
        [(1, T(8), "C", 102), (2, T(50), "C", 202)],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(waves):
        part = tmp_path / f"w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(part))
        pq = next(part.glob("*.parquet"))
        dst = src / f"wave{i}.parquet"
        dst.write_bytes(pq.read_bytes())
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    out = funnel_stream(
        stream, "u", "t", "et", ["A", "B", "C"],
        within_ms=20 * 60 * 1000, id_col="eid", emit_timeouts=True,
    )
    rows = {r["u"]: r for r in _drain(spark, out, "cep_stream_timeouts").collect()}
    assert set(rows) == {1, 2}
    assert (rows[1]["timed_out"], rows[1]["matched"], rows[1]["ts3"].minute) == (False, 3, 8)
    r2 = rows[2]
    assert (r2["timed_out"], r2["matched"], r2["start_id"]) == (True, 2, 200)
    assert r2["ts1"].minute == 0 and r2["ts2"].minute == 5 and r2["ts3"] is None
