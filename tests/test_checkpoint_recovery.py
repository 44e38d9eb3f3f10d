"""Streaming state recovery: a stateful keep-latest query stopped and
restarted from its checkpoint must resume exactly — process only new
files, keep prior state (the reference's plan-pinning/upgrade story,
SURVEY §3 E3: 'streaming state compatibility is pinned by the
checkpoint location')."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from flink_playground_spark.operators.dedup import dedup_latest
from flink_playground_spark.sources.tables import load_table
from flink_playground_spark.streaming.changelog import keep_latest_changelog_stream


def _drain(stream_df, checkpoint, out_dir):
    # file sink: the only exactly-once sink that supports checkpoint
    # recovery (memory sinks refuse to restart)
    q = (
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_keep_latest_survives_restart(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    # split the corpus into two "arrival waves" landing in a source dir
    src = tmp_path / "src"
    wave1 = events.filter(F.col("event_id") % 2 == 0)
    wave2 = events.filter(F.col("event_id") % 2 == 1)
    wave1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w1"))
    wave2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w2"))
    src.mkdir()
    for f in (tmp_path / "w1").glob("*.parquet"):
        shutil.copy(f, src / "wave1.parquet")

    work = str(tmp_path / "work")

    def run():
        stream = spark.readStream.schema(events.schema).parquet(str(src))
        return keep_latest_changelog_stream(
            stream, "user_id", "ts", tiebreakers=("event_id",), work_dir=work, checkpoint=True
        )

    rows_wave1 = run().collect()
    assert rows_wave1

    # second wave lands; relaunch the SAME query from its checkpoint
    for f in (tmp_path / "w2").glob("*.parquet"):
        shutil.copy(f, src / "wave2.parquet")
    log = run()

    # the changelog across both runs, compacted = batch dedup over ALL
    upserts = log.filter(F.col("op").isin("+I", "+U")).select(*events.columns)
    got = dedup_latest(upserts, "user_id", "ts", tiebreakers=("event_id",))
    want = dedup_latest(events, "user_id", "ts", tiebreakers=("event_id",))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # recovery resumed from state rather than reprocessing wave 1: the
    # relaunch emitted no op for wave 1 (its batches' ops are unchanged
    # and every later op is in a later batch), and each key was inserted
    # once
    last_wave1 = max(r["batch_id"] for r in rows_wave1)
    rows = log.collect()
    assert {tuple(r) for r in rows if r["batch_id"] <= last_wave1} == set(map(tuple, rows_wave1))
    inserts = [r["user_id"] for r in rows if r["op"] == "+I"]
    assert len(inserts) == len(set(inserts)) == want.count()


def test_streaming_funnel_survives_restart(spark, sf_dir, tmp_path):
    """CEP chain state survives a restart: chains opened before the stop
    complete after it, and the union of emissions equals the batch funnel
    (exactly-once via parquet sink + checkpoint)."""
    import os

    from flink_playground_spark.operators.cep import funnel
    from flink_playground_spark.sources.tables import load_table as _lt
    from flink_playground_spark.streaming.cep import funnel_stream

    events = _lt(spark, sf_dir, "events")
    half = events.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.5)").first()[0]
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    src = tmp_path / "src"
    src.mkdir()
    for i, part in enumerate([events.filter(t_us <= half), events.filter(t_us > half)]):
        part.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"fw{i}"))

    def land(i):
        for f in (tmp_path / f"fw{i}").glob("*.parquet"):
            shutil.copy(f, src / f"wave{i}.parquet")
            os.utime(src / f"wave{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    def run():
        stream = spark.readStream.schema(events.schema).parquet(str(src))
        out = funnel_stream(
            stream, "user_id", "ts", "event_type", ["view", "click", "purchase"],
            within_ms=48 * 3600 * 1000, id_col="event_id",
        )
        _drain(out, str(tmp_path / "fckpt"), str(tmp_path / "fout"))

    land(0)
    run()
    n1 = spark.read.parquet(str(tmp_path / "fout")).count()
    land(1)
    run()  # restart from checkpoint — wave-0 state (open chains) reattaches

    got = {tuple(r) for r in spark.read.parquet(str(tmp_path / "fout")).collect()}
    et = F.col("event_type")
    want = {
        tuple(r)
        for r in funnel(
            events, "user_id", "ts", [et == "view", et == "click", et == "purchase"],
            "INTERVAL 48 HOURS", start_cols=[F.col("event_id").alias("start_id")],
        ).select("user_id", "start_id", "ts1", "ts2", "ts3").collect()
    }
    assert len(got) == len(spark.read.parquet(str(tmp_path / "fout")).collect())  # no dup rows
    assert got == want and n1 < len(want)  # some chains completed only after restart
