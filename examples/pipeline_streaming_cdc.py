"""Streaming CDC capstone: Kafka-shaped topic → keep-latest upsert state
→ retraction changelog.

Composes the round-2 pieces into the pipeline a real deployment runs:

1. a producer appends user-profile updates to a ``kafkalike`` topic
   (two partitions, per-partition offsets — ``sources/kafkalike.py``);
2. the stream is consumed with the DataSource offset protocol, JSON
   values parsed JVM-side;
3. keep-latest state per user is maintained in the bucketed store and
   every state transition is emitted as a Flink-style retraction
   changelog (+I / -U / +U — ``streaming/changelog.py``);
4. the final materialized view is checked against the trivially-correct
   batch answer (latest offset per key wins).

Run: ``python examples/pipeline_streaming_cdc.py``
"""

import pathlib
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flink_playground_spark import get_spark
from flink_playground_spark.sinks import print_sink
from flink_playground_spark.sources.kafkalike import kafkalike_stream, produce
from flink_playground_spark.streaming.changelog import keep_latest_changelog_stream

WAVES = [
    # wave 1: first versions
    [
        (0, "u1", '{"plan": "free", "seq": 1}'),
        (1, "u2", '{"plan": "free", "seq": 2}'),
        (1, "u3", '{"plan": "free", "seq": 4}'),
    ],
    # wave 2: upserts for u1 and u2 — must retract wave-1 rows
    [
        (0, "u1", '{"plan": "pro", "seq": 3}'),
        (0, "u1", '{"plan": "team", "seq": 5}'),
        (1, "u2", '{"plan": "pro", "seq": 6}'),
    ],
]


def main() -> None:
    spark = get_spark("pipeline-cdc")
    log_dir = tempfile.mkdtemp(prefix="cdc_topic_")
    work_dir = tempfile.mkdtemp(prefix="cdc_state_")

    def consume():
        """One checkpointed run: drains whatever the topic has appended
        since the last committed offsets (a periodically-launched
        incremental job — same contract as a long-running stream)."""
        stream = kafkalike_stream(spark, log_dir, "profiles").select(
            F.col("key").cast("string").alias("user"),
            F.from_json(
                F.col("value").cast("string"), "plan string, seq long"
            ).alias("v"),
        ).select("user", "v.plan", "v.seq")
        return keep_latest_changelog_stream(
            stream, "user", "seq", work_dir=work_dir, checkpoint=True
        )

    for wave in WAVES:
        for partition, key, value in wave:
            produce(log_dir, "profiles", partition, key, value)
        log = consume()
    print_sink(
        log.select("batch_id", "op", "user", "plan", "seq").orderBy(
            "batch_id", "user", "op"
        ),
        "profile changelog (+I first version, -U/+U on upsert)",
    )

    # materialize the upsert view from the changelog and check it
    latest = (
        log.filter(F.col("op").isin("+I", "+U"))
        .groupBy("user")
        .agg(F.max_by("plan", "seq").alias("plan"))
    )
    want = {("u1", "team"), ("u2", "pro"), ("u3", "free")}
    got = {(r["user"], r["plan"]) for r in latest.collect()}
    assert got == want, f"materialized view mismatch: {got}"
    print_sink(latest.orderBy("user"), "materialized upsert view")
    spark.stop()


if __name__ == "__main__":
    main()
