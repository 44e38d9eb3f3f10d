from flink_playground_spark.streaming.runners import replay_events_stream, run_to_memory  # noqa: F401
from flink_playground_spark.streaming.enrich import enrichment_join_stream  # noqa: F401
