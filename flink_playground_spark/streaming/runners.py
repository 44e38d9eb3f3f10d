"""Streaming runners (SURVEY §2.7 T2/T6, §5.3).

The reference's jobs run unbounded queries against throttled datagen and
print changelogs. Our test-friendly equivalent replays the bounded
``events`` parquet as a file-source stream and drains it with an
``availableNow`` trigger into a memory sink — the Structured Streaming
micro-batch path (state store, watermarks, incremental aggregation) runs
for real, then terminates deterministically.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.session import scratch_dir
from flink_playground_spark.sources.tables import (
    _ensure_nanos_conf,
    load_table,
    normalize_events_ts,
    table_schema,
)


def replay_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table as an unbounded stream (same columns/types as
    the batch loader, ts normalized to TIMESTAMP_NTZ µs)."""
    _ensure_nanos_conf(spark)
    # The stream source needs an explicit schema; take the file's actual
    # footer schema (ts has been long-nanos or µs-timestamp across
    # corpus generations) through the batch loader's schema reuse, then
    # normalize ts exactly like the batch loader.
    raw_schema = table_schema(spark, f"{sf_dir}/events.parquet")
    # the file source requires a directory; filter to the events file
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def replay_waves(table: DataFrame, waves: Sequence[Column]) -> DataFrame:
    """``table`` as a file stream of one micro-batch per filter in
    ``waves``: each wave's rows land in one parquet file, copied into the
    source directory with strictly increasing mtimes, which pin the file
    source's batch order (``maxFilesPerTrigger=1``)."""
    work = scratch_dir("fps_wavesrc_")
    src = f"{work}/src"
    os.makedirs(src)
    for i, cond in enumerate(waves):
        part = f"{work}/w{i}"
        table.filter(cond).coalesce(1).write.mode("overwrite").parquet(part)
        dst = f"{src}/wave{i}.parquet"
        shutil.copy(glob.glob(f"{part}/*.parquet")[0], dst)
        shutil.rmtree(part)  # only src is read
        os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    return (
        table.sparkSession.readStream.schema(table.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def replay_events_waves(spark: SparkSession, sf_dir: str, waves: int = 2) -> DataFrame:
    """The ``events`` table as a stream of ``waves`` deterministic
    micro-batches: wave i carries the rows with ``event_id % waves == i``.
    The parity split is what lets an oracle reconstruct each batch's
    contents in SQL."""
    events = load_table(spark, sf_dir, "events")
    return replay_waves(events, [F.col("event_id") % waves == i for i in range(waves)])


def replay_documents_stream(spark: SparkSession, sf_dir: str, waves: int = 2) -> DataFrame:
    """The ``documents`` table as a stream of ``waves`` micro-batches:
    wave i carries the docs with ``doc_id % waves == i``."""
    docs = load_table(spark, sf_dir, "documents")
    return replay_waves(docs, [F.col("doc_id") % waves == i for i in range(waves)])


def run_to_memory(df: DataFrame, output_mode: str, query_name: str | None = None) -> DataFrame:
    """Drain a streaming DataFrame with trigger(availableNow) into a memory
    sink; returns the sink table as a batch DataFrame once the stream
    terminates. ``output_mode``: append | update | complete."""
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)
