"""foreachBatch enrichment join (SURVEY §2.3 J4/J5 streaming, §7.4 #1).

The reference's stream-stream LEFT OUTER join with asymmetric state TTL
(probe 1ms / build 90d, ``WithStateTtlJob.java:79-88``,
``WithDeduplicateJoinJob.java:98``) is *semantically* an enrichment join:
don't buffer the probe side, keep only the latest dim row per key. Spark's
faithful-and-simpler mapping (SURVEY §7.4) is ``foreachBatch``: per
micro-batch, fold the batch into a compacted keep-latest dim state, then
join the probe side against the refreshed snapshot.

State is ``TransactionalKeyState`` (streaming.txn_state): each
micro-batch reads ONLY the hash buckets its keys touch and commits their
new versions in one manifest replace, so per-batch IO is proportional to
touched buckets — not to total state. On a cluster the same layout is a
Delta/Iceberg MERGE INTO over a bucket-partitioned table. The state is
O(distinct keys), not O(stream).

The drain keeps no stream checkpoint, so its epoch ids restart at 0 on
every call: each call folds under a fresh writer id, and a reused
``state_dir`` takes the new epochs as new data, not replays.
"""

from __future__ import annotations

import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame

from flink_playground_spark.streaming.txn_state import TransactionalKeyState


def enrichment_join_stream(
    probe: DataFrame,
    dim_stream: DataFrame,
    on: Sequence[tuple[str, str]],
    dim_keys: Sequence[str],
    dim_order_col: str,
    dim_tiebreakers: Sequence[str] = (),
    select_cols: Sequence | None = None,
    state_dir: str | None = None,
) -> DataFrame:
    """Run the enrichment pattern to completion (availableNow) and return
    the final joined snapshot: ``probe ⟕ latest(dim)``.

    ``probe`` is a static (bounded) DataFrame — the reference's 1ms-TTL
    probe side retains nothing either; ``dim_stream`` is unbounded.
    """
    spark = probe.sparkSession
    state_dir = state_dir or tempfile.mkdtemp(prefix="fps_dim_state_")
    state = TransactionalKeyState(f"{state_dir}/latest", list(dim_keys), n_buckets=16)
    writer = f"enrich-{uuid.uuid4().hex}"

    def fold_batch(batch: DataFrame, epoch_id: int) -> None:
        state.merge_keep_latest(writer, epoch_id, batch, dim_order_col, dim_tiebreakers)

    q = dim_stream.writeStream.foreachBatch(fold_batch).trigger(availableNow=True).start()
    q.awaitTermination()

    snapshot = state.read(spark)
    if snapshot is None:
        raise RuntimeError("dim stream produced no data")
    cond = None
    for l, r in on:
        c = probe[l] == snapshot[r]
        cond = c if cond is None else (cond & c)
    out = probe.join(snapshot, cond, "left_outer")
    return out.select(*select_cols) if select_cols else out
