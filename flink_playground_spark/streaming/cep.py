"""Streaming CEP: incremental funnel detection over an event stream.

The batch funnel (``operators/cep.py``) resolves each start event's chain
with forward as-of joins. On a stream, re-running that over the
accumulated corpus every micro-batch would repeat the round-1 near-dup
mistake (per-batch work growing with history). Instead this operator
keeps *open partial chains* as keyed state in
``applyInPandasWithState`` — the same shape as Flink's CEP NFA state:

- state per key = the set of started-but-unfinished chains
  (start id + the timestamps matched so far);
- each micro-batch advances chains greedily in event-time order
  (first qualifying event wins — identical to the batch operator's
  earliest-next semantics);
- a chain leaves state the moment it completes (emitted, append mode)
  or its deadline (``start + within``) passes — state is bounded by the
  number of starts inside one deadline window per key, independent of
  stream history.

Ordering contract: events must arrive non-decreasing in event time per
key across micro-batches (the replay helper splits by time range). A
production deployment would front this with a watermark-delayed sort
(``streaming/runners.py`` patterns); the operator itself is agnostic.

This is the one substrate for the streaming funnel and the contiguity
matcher. The chain state rides Spark's state store, so a query restarted
from its checkpoint resumes its open chains; into a file sink its
emissions are exactly once (pinned by
``tests/test_checkpoint_recovery.py``). There is no processing-time
TTL: a chain leaves state by completing or by passing ``within_ms``, and
the contiguity matcher's state is k-1 rows per key.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def funnel_stream(
    df: DataFrame,
    keys: str | Sequence[str],
    time_col: str,
    symbol_col: str,
    pattern: Sequence[str],
    within_ms: int,
    id_col: str,
    emit_timeouts: bool = False,
) -> DataFrame:
    """Streaming skip-till-next-match funnel: emit one row per completed
    ``pattern[0] -> ... -> pattern[k-1]`` chain (strictly increasing
    event times, all within ``within_ms`` of the start). Output columns:
    key cols, ``start_id`` (the ``id_col`` of the step-1 event),
    ``ts1..tsK`` (timestamp_ntz). Equals the batch ``operators.cep.funnel``
    answer on the same events (pinned by parity tests).

    ``emit_timeouts`` adds Flink CEP's TIMED-OUT side output
    (``PatternTimeoutFunction``): a partial chain whose deadline passes
    is emitted with ``timed_out = true``, ``matched`` = steps it got
    through, and NULL ``ts`` columns beyond them, instead of vanishing
    silently — abandoned-funnel analytics come from exactly these rows.
    Expiry is detected when the key's NEXT event arrives (event times
    are per-key non-decreasing, so by then no event can complete the
    chain); a chain still open when the stream pauses stays in state,
    like an un-elapsed Flink pattern."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    k = len(pattern)
    if k < 2:
        raise ValueError("funnel_stream needs a pattern of length >= 2")
    within_us = within_ms * 1000

    out_schema = T.StructType(
        [df.schema[c] for c in keys]
        + [T.StructField("start_id", df.schema[id_col].dataType)]
        + [T.StructField(f"ts{i}", T.TimestampNTZType()) for i in range(1, k + 1)]
        + (
            [
                T.StructField("matched", T.IntegerType()),
                T.StructField("timed_out", T.BooleanType()),
            ]
            if emit_timeouts
            else []
        )
    )
    # open chains, column-wise: ids[j] started at steps_us[j][0] and has
    # matched len(steps_us[j]) symbols so far (times as int64 micros)
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(df.schema[id_col].dataType)),
            T.StructField("steps_us", T.ArrayType(T.ArrayType(T.LongType()))),
        ]
    )

    def detect(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids: list = []
        steps: list[list[int]] = []
        if state.exists:
            sids, ssteps = state.get
            ids, steps = list(sids), [list(s) for s in ssteps]
        done: list[tuple] = []
        expired: list[tuple] = []
        # a large group arrives as several Arrow chunks — sort the whole
        # batch once, not per chunk
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values([time_col, id_col])
            ts_us = pdf[time_col].astype("datetime64[us]").astype("int64").to_numpy()
            syms = pdf[symbol_col].to_numpy()
            evids = pdf[id_col].to_numpy()
            for t, sym, eid in zip(ts_us.tolist(), syms.tolist(), evids.tolist()):
                # .tolist() => plain Python scalars: numpy values in the
                # state tuple break the JVM-side unpickler
                # expire chains whose deadline has passed (event times are
                # non-decreasing, so no future event can advance them)
                live = [j for j in range(len(ids)) if steps[j][0] + within_us >= t]
                if len(live) != len(ids):
                    if emit_timeouts:
                        dead = set(range(len(ids))) - set(live)
                        expired.extend((ids[j], steps[j]) for j in sorted(dead))
                    ids = [ids[j] for j in live]
                    steps = [steps[j] for j in live]
                nxt_ids, nxt_steps = [], []
                for sid, st in zip(ids, steps):
                    if sym == pattern[len(st)] and t > st[-1]:
                        st = st + [t]
                        if len(st) == k:
                            done.append((sid, st))
                            continue  # completed -> emitted, leaves state
                    nxt_ids.append(sid)
                    nxt_steps.append(st)
                ids, steps = nxt_ids, nxt_steps
                if sym == pattern[0]:
                    ids.append(eid)
                    steps.append([int(t)])
        if ids:
            state.update((ids, steps))
        elif state.exists:
            state.remove()
        if done or expired:
            rows = []
            for timed_out, chains in ((False, done), (True, expired)):
                for sid, st in chains:
                    row = dict(zip(keys, key))
                    row["start_id"] = sid
                    for i in range(1, k + 1):
                        row[f"ts{i}"] = (
                            pd.Timestamp(st[i - 1], unit="us") if i <= len(st) else None
                        )
                    if emit_timeouts:
                        row["matched"] = len(st)
                        row["timed_out"] = timed_out
                    rows.append(row)
            yield pd.DataFrame(rows)

    return df.groupBy(*keys).applyInPandasWithState(
        detect, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def replay_events_stream_timeordered(spark: SparkSession, sf_dir: str, waves: int = 3) -> DataFrame:
    """events replayed as a stream in event-time order: the table is split
    into ``waves`` contiguous time ranges (ntile over ts), one file per
    micro-batch (``runners.replay_waves``)."""
    from flink_playground_spark.sources.tables import load_table
    from flink_playground_spark.streaming.runners import replay_waves

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.selectExpr(
        f"percentile_approx(unix_micros(cast(ts as timestamp)), array({','.join(str((i + 1) / waves) for i in range(waves - 1))}), 10000) p"
    ).collect()[0]["p"] if waves > 1 else []
    tsd = F.unix_micros(F.col("ts").cast("timestamp"))
    conds = []
    for i in range(waves):
        cond = F.lit(True)
        if i > 0:
            cond = cond & (tsd > bounds[i - 1])
        if i < waves - 1:
            cond = cond & (tsd <= bounds[i])
        conds.append(cond)
    return replay_waves(ev, conds)


def match_contiguous_stream(
    df: DataFrame,
    keys: str | Sequence[str],
    time_col: str,
    symbol_col: str,
    pattern: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Streaming strict-contiguity matcher: ``pattern`` on k consecutive
    rows of each key's (time, id)-ordered stream, across micro-batch
    boundaries. State per key = the last k-1 rows only — a window of k
    consecutive rows can span at most that far back, and any window fully
    inside the previous batch was already emitted there, so prepending
    the k-1 tail sees every boundary-spanning window exactly once (no
    duplicates by construction). Output: key cols + ``start_id`` +
    ``ts1..tsK``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    k = len(pattern)
    if k < 2:
        raise ValueError("match_contiguous_stream needs a pattern of length >= 2")

    out_schema = T.StructType(
        [df.schema[c] for c in keys]
        + [T.StructField("start_id", df.schema[id_col].dataType)]
        + [T.StructField(f"ts{i}", T.TimestampNTZType()) for i in range(1, k + 1)]
    )
    # tail of the key's stream: last k-1 (time_us, symbol, id) triples
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.ArrayType(T.LongType())),
            T.StructField("syms", T.ArrayType(T.StringType())),
            T.StructField("ids", T.ArrayType(df.schema[id_col].dataType)),
        ]
    )

    def detect(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tail_t: list[int] = []
        tail_s: list[str] = []
        tail_i: list = []
        if state.exists:
            st_t, st_s, st_i = state.get
            tail_t, tail_s, tail_i = list(st_t), list(st_s), list(st_i)
        n_tail = len(tail_t)
        rows_t, rows_s, rows_i = tail_t, tail_s, tail_i
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values([time_col, id_col])
            rows_t = rows_t + pdf[time_col].astype("datetime64[us]").astype("int64").tolist()
            rows_s = rows_s + pdf[symbol_col].tolist()
            rows_i = rows_i + pdf[id_col].tolist()
        out = []
        # windows that END in a new row: start positions from
        # max(0, n_tail - (k-1)) would double-count nothing — any window
        # ending inside the tail was emitted by the batch that completed it,
        # so only scan windows whose last row is new (index >= n_tail).
        for end in range(max(n_tail, k - 1), len(rows_t)):
            start = end - (k - 1)
            if all(rows_s[start + j] == pattern[j] for j in range(k)):
                row = dict(zip(keys, key))
                row["start_id"] = rows_i[start]
                for j in range(k):
                    row[f"ts{j + 1}"] = pd.Timestamp(rows_t[start + j], unit="us")
                out.append(row)
        new_tail_t = rows_t[-(k - 1):] if len(rows_t) >= k - 1 else rows_t
        new_tail_s = rows_s[-(k - 1):] if len(rows_s) >= k - 1 else rows_s
        new_tail_i = rows_i[-(k - 1):] if len(rows_i) >= k - 1 else rows_i
        if new_tail_t:
            state.update((new_tail_t, new_tail_s, new_tail_i))
        if out:
            yield pd.DataFrame(out)

    return df.groupBy(*keys).applyInPandasWithState(
        detect, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
