"""The three workloads. Each runs as one closed loop with a single client:
the next op starts only after the previous one returned and was checked.

A workload function first runs each kind of op once, untimed but checked,
on the measured inputs; this fills codegen and JIT caches, and every
oracle is computed before anything is timed. It then returns its
measured phase as a function of a tag: a fixed sequence of ops, derived
from ``--seed`` and ``--seconds`` so that a run measures about that long,
writing any state under directories named by the tag. The traced run
calls it twice, untraced and traced, over the same sequence.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import gen
from checks import ExpectedCache, clear_leaks, fingerprint_of, full_compare, observed, oracle_pool, result_of
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stopwatch import Stopwatch

REFERENCE_SQL = [
    "flagship_dedup_join",
    "temporal_join_current",
    "as_of_join_events",
    "join_left_outer",
    "tumble_hop_events",
    "window_dedup_last_per_hour",
    "unnest_outer_items",
    "window_topn_event_types",
    "window_join_same_hour",
    "dedup_latest_events",
    "pk_upsert_latest",
    "topk_orders_per_customer",
]
NEARDUP = ["dedup_clusters", "exact_substring_dedup", "ngram_jaccard_neardup", "chunk_dedup"]
# nominal warm seconds per round of ops on these inputs at local[4]; they
# only size the fixed op count of a run from --seconds (at 10 s: one round
# of reference_sql, two of neardup_dedup)
ROUND_NOMINAL_S = {"reference_sql": 10.0, "neardup_dedup": 5.0}
N_WAVES = 25  # ~4k events per wave
WAVE_A_NOMINAL_S = 1.75
WAVE_B_NOMINAL_S = 0.6
WARM_WAVES = 3
# registry queries warmed up at once: the warm-up is untimed, and these
# queries mostly wait on the driver, so this shortens the run
WARM_THREADS = 3
READ_EVERY = 1  # a top-N read after every folded wave
REPLAY_P = 0.25  # chance that a committed wave is re-delivered after a fold


class Ctx:
    """One run: the session, its inputs and what it has measured."""

    def __init__(self, spark, seed: int, seconds: int, inputs: str, cache: str, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.inputs = inputs
        self.expected = ExpectedCache(f"{cache}/expected")
        self.work = work
        self.tracer = tracer
        self.rng = gen.plan_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.leaked_rdds = 0
        self.samples: dict[str, list[float]] = {}
        self.facts: dict = {}
        self.state_dir = ""  # window top-N state of the last measured pass
        self._fps: dict = {}
        self._lock = threading.Lock()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, name: str):
        return self.tracer.op(name) if self.tracer else nullcontext()

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
        print(f"FAILED {what}", flush=True)

    def guard(self) -> None:
        self.leaked_rdds += clear_leaks(self.spark)

    def expect(self, key: str, expected, like: DataFrame) -> None:
        """Fingerprint the oracle output ``expected`` in ``like``'s schema."""
        self._fps[key] = fingerprint_of(self.spark, expected, like)

    def check(self, key: str, obs, expected, like: DataFrame) -> None:
        """Compare an op's observed fingerprint with the oracle's."""
        if key not in self._fps:
            self.expect(key, expected, like)
        want = self._fps[key]
        got = result_of(obs)
        if got != want:
            self.fail(f"{key}: output fingerprint {got} != oracle {want}")


def _views(tables_dir: str, names) -> dict:
    return {n: f"{tables_dir}/{n}.parquet" for n in names}


def _noop(ctx: Ctx, df: DataFrame):
    df, obs = observed(df)
    with ctx.span("exec"):
        df.write.mode("overwrite").format("noop").save()
    return df, obs


def _registry():
    from flink_playground_spark.queries import EXTRA_REGISTRY, REGISTRY

    return {**REGISTRY, **EXTRA_REGISTRY}


def _query_loop(ctx: Ctx, workload: str, names: list[str], tables: list[str], per_op_items: int):
    allq = _registry()
    full = f"{ctx.inputs}/tables"
    views = _views(full, tables)
    # oracles, computed in order beside the warm-up
    pool = oracle_pool()
    oracles = {n: pool.submit(ctx.expected.get, n, allq[n].oracle, views) for n in names}

    def run(name: str, timed: bool) -> None:
        ctx.attempt()
        try:
            with ctx.op(name) if timed else nullcontext(), Stopwatch() as sw:
                df, obs = _noop(ctx, allq[name].spark_fn(ctx.spark, full))
            if timed:
                ctx.sample("op", sw.s)
                ctx.sample("read", sw.s)
                print(f"op {name} {sw.s:.3f}s wall {sw.wall:.3f}s", flush=True)
            ctx.check(name, obs, oracles[name].result(), df)
            if ctx.tracer and timed:
                ctx.tracer.settle(ctx.spark)
        except Exception:
            traceback.print_exc()
            ctx.fail(f"{name} raised")
        if timed:
            ctx.guard()

    # warm-up: every query once, untimed but checked; the cache guard runs
    # once all are done, as it would unpersist data a running query reads.
    # Every oracle is done before the measured phase starts.
    with ThreadPoolExecutor(WARM_THREADS) as warm:
        list(warm.map(lambda name: run(name, timed=False), names))
    ctx.guard()
    pool.shutdown()
    print(f"phase warm-up done {time.monotonic():.3f}", flush=True)
    rounds = max(1, round(ctx.seconds / ROUND_NOMINAL_S[workload]))
    order = [str(q) for _ in range(rounds) for q in ctx.rng.permutation(names)]
    ctx.facts["ops_timed"] = len(order)
    ctx.facts["items_per_op"] = per_op_items

    def measure(tag: str) -> None:
        ctx.leaked_rdds = 0
        with Stopwatch() as sw:
            for name in order:
                run(name, timed=True)
        ctx.samples["run"] = [sw.s]
        ctx.facts["steal_share"] = sw.share

    return measure


def reference_sql(ctx: Ctx):
    return _query_loop(ctx, "reference_sql", REFERENCE_SQL, ["customer", "orders", "lineitem", "events"], 1)


def neardup_dedup(ctx: Ctx):
    return _query_loop(ctx, "neardup_dedup", NEARDUP, ["documents"], ctx.facts["documents_rows"])


# -- wave_fold ---------------------------------------------------------------

_TOPN_SQL = "streaming_window_topn"
_LATEST_SQL = "dedup_latest_events"


class _Progress:
    """Collects ``durationMs`` of every micro-batch a stream reports."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.records = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    records.append((p.batchId, dict(p.durationMs), p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def wait_for(self, n: int, timeout: float = 30.0) -> list:
        end = time.monotonic() + timeout
        while len(self.records) < n and time.monotonic() < end:
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)
        return sorted(self.records)


def _drain_changelog(ctx: Ctx, wave_files: list[str], tag: str, timed: bool):
    """Phase (a): a file stream over ``wave_files`` (one file per
    micro-batch) drained through ``keep_latest_changelog_stream``.
    Returns the compacted changelog (latest row per key) and the
    per-batch progress records."""
    from flink_playground_spark.streaming.changelog import keep_latest_changelog_stream

    src = f"{ctx.work}/{tag}_src"
    os.makedirs(src)
    for i, f in enumerate(wave_files):
        dst = f"{src}/wave{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_000_000_000 + 60 * i, 1_000_000_000 + 60 * i))
    spark = ctx.spark
    schema = spark.read.parquet(wave_files[0]).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    progress = _Progress(spark)
    with ctx.op("changelog_drain") if timed else nullcontext():
        log = keep_latest_changelog_stream(stream, "user_id", "ts", ("event_id",), work_dir=f"{ctx.work}/{tag}_state")
    records = progress.wait_for(len(wave_files))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    latest = (
        log.filter(F.col("op").isin("+I", "+U"))
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id", "event_type", "value")
    )
    return latest, records


def _wave_df(ctx: Ctx, wave_dir: str) -> DataFrame:
    from flink_playground_spark.sources.tables import load_table

    return load_table(ctx.spark, wave_dir, "events").select("event_id", "ts", "user_id")


def _fold_plan(ctx: Ctx, n: int) -> list[tuple[str, int]]:
    """Phase (b) op sequence: ('fold', w) for every wave, ('replay', j)
    re-delivering an already committed wave j < w after some folds, and
    ('read', w) every READ_EVERY folds."""
    plan = []
    for w in range(n):
        plan.append(("fold", w))
        if w and ctx.rng.random() < REPLAY_P:
            plan.append(("replay", int(ctx.rng.integers(0, w))))
        if (w + 1) % READ_EVERY == 0 or w == n - 1:
            plan.append(("read", w))
    return plan


def _fold_topn(ctx: Ctx, wave_dirs: list[str], plan: list, tag: str, timed: bool, expected) -> None:
    """Phase (b): fold waves by direct ``StreamingWindowTopN.ingest``
    calls, replay some, read the top-N every few waves, following
    ``plan``. ``expected(k)`` is the oracle top-N over the first ``k+1``
    waves."""
    from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

    topn = StreamingWindowTopN(f"{ctx.work}/{tag}_topn", "user_id", "ts", "1 hour")
    for kind, w in plan:
        ctx.attempt()
        try:
            if kind == "read":
                with ctx.op("topn_read") if timed else nullcontext(), Stopwatch() as sw:
                    df, obs = _noop(ctx, topn.topn(ctx.spark, 3))
                if timed:
                    print(f"op read after wave {w} {sw.s:.3f}s wall {sw.wall:.3f}s", flush=True)
                    ctx.sample("read", sw.s)
                    ctx.check(f"{_TOPN_SQL}@{w}", obs, expected(w), df)
                else:
                    problems = full_compare(df, expected(w))
                    if problems:
                        ctx.fail(f"warm-up top-N: {'; '.join(problems)[:500]}")
                continue
            batch = _wave_df(ctx, wave_dirs[w])
            with ctx.op("wave_fold" if kind == "fold" else "wave_replay") if timed else nullcontext(), Stopwatch() as sw:
                committed = topn.ingest(batch, batch_id=w)
            if timed:
                print(f"op {kind} wave {w} {sw.s:.3f}s wall {sw.wall:.3f}s", flush=True)
            if committed != (kind == "fold"):
                ctx.fail(f"{kind} of wave {w} returned committed={committed}")
            elif timed and kind == "fold":
                ctx.sample("op", sw.s)
        except Exception:
            traceback.print_exc()
            ctx.fail(f"{kind} of wave {w} raised")
        if timed:
            ctx.guard()


def wave_fold(ctx: Ctx):
    allq = _registry()
    n_a = min(N_WAVES, max(3, round(ctx.seconds / 2 / WAVE_A_NOMINAL_S)))
    n_b = min(N_WAVES, max(4, round(ctx.seconds / 2 / WAVE_B_NOMINAL_S)))
    waves = gen.split_waves(ctx.seed, ctx.inputs, N_WAVES)
    wave_rows = [gen.pq.ParquetFile(f).metadata.num_rows for f in waves]
    wave_dirs = [os.path.dirname(f) for f in waves]
    plan = _fold_plan(ctx, n_b)
    # oracles over the first k waves, computed in order beside the warm-up
    pool = oracle_pool()

    def oracle(sql_name: str, k: int):
        return pool.submit(ctx.expected.get, f"{sql_name}@{k - 1}", allq[sql_name].oracle, {"events": waves[:k]})

    warm_latest, warm_topn = oracle(_LATEST_SQL, WARM_WAVES), oracle(_TOPN_SQL, WARM_WAVES)
    latest_a = oracle(_LATEST_SQL, n_a)
    topn_b = [oracle(_TOPN_SQL, w + 1) for w in range(n_b)]

    # warm-up: both phases at once over the first waves into their own
    # state, untimed and compared value by value; the cache guard runs
    # after both
    def warm_drain() -> None:
        ctx.attempt()
        try:
            latest, _ = _drain_changelog(ctx, waves[:WARM_WAVES], "warm_a", timed=False)
            problems = full_compare(latest, warm_latest.result())
            if problems:
                ctx.fail(f"warm-up changelog: {'; '.join(problems)[:500]}")
        except Exception:
            traceback.print_exc()
            ctx.fail("warm-up changelog raised")

    warm_plan = [("fold", w) for w in range(WARM_WAVES)] + [("read", WARM_WAVES - 1)]
    with ThreadPoolExecutor(2) as warm:
        a = warm.submit(warm_drain)
        b = warm.submit(_fold_topn, ctx, wave_dirs, warm_plan, "warm_b", False, lambda w: warm_topn.result())
        a.result(), b.result()
    ctx.guard()
    pool.shutdown()  # no oracle runs beside the measured phase
    print(f"phase warm-up done {time.monotonic():.3f}", flush=True)
    ctx.facts["events_timed"] = sum(wave_rows[:n_a]) + sum(wave_rows[:n_b])
    ctx.facts["waves_timed"] = n_a + n_b

    def drain(tag: str) -> None:
        """(a) changelog drain: one op per micro-batch, timed by the
        stream's own triggerExecution, less the steal share of the drain."""
        ctx.attempt()
        try:
            with Stopwatch() as sw:
                latest, records = _drain_changelog(ctx, waves[:n_a], f"{tag}_a", timed=True)
            if len(records) != n_a:
                ctx.fail(f"changelog drain reported {len(records)} batches, expected {n_a}")
            keep = (1.0 - sw.share) / 1000.0
            for _, dur, _rows in records:
                print(f"op changelog batch {dur['triggerExecution'] * keep:.3f}s {dur}", flush=True)
                ctx.sample("op", dur["triggerExecution"] * keep)
                ctx.sample("planning", dur.get("queryPlanning", 0) * keep)
                ctx.sample("add_batch", dur.get("addBatch", 0) * keep)
            ctx.attempted += len(records) - 1
            latest, obs = _noop(ctx, latest)
            ctx.check(f"{_LATEST_SQL}@{n_a - 1}", obs, latest_a.result(), latest)
        except Exception:
            traceback.print_exc()
            ctx.fail("changelog drain raised")
        ctx.guard()

    def measure(tag: str) -> None:
        ctx.leaked_rdds = 0
        with Stopwatch() as sw:
            drain(tag)
            # (b) window top-N fold with replays and reads
            _fold_topn(ctx, wave_dirs, plan, f"{tag}_b", True, lambda w: topn_b[w].result())
        ctx.samples["run"] = [sw.s]
        ctx.facts["steal_share"] = sw.share
        ctx.state_dir = f"{ctx.work}/{tag}_b_topn"

    return measure


def single_thread_ops(ctx: Ctx, workload: str) -> list[float]:
    """Wall times of one op of each kind, unchecked, for the local[1]
    reference of a traced run: each registry query once, or four wave
    folds into fresh state."""
    if workload == "wave_fold":
        from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

        topn = StreamingWindowTopN(f"{ctx.work}/ref1_topn", "user_id", "ts", "1 hour")
        out = []
        for w in range(4):
            batch = _wave_df(ctx, f"{ctx.inputs}/waves/w{w:03d}")
            with Stopwatch() as sw:
                topn.ingest(batch, batch_id=w)
            out.append(sw.s)
        return out
    allq = _registry()
    full = f"{ctx.inputs}/tables"
    out = []
    for name in REFERENCE_SQL if workload == "reference_sql" else NEARDUP:
        with Stopwatch() as sw:
            allq[name].spark_fn(ctx.spark, full).write.mode("overwrite").format("noop").save()
        out.append(sw.s)
        clear_leaks(ctx.spark)
    return out


WORKLOADS = {"reference_sql": reference_sql, "wave_fold": wave_fold, "neardup_dedup": neardup_dedup}
TABLES = {
    "reference_sql": ["customer", "orders", "lineitem", "events"],
    "wave_fold": ["events"],
    "neardup_dedup": ["documents"],
}


def tail_mean(values: list[float]) -> float:
    """Mean of the slowest quarter of ``values``, and of at least two: a
    tail that a single slow op cannot set alone. A run measures too few
    ops for a high percentile with 10 samples beyond it."""
    k = max(2, math.ceil(len(values) / 4))
    return sum(sorted(values)[-k:]) / k
