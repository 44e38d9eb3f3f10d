"""Traced run: spans around calls into each engine layer, from outside.

``Tracer.install`` wraps the public entry points of each layer (the
``LAYERS`` table below) and rebinds every module attribute that still
points at an original, so names that ``queries.py`` and friends bound at
import time are traced too. It runs before the first engine call.

The tracer records set-up and one measured pass; during warm-up and
during the untraced passes it is compared with, every wrapper just calls
through. Each span records its wall interval; on the main thread it also
tags the Spark jobs it launches with ``setJobGroup``. Jobs, stages, tasks
and shuffle bytes are read back from the Spark event log after the
session stops, and each job of the traced pass is attributed to the
innermost open span: by job group when tagged, by submission time
otherwise (jobs that the stream's own thread launches inside
``foreachBatch``). A layer's time is its self time, the span's duration
minus its child spans, so the layer times of an op add up to the op's
wall time; its jobs are those launched while one of its spans was open.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute or Class.method, layer)
LAYERS = [
    ("flink_playground_spark.session", "get_spark", "session.get_spark"),
    ("flink_playground_spark.session", "tune", "session.tune"),
    ("flink_playground_spark.sources.tables", "load_table", "sources.load_table"),
    ("flink_playground_spark.operators.graph", "connected_components", "operators.graph.cc"),
    ("flink_playground_spark.functions.dedupe", "minhash_dup_clusters", "functions.dedupe.minhash_dup_clusters"),
    ("flink_playground_spark.functions.dedupe", "exact_substring_spans", "functions.dedupe.exact_substring_spans"),
    ("flink_playground_spark.functions.dedupe", "ngram_jaccard_pairs", "functions.dedupe.ngram_jaccard_pairs"),
    ("flink_playground_spark.functions.dedupe", "lsh_band_candidates", "functions.dedupe.lsh_band_candidates"),
    ("flink_playground_spark.functions.dedupe", "verify_pairs", "functions.dedupe.verify_pairs"),
    ("flink_playground_spark.functions.similarity", "_spread", "functions.similarity.spread"),
    ("flink_playground_spark.streaming.txn_state", "TransactionalKeyState._merge", "streaming.txn_state.merge"),
    ("flink_playground_spark.streaming.txn_state", "TransactionalKeyState.vacuum", "streaming.txn_state.vacuum"),
    ("flink_playground_spark.streaming.txn_state", "TransactionalKeyState.read", "streaming.txn_state.read"),
    ("flink_playground_spark.streaming.window_topn", "StreamingWindowTopN.topn", "streaming.window_topn.topn"),
    ("flink_playground_spark.streaming.state_store", "BucketedKeyState.merge_keep_latest", "streaming.state_store.merge"),
    ("flink_playground_spark.streaming.changelog", "changelog_ops", "streaming.changelog.diff"),
]
# every public function of these modules is an "operators" span
OPERATOR_MODULES = [
    "flink_playground_spark.operators.dedup",
    "flink_playground_spark.operators.temporal",
    "flink_playground_spark.operators.unnest",
    "flink_playground_spark.operators.windows",
    "flink_playground_spark.operators.relational",
]
YIELD_GROUP = "perfbench-yield"
DEDUPE_KERNELS = [
    "minhash_dup_clusters",
    "exact_substring_spans",
    "ngram_jaccard_pairs",
    "lsh_band_candidates",
    "verify_pairs",
]


def _clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class Span:
    __slots__ = ("idx", "layer", "start", "end", "result")

    def __init__(self, idx: int, layer: str, start: float):
        self.idx = idx  # creation order; names the span's job group
        self.layer = layer
        self.start = start
        self.end = None
        self.result = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.window = (0.0, None)  # wall interval of the traced pass
        self.pairs = {"candidates": 0, "verified": 0}
        self._pending: list[tuple] = []
        self._local = threading.local()
        self._main = threading.main_thread()

    # -- spans ---------------------------------------------------------
    def _enter(self, layer: str) -> tuple[Span, tuple | None]:
        span = Span(len(self.spans), layer, time.time())
        self.spans.append(span)
        prev = None
        if threading.current_thread() is self._main:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            if sc is not None:
                stack = self._local.__dict__.setdefault("groups", [])
                prev = stack[-1] if stack else None
                gid = f"perfbench-{span.idx}"
                sc.setJobGroup(gid, layer)
                stack.append(gid)
                prev = (sc, prev)
        return span, prev

    def _exit(self, span: Span, prev) -> None:
        span.end = time.time()
        if prev is not None:
            sc, parent = prev
            self._local.groups.pop()
            if parent is None:
                _clear_group(sc)
            else:
                sc.setJobGroup(parent, parent)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        span, prev = self._enter(layer)
        try:
            yield span
        finally:
            self._exit(span, prev)

    def op(self, name: str):
        self._pending.clear()  # pairs of untimed (warm-up) calls
        return self.span(f"op:{name}")

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span, prev = self._enter(layer)
            try:
                span.result = fn(*args, **kwargs)
                if keep_pairs:
                    self._pending.append((inspect.signature(fn).bind(*args, **kwargs).arguments["cand"], span.result))
                return span.result
            finally:
                self._exit(span, prev)

        keep_pairs = layer == "functions.dedupe.verify_pairs"
        return traced

    def settle(self, spark) -> None:
        """Count the candidate and verified pairs of the last op's
        ``verify_pairs`` calls (after the op, under a job group the
        report leaves out)."""
        if not self._pending:
            return
        self.enabled = False
        spark.sparkContext.setJobGroup(YIELD_GROUP, "pair yield")
        try:
            for cand, verified in self._pending:
                self.pairs["candidates"] += cand.select("id_a", "id_b").count()
                self.pairs["verified"] += verified.count()
        finally:
            _clear_group(spark.sparkContext)
            self._pending.clear()
            self.enabled = True

    # -- patching --------------------------------------------------------
    def install(self) -> None:
        importlib.import_module("flink_playground_spark.queries")
        for mod in {m for m, _, _ in LAYERS} | set(OPERATOR_MODULES):
            importlib.import_module(mod)
        swaps: dict[int, object] = {}
        for mod, attr, layer in LAYERS:
            owner = sys.modules[mod]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(owner, cls_name)
                setattr(cls, meth, self.wrap(getattr(cls, meth), layer))
            else:
                fn = getattr(owner, attr)
                swaps[id(fn)] = (fn, self.wrap(fn, layer))
        for mod in OPERATOR_MODULES:
            owner = sys.modules[mod]
            for name, fn in inspect.getmembers(owner, inspect.isfunction):
                if fn.__module__ == mod and not name.startswith("_") and id(fn) not in swaps:
                    swaps[id(fn)] = (fn, self.wrap(fn, "operators"))
        # rebind in every engine module that imported the name
        for mname, module in list(sys.modules.items()):
            if not mname.startswith("flink_playground_spark") or module is None:
                continue
            for attr, val in list(vars(module).items()):
                hit = swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(module, attr, hit[1])
        from flink_playground_spark.queries import EXTRA_REGISTRY, REGISTRY

        for q in {**REGISTRY, **EXTRA_REGISTRY}.values():
            q.spark_fn = self.wrap(q.spark_fn, "queries.build")

    # -- report ----------------------------------------------------------
    def report(self, ctx, workload: str, eventlog: str, untraced: list[list[float]]) -> dict:
        """Per-layer metrics of the traced pass; ``untraced`` holds the op
        times of the same pass run untraced before and after it."""
        self.enabled = False
        spark = ctx.spark
        spark.stop()
        t0, t1 = self.window
        jobs = [j for j in parse_event_log(eventlog) if j["group"] != YIELD_GROUP and t0 <= j["start"] <= t1]
        spans = sorted((s for s in self.spans if s.end is not None), key=lambda s: (s.start, -s.end))
        m = layer_metrics(spans, jobs)
        m["spark.leaked_rdds"] = (ctx.leaked_rdds, "count")
        cand = self.pairs["candidates"]
        m["functions.dedupe.pair_yield"] = (self.pairs["verified"] / cand if cand else 0.0, "fraction")
        m["streaming.txn_state.state_files"], m["streaming.txn_state.state_bytes"] = _state_size(ctx)
        base = statistics.mean(statistics.median(ops) for ops in untraced)
        m["trace.overhead_frac"] = (statistics.median(ctx.samples["op"]) / base - 1.0, "fraction")
        m["streaming.microbatch.planning_s"] = (sum(ctx.samples.get("planning", [])), "s")
        m["streaming.microbatch.add_batch_s"] = (sum(ctx.samples.get("add_batch", [])), "s")
        m.update(single_thread_reference(ctx, workload, base))
        return m


def _state_size(ctx) -> tuple:
    files = size = 0
    for root, _, names in os.walk(ctx.state_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return (files, "count"), (size, "bytes")


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) application in ``log_dir``: submission and
    completion (epoch seconds), job group, stages and tasks completed,
    failed tasks and shuffle bytes written."""
    files = sorted(
        f for f in glob.glob(f"{log_dir}/**/*", recursive=True) if os.path.isfile(f) and "appstatus" not in f
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(files):
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id", ""),
                "stages": 0,
                "tasks": 0,
                "failed_tasks": 0,
                "shuffle_bytes": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif '"SparkListenerJobEnd"' in line:
            ev = json.loads(line)
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif '"SparkListenerStageCompleted"' in line:
            info = json.loads(line)["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is None:
                continue
            job["stages"] += 1
            job["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                    job["shuffle_bytes"] += int(acc.get("Value", 0))
        elif '"SparkListenerTaskEnd"' in line and '"Success"' not in line:
            ev = json.loads(line)
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is not None and (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                job["failed_tasks"] += 1
    return [j for j in jobs.values() if j["end"] is not None]


def _lines(files: list[str]):
    for f in files:
        with open(f, errors="replace") as fh:
            yield from fh


def _owner(spans: list[Span], pos: dict[int, int], job: dict) -> int | None:
    """Position in ``spans`` of the innermost span that launched ``job``."""
    g = job["group"]
    if g.startswith("perfbench-") and g != YIELD_GROUP:
        return pos.get(int(g.split("-")[1]))
    best = None
    for i, s in enumerate(spans):
        if s.start > job["start"]:
            break
        if s.end >= job["start"]:
            best = i
    return best


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_metrics(spans: list[Span], jobs: list[dict]) -> dict:
    # self time: duration minus direct children (spans are properly nested)
    self_s = [s.end - s.start for s in spans]
    parent = [None] * len(spans)
    stack: list[int] = []
    for i, s in enumerate(spans):
        while stack and spans[stack[-1]].end <= s.start:
            stack.pop()
        if stack:
            parent[i] = stack[-1]
            self_s[stack[-1]] -= s.end - s.start
        stack.append(i)
    by_layer_s: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for s, t in zip(spans, self_s):
        by_layer_s[s.layer] += t
        calls[s.layer] += 1
    pos = {s.idx: i for i, s in enumerate(spans)}
    jobs_in: dict[str, int] = defaultdict(int)
    exec_jobs: list[dict] = []
    for job in jobs:
        i = _owner(spans, pos, job)
        seen = set()
        while i is not None:
            layer = spans[i].layer
            if layer not in seen:
                jobs_in[layer] += 1
                seen.add(layer)
            if layer == "exec" and len(seen) == 1:
                exec_jobs.append(job)
            i = parent[i]
    exec_spans = [s for s in spans if s.layer == "exec"]
    exec_job_s = _covered([(j["start"], j["end"]) for j in exec_jobs])
    merges = [s for s in spans if s.layer == "streaming.txn_state.merge"]
    m = {
        "session.get_spark_s": (by_layer_s["session.get_spark"], "s"),
        "session.tune_s": (by_layer_s["session.tune"], "s"),
        "session.tune_calls": (calls["session.tune"], "count"),
        "sources.load_table_s": (by_layer_s["sources.load_table"], "s"),
        "sources.load_table_calls": (calls["sources.load_table"], "count"),
        "queries.build_s": (by_layer_s["queries.build"], "s"),
        "queries.build_jobs": (jobs_in["queries.build"], "count"),
        "exec.s": (by_layer_s["exec"], "s"),
        "exec.jobs": (len(exec_jobs), "count"),
        "exec.stages": (sum(j["stages"] for j in exec_jobs), "count"),
        "exec.tasks": (sum(j["tasks"] for j in exec_jobs), "count"),
        "exec.gap_s": (sum(s.end - s.start for s in exec_spans) - exec_job_s, "s"),
        "exec.shuffle_bytes": (sum(j["shuffle_bytes"] for j in exec_jobs), "bytes"),
        "operators.plan_s": (by_layer_s["operators"], "s"),
        "operators.calls": (calls["operators"], "count"),
        "operators.graph.cc_s": (by_layer_s["operators.graph.cc"], "s"),
        "operators.graph.cc_jobs": (jobs_in["operators.graph.cc"], "count"),
        "functions.similarity.spread_calls": (calls["functions.similarity.spread"], "count"),
        "functions.similarity.spread_s": (by_layer_s["functions.similarity.spread"], "s"),
        "streaming.txn_state.merge_s": (by_layer_s["streaming.txn_state.merge"], "s"),
        "streaming.txn_state.merge_jobs": (jobs_in["streaming.txn_state.merge"], "count"),
        "streaming.txn_state.merge_calls": (len(merges), "count"),
        "streaming.txn_state.replay_skips": (sum(1 for s in merges if s.result is False), "count"),
        "streaming.txn_state.vacuum_s": (by_layer_s["streaming.txn_state.vacuum"], "s"),
        "streaming.txn_state.read_s": (by_layer_s["streaming.txn_state.read"], "s"),
        "streaming.window_topn.topn_s": (by_layer_s["streaming.window_topn.topn"], "s"),
        "streaming.state_store.merge_s": (by_layer_s["streaming.state_store.merge"], "s"),
        "streaming.state_store.merge_jobs": (jobs_in["streaming.state_store.merge"], "count"),
        "streaming.changelog.diff_s": (by_layer_s["streaming.changelog.diff"], "s"),
        "spark.jobs": (len(jobs), "count"),
        "spark.tasks_failed": (sum(j["failed_tasks"] for j in jobs), "count"),
    }
    for k in DEDUPE_KERNELS:
        m[f"functions.dedupe.{k}_s"] = (by_layer_s[f"functions.dedupe.{k}"], "s")
        m[f"functions.dedupe.{k}_jobs"] = (jobs_in[f"functions.dedupe.{k}"], "count")
    ops = [(i, s) for i, s in enumerate(spans) if s.layer.startswith("op:")]
    op_wall = sum(s.end - s.start for _, s in ops)
    glue = sum(self_s[i] for i, _ in ops)
    m["trace.unattributed_frac"] = (glue / op_wall if op_wall else 0.0, "fraction")
    return m


def single_thread_reference(ctx, workload: str, base: float) -> dict:
    """Run the workload's op kinds once more at local[1] (the same JVM,
    a new SparkContext) and report their median against ``base``, the
    untraced op median at local[n]."""
    import workloads
    from flink_playground_spark import get_spark

    ctx.spark = get_spark("perfbench-local1", cpus=1)
    ops = workloads.single_thread_ops(ctx, workload)
    ctx.spark.stop()
    p50 = statistics.median(ops)
    return {"ref1.op_p50_s": (p50, "s"), "ref1.speedup": (p50 / base, "x")}
