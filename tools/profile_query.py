"""Event-log job profiler for individual registry queries (guide §1/§7).

Usage::

    python tools/profile_query.py dedup_clusters [--reps 2] [--sf /root/testdata/sf0.1]

Runs each query (construction + noop materialization, the bench
protocol) in a session with ``spark.eventLog.enabled``, then parses the
event log: per-job wall clock, the job's first line of description, and
the DRIVER GAPS between jobs (py4j expression construction, Catalyst
analysis, manifest IO — everything that is not a Spark job). It also
measures the plan build directly: ``build_s`` is the wall time spent in
the query function before the materializing action (eager checkpoints
inside it included), ``py4j_calls`` the Python-to-JVM round trips made
in that time. The last rep of each query is reported (warm:
codegen/file-listing one-time costs land in rep 1).

Output: one human block per query + one JSON line per query with
``{"query", "wall_s", "build_s", "py4j_calls", "job_s", "gap_s",
"n_jobs"}``.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

from flink_playground_spark.session import BUILD_CONF, tune


class _Py4jCalls:
    """Counts Python-to-JVM round trips: every py4j command goes through
    ``GatewayClient.send_command`` (the pinned-thread ``JavaClient``
    inherits it)."""

    def __init__(self) -> None:
        from py4j.java_gateway import GatewayClient

        self.n = 0
        send = GatewayClient.send_command

        def counted(client, *args, **kwargs):
            self.n += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted


def _get_spark_with_eventlog(log_dir: str) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
    )
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


def _parse_jobs(log_dir: str, t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs whose submission falls in [t0, t1], from the event log."""
    files = sorted(
        pathlib.Path(log_dir).rglob("*"), key=lambda p: p.stat().st_mtime
    )
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    for f in files:
        if f.is_dir() or "appstatus" in f.name:
            continue
        with open(f, errors="replace") as fh:
            for ln in fh:
                if '"SparkListenerJobStart"' in ln:
                    ev = json.loads(ln)
                    jid = ev["Job ID"]
                    sub = ev["Submission Time"]
                    if not (t0_ms <= sub <= t1_ms):
                        continue
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )
                    cid = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    n_tasks = sum(
                        s.get("Number of Tasks", 0)
                        for s in ev.get("Stage Infos", [])
                    )
                    jobs[jid] = {
                        "job": jid,
                        "sub_ms": sub,
                        "desc": (desc or cid)[:80],
                        "n_tasks": n_tasks,
                    }
                elif '"SparkListenerJobEnd"' in ln:
                    ev = json.loads(ln)
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["end_ms"] = ev["Completion Time"]
                elif '"SparkListenerStageCompleted"' in ln:
                    ev = json.loads(ln)["Stage Info"]
                    sub = ev.get("Submission Time")
                    if sub is None or not (t0_ms <= sub <= t1_ms):
                        continue
                    scopes = []
                    for ri in ev.get("RDD Info", []):
                        sc = ri.get("Scope")
                        if sc:
                            try:
                                nm = json.loads(sc).get("name", "")
                            except Exception:
                                nm = ""
                            if nm and nm not in scopes:
                                scopes.append(nm)
                    stages.append(
                        {
                            "stage": ev["Stage ID"],
                            "sub_ms": sub,
                            "dur_s": round(
                                (ev["Completion Time"] - sub) / 1000.0, 3
                            ),
                            "n_tasks": ev.get("Number of Tasks", 0),
                            "name": " ".join(scopes[:8])[:100],
                        }
                    )
    out = []
    for j in sorted(jobs.values(), key=lambda x: x["sub_ms"]):
        if "end_ms" not in j:
            continue
        j["dur_s"] = round((j["end_ms"] - j["sub_ms"]) / 1000.0, 3)
        j["stages"] = [
            s for s in stages if j["sub_ms"] <= s["sub_ms"] <= j["end_ms"]
        ]
        out.append(j)
    return out


def main() -> None:
    reps = 2
    sf_dir = "/root/testdata/sf0.1"
    args = []
    skip = -1
    for i, a in enumerate(sys.argv[1:], start=1):
        if i == skip:
            continue
        if a == "--reps":
            reps, skip = int(sys.argv[i + 1]), i + 1
        elif a == "--sf":
            sf_dir, skip = sys.argv[i + 1], i + 1
        elif not a.startswith("--"):
            args.append(a)

    log_dir = tempfile.mkdtemp(prefix="fps_eventlog_")
    spark = _get_spark_with_eventlog(log_dir)
    spark.range(10_000).selectExpr("sum(id)").collect()

    from flink_playground_spark.queries import EXTRA_REGISTRY, REGISTRY

    allq = {**REGISTRY, **EXTRA_REGISTRY}
    calls = _Py4jCalls()
    results = []
    for name in args:
        q = allq[name]
        wall = t0 = t1 = None
        for _ in range(reps):
            t0 = time.time() * 1000
            w0 = time.perf_counter()
            calls.n = 0
            df = q.spark_fn(spark, sf_dir)
            build, n_calls = time.perf_counter() - w0, calls.n
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - w0
            t1 = time.time() * 1000
        # flush the event log by stopping later; for parse-now, the log
        # file is line-buffered via the JSON sink — rotate by restarting
        results.append((name, t0, t1, wall, build, n_calls))
    spark.stop()  # flush event log

    for name, t0, t1, wall, build, n_calls in results:
        jobs = _parse_jobs(log_dir, t0, t1)
        job_s = round(sum(j["dur_s"] for j in jobs), 3)
        print(f"\n=== {name}: wall {wall:.3f}s, build {build:.3f}s in {n_calls} py4j calls, "
              f"{len(jobs)} jobs, job time {job_s}s, driver gap {wall - job_s:.3f}s ===")
        prev_end = t0
        for j in jobs:
            gap = (j["sub_ms"] - prev_end) / 1000.0
            prev_end = j["end_ms"]
            print(f"  [gap {gap:6.3f}s] job {j['job']:>4} {j['dur_s']:7.3f}s "
                  f"{j['n_tasks']:>4}t  {j['desc']}")
            if j["dur_s"] >= 0.3:
                for s in j["stages"]:
                    print(f"        stage {s['stage']:>4} {s['dur_s']:7.3f}s "
                          f"{s['n_tasks']:>4}t  {s['name']}")
        print(json.dumps({
            "query": name, "wall_s": round(wall, 3), "build_s": round(build, 3),
            "py4j_calls": n_calls, "job_s": job_s,
            "gap_s": round(wall - job_s, 3), "n_jobs": len(jobs),
        }))


if __name__ == "__main__":
    main()
