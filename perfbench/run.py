"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload reference_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. This process:

- builds the seeded inputs (``gen.py``) under ``.perfbench/cache/`` in the
  checkout, once per seed and workload;
- gives the run its own ``TMPDIR``, ``SPARK_LOCAL_DIRS``, Java temp dir,
  event log and state dirs under ``.perfbench/run-<pid>/`` and deletes
  them afterwards;
- sizes the engine to the host: ``SPARK_GRAFT_CPUS`` = usable CPUs,
  ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of RAM, at most 2g, which is
  also the JVM's initial heap;
- starts ``worker.py`` in a new process group, samples the resident
  memory of that whole group (Python driver, Spark JVM, Python workers)
  over the measured phase and kills whatever is left of the group when
  the worker ends;
- prints the worker's result, plus ``peak_rss_mb``, as the last line.

``--trace 1`` prints the per-layer metrics instead (see LAYERS.md).
Exits non-zero, without a result line, if the engine is missing, the
worker fails or it runs past ``TIMEOUT_S``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stopwatch import cpu_ticks  # noqa: E402

TIMEOUT_S = 170
PAGE = os.sysconf("SC_PAGE_SIZE")


def _group(pgid: int) -> dict[int, int]:
    """Process id -> parent id of every process in group ``pgid``."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # fields 4 and 5 of stat: parent, group
            procs[int(entry)] = int(fields[1])
    return procs


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read()


def _group_rss_mb(pgid: int) -> float:
    """Summed RSS of the group. A process forked from another one of the
    group that still runs the parent's program (a JVM that is spawning a
    Python worker, a forked Python worker) shares the parent's pages and
    is counted with the parent only; summing it too would count the
    2 GB JVM twice at every spawn."""
    procs = _group(pgid)
    pages = 0
    for pid, ppid in procs.items():
        try:
            if ppid in procs and _cmdline(pid) == _cmdline(ppid):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            continue
    return pages * PAGE / 2**20


class PeakRss:
    """Samples the summed RSS of a process group every 100 ms, once
    ``measuring`` is set."""

    def __init__(self, pgid: int):
        self.pgid = pgid
        self.peak = 0.0
        self.measuring = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            if self.measuring:
                self.peak = max(self.peak, _group_rss_mb(self.pgid))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.monotonic() + 20
    while _group(pgid) and time.monotonic() < end:
        time.sleep(0.05)


def host_sizing() -> tuple[int, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    mem_mb = min(2048, total_kb // 1024 // 4)
    return cpus, f"{mem_mb}m"


def build_inputs(workload: str, seed: int, cache: pathlib.Path) -> None:
    """The seeded inputs of ``workload``, once per seed."""
    import gen
    from workloads import TABLES

    final = cache / "inputs"
    if (final / "facts.json").exists():
        return
    tmp = cache / f"inputs.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    facts = gen.build(seed, str(tmp), TABLES[workload])
    (tmp / "facts.json").write_text(json.dumps(facts))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=["reference_sql", "wave_fold", "neardup_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for needed in ("flink_playground_spark/__init__.py", "tools/check.py"):
        if not (ROOT / needed).is_file():
            print(f"perfbench: {needed} not found under {ROOT}; run from a checkout of the engine", file=sys.stderr)
            return 2

    cache = ROOT / ".perfbench" / "cache" / f"seed-{args.seed}" / args.workload
    build_inputs(args.workload, args.seed, cache)

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "state", "eventlog"):
        (work / d).mkdir(parents=True)
    cpus, mem = host_sizing()
    submit = [
        "--driver-java-options",
        # a fixed heap: no resizing while the run measures
        f"-Djava.io.tmpdir={work / 'tmp'} -Xms{mem}",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    # every run writes the event log (the traced run's job counts), so a
    # traced and an untraced run differ only by the tracer itself
    submit += [
        "--conf",
        "spark.eventLog.enabled=true",
        "--conf",
        "spark.eventLog.compress=false",
        "--conf",
        f"spark.eventLog.dir=file://{work / 'eventlog'}",
    ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=mem,
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable,
        str(HERE / "worker.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--inputs={cache / 'inputs'}",
        f"--cache={cache}",
        f"--work={work / 'state'}",
        f"--eventlog={work / 'eventlog'}",
    ]
    ticks0 = "{},{}".format(*cpu_ticks())
    t0 = time.monotonic()
    print(f"phase inputs ready {t0:.3f}", flush=True)
    proc = subprocess.Popen(
        cmd + [f"--t0={t0}", f"--ticks0={ticks0}"], env=env, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    rss = PeakRss(proc.pid)
    timer = threading.Timer(TIMEOUT_S, lambda: _kill_group(proc.pid))
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                last = line
                continue
            if line.startswith("phase warm-up done"):
                # the peak of the measured phase: the warm-up runs several
                # ops at once and the oracle process beside them
                rss.measuring = True
            sys.stdout.write(line)
        rc = proc.wait()
    finally:
        timer.cancel()
        peak = rss.stop()
        _kill_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    print(f"phase cleaned up {time.monotonic():.3f}", flush=True)
    if rc != 0 or last is None:
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
        return 1
    result = json.loads(last)
    facts = result.pop("facts")
    facts.update(spark_graft_cpus=cpus, spark_graft_driver_mem=mem, seed=args.seed, workload=args.workload)
    print("facts " + json.dumps(facts, sort_keys=True))
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
