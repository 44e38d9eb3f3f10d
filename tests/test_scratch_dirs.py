"""Scratch directories of folds called without a work directory
(``session.scratch_dir``) are removed when the interpreter exits."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = str(pathlib.Path(__file__).resolve().parent.parent)

SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from flink_playground_spark import get_spark
from flink_playground_spark.queries import streaming_dedup_latest
from flink_playground_spark.streaming.runners import replay_events_waves

spark = get_spark("scratch-dirs", cpus=2)
assert streaming_dedup_latest(spark, sys.argv[2]).count() > 0
q = (
    replay_events_waves(spark, sys.argv[2], waves=2)
    .writeStream.format("memory").queryName("waves")
    .trigger(availableNow=True).start()
)
q.awaitTermination()
assert spark.table("waves").count() > 0
print(json.dumps(sorted(d for d in os.listdir(os.environ["TMPDIR"]) if d.startswith("fps_"))))
spark.stop()
"""


def test_scratch_dirs_removed_at_exit(tmp_path, sf_dir):
    """A process that runs ``streaming_dedup_latest`` and drains
    ``replay_events_waves`` under a private TMPDIR holds its ``fps_*``
    directories while it runs and leaves none behind."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, sf_dir],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    during = json.loads(out.stdout.strip().splitlines()[-1])
    assert any(d.startswith("fps_changelog_") for d in during), during
    assert any(d.startswith("fps_wavesrc_") for d in during), during
    assert [d for d in os.listdir(tmp) if d.startswith("fps_")] == []
