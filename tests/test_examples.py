"""Smoke: example jobs run end-to-end in a subprocess (own SparkSession).
Two representative jobs only — each pays a full session startup."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("job", ["job1_temporal_join.py", "job7_cross_join_unnest.py"])
def test_example_runs(job):
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / job)],
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "NULL" in proc.stdout  # both jobs print an outer-join NULL row


def test_materialized_views_pipeline_runs():
    """The retraction-contract capstone carries its own equality asserts
    (views == batch answer, replay applied zero times, rescale intact);
    a green exit IS the verification."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "pipeline_materialized_views.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "materialized-view loop complete" in proc.stdout


def test_day2_ops_pipeline_runs():
    """Day-2 capstone incl. the streaming-index ops metrics (r11) and,
    r12, the composed near-dup pipeline + takedown cascade: the script
    carries its own asserts (non-empty ledgers, bounded fan-in, replay
    skipped, zero overflow/quarantine on the healthy corpus, forgotten
    id absent after the cascade); a green exit plus the metrics lines
    is the verification."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "pipeline_day2_ops.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "substring ledger ops: {'grams':" in proc.stdout
    # the index's ops dict lists its ledgers by name ('docs' first since
    # the shared wave-index protocol); the bands ledger must be among them
    pipe_ops = [
        line
        for line in proc.stdout.splitlines()
        if line.startswith("neardup pipeline ops (index + clusters): {'index': {")
    ]
    assert len(pipe_ops) == 1 and "'bands': {" in pipe_ops[0]
    assert "frameset index ops: {'grams':" in proc.stdout
    assert "takedown of doc" in proc.stdout
    assert "day-2 loop complete" in proc.stdout


def test_model_guided_curation_pipeline_runs():
    """Round-4 capstone: global passage dedup -> LM scoring -> in-engine
    classifier gate (quantile cut) -> PQ semantic index. A green exit
    with a non-empty kept set and index proves the composition."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "examples" / "pipeline_model_guided_curation.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "kept top-half" in proc.stdout
    assert "PQ index rows: 0" not in proc.stdout
