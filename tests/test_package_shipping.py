"""``session.get_spark`` ships the engine package to the Python workers,
so a script run from any directory can call UDFs that import it."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = str(pathlib.Path(__file__).resolve().parent.parent)

SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from flink_playground_spark import get_spark


def quoted(batches):
    from flink_playground_spark.sqltext import quote

    for pdf in batches:
        yield pdf.assign(q=pdf["name"].map(quote))


spark = get_spark("package-shipping", cpus=1)
df = spark.createDataFrame([("a",)], "name string")
print(df.mapInPandas(quoted, "name string, q string").first()["q"])
spark.stop()
"""


def test_workers_import_the_engine_from_another_directory(tmp_path):
    """A script outside the repository puts it on the driver's
    ``sys.path`` only (no ``PYTHONPATH``) and runs a ``mapInPandas``
    whose function imports an engine module in the worker: it passes
    after ``get_spark`` alone."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "`a`"
