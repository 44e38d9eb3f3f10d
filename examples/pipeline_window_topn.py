"""Window Top-N serving lifecycle: ingest waves → rank → retention.

The operational loop around the incremental Window Top-N operator
(streaming/window_topn.py) — Flink SQL's windowed-rank pattern run as a
continuously-maintained dashboard: event waves fold per-(window, user)
counts into transactional state exactly once (a redelivered wave is a
visible no-op), the current top-3 per hour window is ranked from state
alone at any moment, and ``expire`` transactionally drops windows past
the retention horizon so state tracks the live horizon, not stream
history. Each wave appends its partial counts as one delta; ``expire``
reports the partial-count rows it removed.

Run: ``python examples/pipeline_window_topn.py``
"""

import pathlib
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flink_playground_spark import get_spark
from flink_playground_spark.sources.tables import load_table
from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark("window-topn-example")
    events = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    op = StreamingWindowTopN(
        tempfile.mkdtemp(prefix="wtopn_example_"), "user_id", "ts", "1 hour"
    )

    for wave in range(3):
        applied = op.ingest(events.filter(F.col("event_id") % 3 == wave), batch_id=wave)
        print(f"wave {wave}: applied={applied}")
    # at-least-once delivery: the replayed wave is skipped, counts stay exact
    print("replay wave 1:", "applied=", op.ingest(
        events.filter(F.col("event_id") % 3 == 1), batch_id=1))

    top = op.topn(spark, 3)
    n_windows = top.select("window_start").distinct().count()
    print(f"\ntop-3 users over {n_windows} hour windows; first windows:")
    top.orderBy("window_start", "rn").show(9, truncate=False)

    ends = sorted(r[0] for r in top.select("window_end").distinct().collect())
    horizon = ends[int(len(ends) * 0.9)]
    removed = op.expire(spark, horizon)
    live = op.topn(spark, 3)
    print(
        f"retention at {horizon}: {removed} partial-count rows dropped, "
        f"{live.select('window_start').distinct().count()} windows live"
    )
    live.orderBy("window_start", "rn").show(9, truncate=False)


if __name__ == "__main__":
    main()
