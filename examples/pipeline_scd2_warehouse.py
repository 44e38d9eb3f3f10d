"""Warehouse dimension-maintenance capstone: CDC apply → SCD2 history →
point-in-time fact enrichment.

The workflow every warehouse runs on top of a changelog (the reference's
temporal-join jobs answer "current version"; this answers "version as of
any time" — without an interval join):

1. CDC batches (upserts + deletes) are applied to the CURRENT-STATE
   dimension with ``TransactionalKeyState.merge_changes`` — latest change
   per key wins, deletes drop keys, each batch commits exactly once and
   its IO only touches affected hash buckets (``streaming/txn_state.py``);
2. the accumulated changelog is collapsed into SCD2 validity intervals
   with ``scd2_build`` — one shuffle, consecutive unchanged states
   merged (``operators/scd.py``);
3. facts are enriched with the version current AT FACT TIME via
   ``point_in_time_join`` — the interval join lowered to the
   single-shuffle as-of join;
4. the as-of answer is cross-checked against the textbook interval join.

Run: ``python examples/pipeline_scd2_warehouse.py``
"""

import datetime as dt
import pathlib
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flink_playground_spark import get_spark
from flink_playground_spark.operators.scd import point_in_time_join, scd2_build
from flink_playground_spark.streaming.txn_state import TransactionalKeyState


def ts(s):
    return dt.datetime.fromisoformat(s)


CDC_WAVES = [
    # wave 1: initial tiers
    [
        ("U", "u1", "bronze", ts("2024-01-01T08:00:00"), 1),
        ("U", "u2", "bronze", ts("2024-01-01T08:10:00"), 2),
        ("U", "u3", "silver", ts("2024-01-01T08:20:00"), 3),
    ],
    # wave 2: u1 upgrades; u2 re-asserts bronze (no real change); u3 deleted
    [
        ("U", "u1", "gold", ts("2024-01-01T09:00:00"), 4),
        ("U", "u2", "bronze", ts("2024-01-01T09:10:00"), 5),
        ("D", "u3", None, ts("2024-01-01T09:20:00"), 6),
    ],
    # wave 3: u2 upgrades late
    [("U", "u2", "silver", ts("2024-01-01T11:00:00"), 7)],
]

FACTS = [
    ("f1", "u1", ts("2024-01-01T08:30:00")),  # bronze era
    ("f2", "u1", ts("2024-01-01T10:00:00")),  # after gold upgrade
    ("f3", "u2", ts("2024-01-01T09:30:00")),  # still bronze (re-assert merged)
    ("f4", "u2", ts("2024-01-01T12:00:00")),  # silver era
    ("f5", "u3", ts("2024-01-01T07:00:00")),  # before u3 ever existed
]


def main() -> None:
    spark = get_spark()
    work = tempfile.mkdtemp(prefix="scd2_wh_")

    # 1. CDC apply: current state, wave by wave
    state = TransactionalKeyState(f"{work}/dim_current", ["user_id"], n_buckets=4)
    changelog_rows = []
    for i, wave in enumerate(CDC_WAVES, 1):
        batch = spark.createDataFrame(
            wave, "op string, user_id string, tier string, ts timestamp_ntz, seq long"
        )
        state.merge_changes("cdc", i, batch, "op", "ts", tiebreakers=("seq",))
        changelog_rows += wave
        print(f"-- after CDC wave {i}: current dimension state")
        state.read(spark).orderBy("user_id").show(truncate=False)

    # 2. SCD2 history from the full changelog (upserts only define states;
    #    a warehouse usually keeps the raw changelog for exactly this)
    changelog = spark.createDataFrame(
        [r for r in changelog_rows if r[0] == "U"],
        "op string, user_id string, tier string, ts timestamp_ntz, seq long",
    )
    scd2 = scd2_build(changelog, ["user_id"], "ts", ["tier"], tiebreaker="seq")
    print("-- SCD2 validity intervals (note: u2's re-asserted bronze merged)")
    scd2.orderBy("user_id", "valid_from").show(truncate=False)

    # 3. point-in-time enrichment
    facts = spark.createDataFrame(FACTS, "fact_id string, user_id string, fts timestamp_ntz")
    pit = point_in_time_join(facts, scd2, [("user_id", "user_id")], "fts", how="left")
    print("-- facts enriched with the tier current at fact time")
    pit.select("fact_id", "user_id", "fts", "tier", "valid_from", "valid_to").orderBy(
        "fact_id"
    ).show(truncate=False)

    # 4. cross-check vs the textbook interval join
    interval = facts.join(
        scd2,
        (facts.user_id == scd2.user_id)
        & (facts.fts >= scd2.valid_from)
        & (scd2.valid_to.isNull() | (facts.fts < scd2.valid_to)),
        "left",
    ).select("fact_id", "tier")
    a = {(r.fact_id, r.tier) for r in pit.select("fact_id", "tier").collect()}
    b = {(r.fact_id, r.tier) for r in interval.collect()}
    assert a == b, f"as-of lowering diverged from interval join: {a ^ b}"
    print(f"as-of == interval join on {len(a)} facts — OK")


if __name__ == "__main__":
    main()
