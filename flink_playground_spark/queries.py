"""Named query catalog: every operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair over the synthetic corpus (TESTDATA.md).

Each ``spark_fn(spark, sf_dir) -> DataFrame`` is the engine's Spark-first
implementation; ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the
same parquet for the driver's differential correctness gate. Column names
are aliased identically on both sides (the comparator sorts columns by
name before hashing). Float aggregates are ``round(x, 2)`` on both sides:
Spark's partial aggregation sums doubles in a different order than
DuckDB's sequential scan, so raw sums differ in the last ulp.

DuckDB's raw ``events`` view carries nanosecond timestamps; oracles
``CAST(ts AS TIMESTAMP)`` to microseconds to match the engine's exact
integer-math conversion (sources.tables).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_playground_spark.operators.dedup import dedup_latest, pk_upsert_view
from flink_playground_spark.operators.temporal import as_of_join, temporal_join
from flink_playground_spark.operators.unnest import unnest_outer
from flink_playground_spark.operators.windows import top_k_per_group, tumble_agg
from flink_playground_spark.session import tune
from flink_playground_spark.sources.tables import load_table


@dataclass
class QueryDef:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    tags: tuple[str, ...] = field(default=())
    bench: bool = False  # include in bench.py headline set
    # Python reference oracle for hash-seeded queries DuckDB cannot
    # express: (sf_dir) -> pandas.DataFrame with the same columns. Used
    # by tools/check.py + tests for full value comparison where the
    # driver's SQL gate records rows-only (functions/reference.py).
    py_oracle: Callable[[str], object] | None = None


REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    py_oracle: Callable[[str], object] | None = None,
):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(name, wrapped, oracle, tags, bench, py_oracle)
        return wrapped

    return deco


EXTRA_REGISTRY: dict[str, QueryDef] = {}


def register_extra(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = True,
    py_oracle: Callable[[str], object] | None = None,
):
    """Bench-extra queries: oracle-checked shapes beyond the 50-entry
    driver registry. The driver's CORRECTNESS gate caps at 50 rows, so
    these live in EXTRA_REGISTRY: bench.py times them and the local gate
    (tools/check.py, tests/test_queries_oracle.py) verifies them against
    the same DuckDB oracles — they are simply not part of the driver's 50."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        EXTRA_REGISTRY[name] = QueryDef(name, wrapped, oracle, tags, bench, py_oracle)
        return wrapped

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# W1 + J5 — flagship: dedup-keep-latest CTE + left outer join
# (WithDeduplicateJoinJob.java:88-104 re-phrased on the corpus)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH deduped AS (
  SELECT user_id, event_type, value, ts FROM (
    SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t WHERE rn = 1)
SELECT c.c_custkey, c.c_name, d.event_type AS last_event_type,
       d.value AS last_value, d.ts AS last_ts
FROM customer c LEFT OUTER JOIN deduped d ON c.c_custkey = d.user_id
"""


@register("flagship_dedup_join", _FLAGSHIP_ORACLE, tags=("W1", "J5", "J4"), bench=True)
def flagship_dedup_join(spark, sf_dir):
    """Dedup `events` to the latest row per user_id, then enrich `customer`
    with a LEFT OUTER equi-join — the reference's flagship shape."""
    customer = _t(spark, sf_dir, "customer")
    events = _t(spark, sf_dir, "events")
    latest = dedup_latest(events, "user_id", "ts", tiebreakers=("event_id",))
    return customer.join(latest, customer.c_custkey == latest.user_id, "left_outer").select(
        "c_custkey",
        "c_name",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@register_extra(
    "dedup_latest_events",
    """
SELECT event_id, ts, user_id, event_type, value FROM (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t WHERE rn = 1
""",
    tags=("W1",),
    bench=False,
)
def dedup_latest_events(spark, sf_dir):
    """Keep-latest dedup (ROW_NUMBER pattern, WithDeduplicateJoinJob.java:89-97)."""
    events = _t(spark, sf_dir, "events")
    return dedup_latest(events, "user_id", "ts", tiebreakers=("event_id",)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register_extra(
    "pk_upsert_latest",
    """
SELECT user_id, event_type AS current_type, value AS current_value FROM (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events) t WHERE rn = 1
""",
    tags=("W2",),
    bench=False,
)
def pk_upsert_latest(spark, sf_dir):
    """PK-upsert view (WithStateTtlJob.java:73-77): arrival order = event_id."""
    events = _t(spark, sf_dir, "events")
    up = pk_upsert_view(events, "user_id", arrival_col="event_id")
    return up.select(
        "user_id",
        F.col("event_type").alias("current_type"),
        F.col("value").alias("current_value"),
    )


# ---------------------------------------------------------------------------
# P1-P7 — projection / filter / computed columns
# ---------------------------------------------------------------------------


@register_extra(
    "proj_filter_arith",
    """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS net_price,
       upper(l_returnflag) AS flag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1998-06-01'
  AND l_quantity > 25
""",
    tags=("P1", "P2", "P3", "P7"),    bench=False,
)
def proj_filter_arith(spark, sf_dir):
    """Projection + alias + filter + computed column; predicates and the
    two-column read schema push down to the parquet scan. Money math is
    decimal (exact, engine-order-independent), surfaced as double."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return li.filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1998-06-01")
        & (F.col("l_quantity") > 25)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(price * (F.lit(1) - disc), 2).cast("double").alias("net_price"),
        F.upper("l_returnflag").alias("flag"),
    )


# ---------------------------------------------------------------------------
# J4 / J6 — equi outer joins
# ---------------------------------------------------------------------------


@register_extra(
    "join_left_outer",
    """
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o LEFT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
""",
    tags=("J4", "J6"),
    bench=True,
)
def join_left_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER equi-join shape (WithStateTtlJob.java:79-88)
    in batch: orders ⟕ customer. Join condition authored in the join (not a
    post-filter) to preserve outer semantics (SURVEY §4)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "left_outer").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register_extra(
    "join_multiway",
    """
SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""",
    tags=("J6",),    bench=False,
)
def join_multiway(spark, sf_dir):
    """Multi-way dimension join; nation/region are broadcast (small dims)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


# ---------------------------------------------------------------------------
# J7 — correlated UNNEST (explode_outer), incl. the empty-array case
# ---------------------------------------------------------------------------


@register_extra(
    "unnest_outer_items",
    """
SELECT o.o_orderkey, l.l_partkey AS item
FROM orders o LEFT OUTER JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 45
""",
    tags=("J7", "J8"),
    bench=False,
)
def unnest_outer_items(spark, sf_dir):
    """LEFT OUTER JOIN UNNEST(array) ON TRUE (CrossJoinJob.java:66-73):
    build an array column per order (empty for orders with no qualifying
    items — the reference's `(b, [])` case), explode_outer preserves those
    rows with NULL."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    items = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_outer").groupBy("o_orderkey").agg(
        F.collect_list(F.when(F.col("l_quantity") > 45, F.col("l_partkey"))).alias("items")
    )
    return unnest_outer(items, "items").withColumnRenamed("items", "item")


# ---------------------------------------------------------------------------
# J1-J3 / U1-U2 — temporal & as-of joins
# ---------------------------------------------------------------------------


@register_extra(
    "temporal_join_current",
    """
WITH snap AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t WHERE rn = 1)
SELECT o.o_orderkey, o.o_custkey, s.event_type AS cur_event_type, s.value AS cur_value
FROM orders o JOIN snap s ON o.o_custkey = s.user_id
""",
    tags=("J1", "J2", "J3", "U1", "U2"),
    bench=False,
)
def temporal_join_current(spark, sf_dir):
    """Processing-time temporal join (LATERAL TABLE(ttf), DataStreamJob.java:98-104):
    probe the current (latest) version of each dimension key."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    joined = temporal_join(orders, events, [("o_custkey", "user_id")], "ts", "inner", ("event_id",))
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.col("event_type").alias("cur_event_type"),
        F.col("value").alias("cur_value"),
    )


@register(
    "as_of_join_events",
    """
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP) ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase') t WHERE rn = 1)
SELECT c.click_id, c.user_id, c.click_ts,
       p.ts AS purchase_ts, p.value AS purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.click_ts >= p.ts
""",
    tags=("J1", "J2"),
    bench=True,
)
def as_of_join_events(spark, sf_dir):
    """Event-time as-of join: for each click, the user's most recent
    purchase at or before it. Union-sort algorithm — one shuffle, no row
    explosion (operators.temporal)."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase")
    # make (user_id, ts) unique so engine and oracle agree on ties
    purchases = dedup_latest(purchases, ["user_id", "ts"], "event_id").select("user_id", "ts", "value")
    joined = as_of_join(
        clicks, purchases, [("user_id", "user_id")], left_time="click_ts", right_time="ts", how="left"
    )
    return joined.select(
        "click_id",
        "user_id",
        "click_ts",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# A1 — ranking / top-k per group
# ---------------------------------------------------------------------------


@register_extra(
    "topk_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_orderdate, rownum FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rownum
  FROM orders) t WHERE rownum <= 3
""",
    tags=("A1",),
    bench=True,
)
def topk_orders_per_customer(spark, sf_dir):
    """ROW_NUMBER() ranking (WithDeduplicateJoinJob.java:92-94) as top-k;
    Catalyst's window-group-limit pushes k below the sort."""
    orders = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        orders, ["o_custkey"], [F.desc("o_orderdate"), F.desc("o_orderkey")], 3
    ).select("o_custkey", "o_orderkey", "o_orderdate", "rownum")


# ---------------------------------------------------------------------------
# G1/G2/T1 — aggregation & tumbling windows
# ---------------------------------------------------------------------------


@register(
    "tumble_hop_events",
    """
WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
x AS (
  SELECT event_type, value, time_bucket(INTERVAL '30 minutes', ts) AS ws FROM e
  UNION ALL
  SELECT event_type, value, time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws FROM e
)
SELECT 'tumble' AS op, event_type,
       time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       count(*) AS cnt, NULL AS sum_value
FROM e GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'hop' AS op, event_type, ws AS window_start, ws + INTERVAL '1 hour' AS window_end,
       count(*) AS cnt, CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'cumulate' AS op, event_type, ws AS window_start, we AS window_end,
       count(*) AS cnt, NULL AS sum_value
FROM (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL '30 minutes' AS we
  FROM e WHERE ts < time_bucket(INTERVAL '1 hour', ts) + INTERVAL '30 minutes'
  UNION ALL
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS we
  FROM e) c GROUP BY 1, 2, 3, 4
""",
    tags=("G1", "T1", "G2"),
    bench=True,
)
def tumble_hop_events(spark, sf_dir):
    """The complete Flink window-TVF family, tagged in one result:
    TUMBLE (WindowsProctimeAggJob.java:65-81, event time as the
    deterministic proctime stand-in, SURVEY §7.4), HOP (sliding), and
    CUMULATE (expanding windows that share a start and grow by `step`
    until `size` — early partials converging to the tumble answer).
    Tumble is one shuffle; hop/cumulate expand each row into ≤2 windows
    map-side (codegen'd explode), then one shuffle each."""
    events = _t(spark, sf_dir, "events")
    tumble = tumble_agg(
        events, "ts", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("cnt")]
    ).select(
        F.lit("tumble").alias("op"),
        "event_type",
        "window_start",
        "window_end",
        "cnt",
        F.lit(None).cast("double").alias("sum_value"),
    )
    hop = tumble_agg(
        events,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("cnt"),
            # decimal sum: exact + order-independent (double sums differ
            # from the oracle's sequential sum in the last ulp and can
            # straddle the .005 rounding midpoint on discrete data)
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        ],
        slide="30 minutes",
    ).select(
        F.lit("hop").alias("op"), "event_type", "window_start", "window_end", "cnt", "sum_value"
    )
    from flink_playground_spark.operators.windows import cumulate_agg

    cml = cumulate_agg(
        events, "ts", "1 hour", "30 minutes", ["event_type"], [F.count(F.lit(1)).alias("cnt")]
    ).select(
        F.lit("cumulate").alias("op"),
        "event_type",
        "window_start",
        "window_end",
        "cnt",
        F.lit(None).cast("double").alias("sum_value"),
    )
    return tumble.unionAll(hop).unionAll(cml)


@register_extra(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("G1", "G2", "P1", "P3"),
    bench=True,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the engine's headline scan+agg.

    Money math must be EXACT and order-independent (a raw double sum
    differs from the sequential oracle sum in the last ulp and can
    straddle a rounding midpoint — the data's values are discrete
    decimals). Spark's decimal-sum aggregate delivers that but runs
    outside primitive codegen (~4× slower than long sums, measured), so
    the heavy pass here sums EXACT INTEGER UNITS (cents; price·disc
    products in 1e-4/1e-6 dollar units) as longs, grouped by
    (group keys, spark_partition_id) — map-side it collapses to one row
    per (partition, group), so the shuffle carries only
    groups × partitions rows — and a second, trivial aggregation sums
    the partials as decimals. Integer sums are exact in any order;
    decimal partials are exact; the result is bit-identical to the
    all-decimal formulation (and to the oracle) at long-sum speed.

    Overflow safety at 100 TB: `maxPartitionBytes` (128 MB) caps a scan
    partition at ~1.1e6 lineitem rows; the largest per-row term (charge,
    1e-6 units) is ≤ ~1.1e11, so a per-partition partial is ≤ ~1.2e17 —
    64× inside int64, and Spark 4 ANSI mode would throw loudly rather
    than wrap if that invariant were ever violated. The decimal second
    stage is unbounded-safe.
    """
    from flink_playground_spark.operators.money import cents, exact_money_agg

    li = _t(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_shipdate") <= "2001-09-02").select(
        "l_returnflag",
        "l_linestatus",
        cents("l_quantity").alias("qc"),
        cents("l_extendedprice").alias("pc"),
        cents("l_discount").alias("dc"),
        cents("l_tax").alias("tc"),
    )
    dp = F.col("pc") * (100 - F.col("dc"))
    agg = exact_money_agg(
        base,
        ["l_returnflag", "l_linestatus"],
        unit_sums={
            "dsq": (F.col("qc"), 2),
            "dsp": (F.col("pc"), 2),
            "dsdp": (dp, 4),
            "dsch": (dp * (100 + F.col("tc")), 6),
            "dsd": (F.col("dc"), 2),
        },
        extra={"n": F.lit(1)},
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("dsq").cast("double").alias("sum_qty"),
        F.col("dsp").cast("double").alias("sum_base_price"),
        F.round(F.col("dsdp"), 2).cast("double").alias("sum_disc_price"),
        F.round(F.col("dsch"), 2).cast("double").alias("sum_charge"),
        F.round(F.col("dsq").cast("double") / F.col("n"), 4).alias("avg_qty"),
        F.round(F.col("dsp").cast("double") / F.col("n"), 4).alias("avg_price"),
        F.round(F.col("dsd").cast("double") / F.col("n"), 4).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


@register_extra(
    "q3_revenue_by_order",
    """
SELECT l.l_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-07-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
""",
    tags=("J6", "G1"),
    bench=True,
)
def q3_revenue_by_order(spark, sf_dir):
    """TPC-H Q3-shaped: selective dim filter → fact join → agg. Customer is
    the small filtered side; Catalyst/AQE broadcasts it. Revenue sums in
    exact 1e-4-dollar integer units as longs (primitive codegen — see
    q1's rationale; a per-ORDER accumulator is ≤ a few dozen rows at any
    corpus size, so no partition stage is needed), converted to decimal
    once per output row."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-07-01")
    l = _t(spark, sf_dir, "lineitem")
    from flink_playground_spark.operators.money import cents, exact_money_agg

    revenue_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    joined = l.join(o, l.l_orderkey == o.o_orderkey).join(c, o.o_custkey == c.c_custkey)
    return (
        exact_money_agg(
            joined,
            ["l_orderkey", "o_orderdate", "o_orderpriority"],
            unit_sums={"rev": (revenue_units, 4)},
            partition_stage=False,  # per-order groups are tiny at any scale
        )
        .select(
            "l_orderkey",
            F.round(F.col("rev"), 2).cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@register_extra(
    "json_props_agg",
    """
SELECT event_type,
       ROUND(CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS DOUBLE) / count(*), 4) AS avg_k,
       MAX(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""",
    tags=("P7",),    bench=False,
)
def json_props_agg(spark, sf_dir):
    """Scalar-function surface: JSON extraction (get_json_object) + cast +
    aggregate — exercises Spark's built-in scalar library (SURVEY §2.2
    notes the reference needs none beyond PROCTIME; this is the superset
    a real pipeline needs)."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.round(F.sum(k).cast("double") / F.count(F.lit(1)), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register_extra(
    "q5_local_supplier_volume",
    """
SELECT n.n_name AS nation,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
    tags=("J6", "G1"),
    bench=True,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped six-way join: Catalyst reorders so the region→
    nation→supplier dim chain broadcasts and the lineitem fact shuffles
    once for the orders join; the c_nationkey = s_nationkey condition
    rides the join, not a post-filter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select(F.col("n_name").alias("nation"), "revenue")
    )


@register_extra(
    "q6_forecast_revenue",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
    tags=("P3", "G1"),
    bench=True,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shaped: pure scan → pushed filters → single global agg —
    the scan-throughput probe (no shuffle beyond the 1-row combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(4,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register_extra(
    "q18_large_volume_customer",
    """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
""",
    tags=("superset-join", "superset-agg"),
    bench=True,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18-shaped large-volume-customer query: the big-agg-join
    bench shape. Lineitem aggregates ONCE on l_orderkey (one shuffle,
    map-side combine, decimal-exact); the surviving orders (~0.3%) are
    broadcast to both orders and customer, so neither big table
    shuffles for a join; TakeOrderedAndProject caps the sort at 100
    rows. Q18's textbook plan re-joins lineitem a second time — the
    per-order sum is already in hand, so this plan skips that scan."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    li = _t(spark, sf_dir, "lineitem")
    # exact integer units (operators/money.py): per-order quantity sums
    # are tiny at any corpus size, so no partition stage
    big = (
        exact_money_agg(
            li.select("l_orderkey", cents("l_quantity").alias("qc")),
            ["l_orderkey"],
            unit_sums={"q": (F.col("qc"), 2)},
            partition_stage=False,
        )
        .filter(F.col("q") > 300)
        .select("l_orderkey", F.col("q").cast("double").alias("sum_qty"))
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
    j = j.join(customer, j.o_custkey == customer.c_custkey)
    return (
        j.select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "skewed_join_salted",
    """
WITH s AS (SELECT CASE WHEN value < 90 THEN 1 ELSE user_id + 2 END AS k, value FROM events)
SELECT c_mktsegment, count(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM s LEFT JOIN customer ON k = c_custkey
GROUP BY c_mktsegment
""",
    tags=("superset-join",),
    bench=True,
)
def skewed_join_salted(spark, sf_dir):
    """Deliberately skewed join exercising the salted-join operator: ~84%
    of events collapse onto one hot key (1), the rest spread over
    user_id+2 — a plain hash join would funnel the hot key into a single
    shuffle partition. ``salted_join`` spreads it over 8 sub-partitions
    (replicating the dim 8×), restoring parallelism without AQE; the
    post-join aggregation collapses to ≤6 rows."""
    from flink_playground_spark.operators.relational import salted_join

    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    skewed = events.select(
        F.when(F.col("value") < 90, F.lit(1))
        .otherwise(F.col("user_id") + 2)
        .cast("long")
        .alias("k"),
        "value",
    )
    joined = salted_join(skewed, customer, on=[("k", "c_custkey")], how="left_outer", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# T1-T6 — Structured Streaming: the same semantics executed through the
# micro-batch engine (state store, incremental agg), drained with
# availableNow and checked against the *same* SQL oracles as batch.
# ---------------------------------------------------------------------------


@register_extra(
    "streaming_tumble_count",
    """
SELECT event_type,
       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS window_end,
       count(*) AS cnt
FROM events GROUP BY 1, 2, 3
""",
    tags=("T1", "T2", "G1"),
    bench=False,
)
def streaming_tumble_count(spark, sf_dir):
    """WindowsProctimeAggJob.java:65-81 on the real streaming engine:
    events replayed as a file stream, incremental windowed count, complete
    output mode (the changelog view, T6)."""
    from flink_playground_spark.streaming.runners import replay_events_stream, run_to_memory

    stream = replay_events_stream(spark, sf_dir)
    agg = tumble_agg(stream, "ts", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("cnt")])
    out = run_to_memory(agg.select("event_type", "window_start", "window_end", "cnt"), "complete")
    return out


@register_extra(
    "streaming_dedup_latest",
    """
SELECT event_id, ts, user_id, event_type, value FROM (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t WHERE rn = 1
""",
    tags=("W1", "T6"),
    bench=False,
)
def streaming_dedup_latest(spark, sf_dir):
    """Streaming keep-latest dedup (the Flink Deduplicate operator,
    WithDeduplicateJoinJob.java:89-97) via applyInPandasWithState; the
    update-mode changelog is compacted to its final table (toChangelogStream
    → table materialization, T6)."""
    from flink_playground_spark.streaming.runners import replay_events_stream, run_to_memory
    from flink_playground_spark.streaming.stateful import dedup_latest_stream

    stream = replay_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    latest = dedup_latest_stream(stream, "user_id", "ts", tiebreakers=("event_id",))
    changelog = run_to_memory(latest, "update")
    return dedup_latest(changelog, "user_id", "ts", tiebreakers=("event_id",))


@register(
    "streaming_enrich_join",
    _FLAGSHIP_ORACLE,
    tags=("J4", "J5", "T5", "T6"),
)
def streaming_enrich_join(spark, sf_dir):
    """The flagship dedup-join as the reference actually runs it: an
    unbounded dim stream folded into compacted keep-latest state per
    micro-batch (foreachBatch), probe side joined against the final
    snapshot — the asymmetric-TTL enrichment pattern
    (WithStateTtlJob.java:79-88, STATE_TTL probe 1ms / build 90d)."""
    from flink_playground_spark.streaming.enrich import enrichment_join_stream
    from flink_playground_spark.streaming.runners import replay_events_stream

    customer = _t(spark, sf_dir, "customer")
    dim = replay_events_stream(spark, sf_dir)
    return enrichment_join_stream(
        customer,
        dim,
        on=[("c_custkey", "user_id")],
        dim_keys=["user_id"],
        dim_order_col="ts",
        dim_tiebreakers=("event_id",),
        select_cols=[
            "c_custkey",
            "c_name",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        ],
    )


_CHANGELOG_ORACLE = """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
w1 AS (SELECT event_id, ts, user_id, event_type, value FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM e WHERE event_id % 2 = 0) t WHERE rn = 1),
wa AS (SELECT event_id, ts, user_id, event_type, value FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM e) t WHERE rn = 1)
SELECT '+I' AS op, CAST(0 AS BIGINT) AS batch_id, user_id, event_id, ts, event_type, value FROM w1
UNION ALL
SELECT '+I', 1, user_id, event_id, ts, event_type, value FROM wa
WHERE user_id NOT IN (SELECT user_id FROM w1)
UNION ALL
SELECT '-U', 1, w1.user_id, w1.event_id, w1.ts, w1.event_type, w1.value
FROM w1 JOIN wa ON w1.user_id = wa.user_id AND w1.event_id <> wa.event_id
UNION ALL
SELECT '+U', 1, wa.user_id, wa.event_id, wa.ts, wa.event_type, wa.value
FROM wa JOIN w1 ON w1.user_id = wa.user_id AND w1.event_id <> wa.event_id
"""


@register("streaming_changelog_dedup", _CHANGELOG_ORACLE, tags=("T6", "W1", "W2"))
def streaming_changelog_dedup(spark, sf_dir):
    """Retraction-aware changelog of the keep-latest view — Flink's
    ``toChangelogStream`` semantics (WithStateTtlJob.java:90): events
    replayed in two deterministic micro-batches (event_id parity);
    batch 0 emits +I per key, batch 1 emits -U/+U pairs where the
    winner changed (and +I for keys first seen) — every op carries the
    full before/after row, so the oracle reconstructs the exact
    changelog from the parity split in SQL. Per-batch state IO is
    bucket-proportional and the log is exactly-once
    (streaming.txn_state)."""
    from flink_playground_spark.streaming.changelog import keep_latest_changelog_stream
    from flink_playground_spark.streaming.runners import replay_events_waves

    stream = replay_events_waves(spark, sf_dir, waves=2).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    log = keep_latest_changelog_stream(
        stream, "user_id", "ts", tiebreakers=("event_id",), n_buckets=16
    )
    return log.select("op", "batch_id", "user_id", "event_id", "ts", "event_type", "value")


_OUTER_JOIN_CHANGELOG_ORACLE = """
WITH p AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 300),
e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
w1 AS (SELECT event_id, ts, user_id, event_type, value FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM e WHERE event_id % 2 = 0) t WHERE rn = 1),
wa AS (SELECT event_id, ts, user_id, event_type, value FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         FROM e) t WHERE rn = 1),
chg AS (SELECT p.c_custkey, p.c_name,
               w1.event_id AS o_event_id, w1.ts AS o_ts,
               w1.event_type AS o_event_type, w1.value AS o_value,
               wa.event_id, wa.ts, wa.event_type, wa.value
        FROM p JOIN wa ON p.c_custkey = wa.user_id
        LEFT JOIN w1 ON w1.user_id = wa.user_id
        WHERE w1.user_id IS NULL OR w1.event_id <> wa.event_id)
SELECT '+I' AS op, CAST(0 AS BIGINT) AS batch_id, c_custkey, c_name,
       CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS ts,
       CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS DOUBLE) AS value FROM p
UNION ALL
SELECT '-U', 1, p.c_custkey, p.c_name, NULL, NULL, NULL, NULL
FROM p JOIN w1 ON p.c_custkey = w1.user_id
UNION ALL
SELECT '+U', 1, p.c_custkey, p.c_name, w1.event_id, w1.ts, w1.event_type, w1.value
FROM p JOIN w1 ON p.c_custkey = w1.user_id
UNION ALL
SELECT '-U', 2, c_custkey, c_name, o_event_id, o_ts, o_event_type, o_value FROM chg
UNION ALL
SELECT '+U', 2, c_custkey, c_name, event_id, ts, event_type, value FROM chg
"""


@register(
    "streaming_outer_join_changelog",
    _OUTER_JOIN_CHANGELOG_ORACLE,
    tags=("T6", "J4", "W2"),
    bench=False,  # wave replay measures micro-batch plumbing, not engine throughput
)
def streaming_outer_join_changelog(spark, sf_dir):
    """Retraction changelog of the reference's PRINTED query — ``people
    LEFT OUTER JOIN latest(countries)`` as the dim stream arrives
    (``WithStateTtlJob.java:79-90``: outer join against the PK'd upsert
    view, ``toChangelogStream().print()``). Customers are the probe,
    events replayed in two deterministic parity waves are the dim:
    batch 0 emits ``+I(probe, NULL…)`` per probe row (the outer join's
    null-extended arrival), each dim wave emits ``-U``/``+U`` pairs only
    for probe rows whose key's kept dim row changed — the first match
    retracts the null row, a later winner retracts the previous join
    row, probe keys that never match keep their ``+I`` (the "four rows
    for 'a'" collapse seen through the JOIN's own changelog). The parity
    split makes every op SQL-reconstructible: the oracle rebuilds the
    exact log from the two keep-latest views. Per-batch work is
    touched-bucket-proportional; only affected probe rows are re-joined
    (left-semi against the keys whose kept dim row changed)."""
    from flink_playground_spark.streaming.changelog import outer_join_changelog_stream
    from flink_playground_spark.streaming.runners import replay_events_waves

    probe = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300).select(
        "c_custkey", "c_name"
    )
    dim = replay_events_waves(spark, sf_dir, waves=2).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    log = outer_join_changelog_stream(
        probe,
        dim,
        on=[("c_custkey", "user_id")],
        dim_keys=["user_id"],
        dim_order_col="ts",
        dim_tiebreakers=("event_id",),
        probe_keys=["c_custkey"],
        n_buckets=16,
    )
    return log.select(
        "op", "batch_id", "c_custkey", "c_name", "event_id", "ts", "event_type", "value"
    )


@register_extra(
    "streaming_late_side_output",
    """
WITH w0 AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_id % 2 = 0),
wm AS (SELECT max(ts) - INTERVAL '30 minutes' AS wm FROM w0),
w1 AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
              time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start
       FROM events WHERE event_id % 2 = 1)
SELECT event_id, user_id, event_type, ts, window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       CAST(1 AS BIGINT) AS batch_id, wm.wm AS watermark
FROM w1, wm WHERE window_start + INTERVAL '1 hour' <= wm.wm
""",
    tags=("T10", "ext-streaming"),
    bench=False,  # wave replay measures micro-batch plumbing, not engine throughput
)
def streaming_late_side_output(spark, sf_dir):
    """Flink's ``sideOutputLateData`` contract, which native Spark
    watermarking silently lacks: events replayed in two parity waves
    through a windowed count with a 30-minute watermark delay; wave-1
    rows whose 1-hour window closed behind the watermark established by
    wave 0 are ROUTED to the side output (with the rejecting watermark)
    instead of dropped. The oracle reconstructs the exact side set from
    the parity split: watermark = max(wave-0 ts) - 30min, side = wave-1
    rows with window_end <= watermark. Window counts fold through
    TransactionalKeyState, so redelivered waves never double-count
    (streaming/late_data.py; allowed-lateness refinement is pinned by
    tests/test_late_data.py goldens)."""
    import tempfile

    from flink_playground_spark.streaming.late_data import late_window_counts_stream
    from flink_playground_spark.streaming.runners import replay_events_waves

    stream = replay_events_waves(spark, sf_dir, waves=2).select(
        "event_id", "ts", "user_id", "event_type"
    )
    agg = late_window_counts_stream(
        stream, tempfile.mkdtemp(prefix="fps_late_"), keys=("event_type",), delay_s=1800
    )
    side = agg.read_side(spark)
    return side.select(
        "event_id", "user_id", "event_type", "ts", "window_start", "window_end",
        "batch_id", "watermark",
    )


# ---------------------------------------------------------------------------
# Capability superset: semi/anti joins, set operations, rollup, distinct
# aggregation, window frames, sessionization. The reference exercises none
# of these (SURVEY §2.3/§2.6 "not present") — a complete engine needs them.
# ---------------------------------------------------------------------------


@register(
    "join_semi_anti",
    """
SELECT 'semi' AS op, c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
UNION ALL
SELECT 'anti' AS op, c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("superset-join",),
)
def join_semi_anti(spark, sf_dir):
    """LEFT SEMI (EXISTS: customers with a big order) and LEFT ANTI
    (NOT EXISTS: customers with no orders) in one tagged result."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    o = _t(spark, sf_dir, "orders")
    semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("semi").alias("op"), "c_custkey", "c_name"
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("anti").alias("op"), "c_custkey", "c_name"
    )
    return semi.unionAll(anti)


@register_extra(
    "set_ops",
    """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT 'union' AS op, c_custkey FROM (SELECT * FROM building UNION SELECT * FROM rich) u
UNION ALL
SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM building INTERSECT SELECT * FROM rich) i
UNION ALL
SELECT 'except' AS op, c_custkey FROM (SELECT * FROM building EXCEPT SELECT * FROM rich) e
""",
    tags=("superset-setop",),    bench=False,
)
def set_ops(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT in one tagged result."""
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "c_custkey")  # noqa: E731
    return (
        tag(building.union(rich).distinct(), "union")
        .unionAll(tag(building.intersect(rich), "intersect"))
        .unionAll(tag(building.exceptAll(rich).distinct(), "except"))
    )


@register(
    "rollup_cube_pricing",
    """
SELECT 'rollup' AS op, COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, count(*) AS cnt
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS op, COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
       NULL AS sum_qty, count(*) AS cnt
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
""",
    tags=("superset-agg", "G2"),
)
def rollup_cube_pricing(spark, sf_dir):
    """ROLLUP (hierarchical subtotals + grand total) and CUBE (all
    grouping-set combinations), tagged in one result. The rollup branch's
    finest grouping set is exactly the plain GROUP BY count (G2). Each
    branch is ONE shuffle — Spark expands grouping sets map-side."""
    li = _t(spark, sf_dir, "lineitem")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.lit("rollup").alias("op"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "sum_qty",
            "cnt",
        )
    )
    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit("cube").alias("op"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            F.lit(None).cast("double").alias("sum_qty"),
            "cnt",
        )
    )
    return rollup.unionAll(cube)


@register(
    "agg_distinct_percentiles",
    """
SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
    tags=("superset-agg",),
)
def agg_distinct_percentiles(spark, sf_dir):
    """Multi-DISTINCT aggregation + exact interpolated percentiles in one
    grouped agg (Spark `percentile` ≡ DuckDB quantile_cont, bit-exact;
    approx_percentile is the sketch path at 100 TB — same API shape,
    weaker guarantee). Two count-distincts expand rows (Spark's
    expand-and-partial strategy) but stay at two shuffles total."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50_qty"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "window_frames_lag_lead",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_date
FROM orders
""",
    tags=("superset-window",),
)
def window_frames_lag_lead(spark, sf_dir):
    """Explicit ROWS frame (per-customer running spend) + LAG/LEAD in one
    pass: all three window expressions share a partitioning and sort, so
    the plan is a single shuffle + single sort, one Window node."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w = wo.rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w).cast("double").alias("running_total"),
        F.lag("o_orderdate").over(wo).alias("prev_date"),
        F.lead("o_orderdate").over(wo).alias("next_date"),
    )


_SESSION_ORACLE = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts > LAG(ts) OVER w + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked)
SELECT 'gaps' AS op, user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
UNION ALL
SELECT 'native' AS op, user_id, NULL AS session_id, session_start, session_end, n_events
FROM (
  WITH e2 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
  marked2 AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w2 IS NULL
                     OR ts >= LAG(ts) OVER w2 + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
    FROM e2 WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)),
  sess2 AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked2)
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n_events
  FROM sess2 GROUP BY user_id, sid)
"""


@register("sessionize_events", _SESSION_ORACLE, tags=("superset-window",), bench=True)
def sessionize_events(spark, sf_dir):
    """Sessionization, both strategies tagged in one result:

    - ``gaps``: lag + cumulative-sum over one shuffle per key (30-minute
      inactivity gap; strictly-greater boundary), emitting session_id.
    - ``native``: Spark's built-in ``F.session_window`` aggregation
      (merge-on-overlap; an event exactly `gap` after the previous one
      starts a new session, session_end = last event + gap — both
      mirrored in the oracle's second branch).
    """
    from flink_playground_spark.operators.windows import sessionize

    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    s = sessionize(e, ["user_id"], "ts", "30 minutes")
    gaps = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        F.lit("gaps").alias("op"),
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
    )
    native = (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.lit("native").alias("op"),
            "user_id",
            F.lit(None).cast("bigint").alias("session_id"),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return gaps.unionAll(native)


@register_extra(
    "pivot_linestatus",
    """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS F
FROM lineitem GROUP BY l_returnflag
""",
    tags=("superset-agg",),
    bench=False,
)
def pivot_linestatus(spark, sf_dir):
    """PIVOT: one column per linestatus value (explicit value list keeps
    the plan a single aggregation — no distinct-values pre-pass)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double"))
    )


@register_extra(
    "order_limit_topn",
    """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
    tags=("superset-sort",),    bench=False,
)
def order_limit_topn(spark, sf_dir):
    """Global ORDER BY + LIMIT (TakeOrderedAndProject — no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register_extra(
    "streaming_session_window",
    """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts >= LAG(ts) OVER w + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    tags=("T10", "T6"),
    bench=False,
)
def streaming_session_window(spark, sf_dir):
    """Session windows on the streaming engine: per-key gap-merged session
    state maintained across micro-batches, complete-mode changelog —
    checked against the same lag/cumsum SQL oracle as the batch variant."""
    from flink_playground_spark.streaming.runners import replay_events_stream, run_to_memory

    stream = replay_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, "complete")


@register_extra(
    "streaming_stream_static_join",
    """
SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
    tags=("J4", "T5"),
    bench=False,
)
def streaming_stream_static_join(spark, sf_dir):
    """Stream-static join: the events stream enriched against the static
    customer dim — Spark re-evaluates the static side per micro-batch,
    which is exactly the reference's 'probe side stateless' enrichment
    intent (STATE_TTL 'p'='0h', WithDeduplicateJoinJob.java:98)."""
    from flink_playground_spark.streaming.runners import replay_events_stream, run_to_memory

    customer = _t(spark, sf_dir, "customer")
    stream = replay_events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    joined = stream.join(customer, stream.user_id == customer.c_custkey, "inner").select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )
    return run_to_memory(joined, "append")


@register(
    "streaming_stream_stream_join",
    """
WITH c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value
      FROM events WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts, p.value
FROM c JOIN p ON c.user_id = p.user_id
  AND p.purchase_ts >= c.click_ts AND p.purchase_ts <= c.click_ts + INTERVAL '1 hour'
""",
    tags=("J4", "T3", "T10"),
)
def streaming_stream_stream_join(spark, sf_dir):
    """True stream-stream inner join with watermarks + time-range
    condition (the Structured Streaming joint-state path the reference's
    TTL-bounded join approximates): purchases within 1h after each click.
    Both sides buffer bounded state; the watermark evicts it — the
    engine-level mapping of `table.exec.state.ttl` (T4)."""
    from flink_playground_spark.streaming.runners import replay_events_stream, run_to_memory

    ev = replay_events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "value")
    out = run_to_memory(joined, "append")
    # the corpus timestamps are NTZ µs; present them tz-naive like the oracle
    return out.withColumn("click_ts", F.col("click_ts").cast("timestamp_ntz")).withColumn(
        "purchase_ts", F.col("purchase_ts").cast("timestamp_ntz")
    )


@register_extra(
    "range_join_events",
    """
WITH c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
           FROM events WHERE event_type = 'click'),
e AS (SELECT event_id AS err_id, user_id, CAST(ts AS TIMESTAMP) AS err_ts
      FROM events WHERE event_type = 'error')
SELECT c.click_id, e.err_id, c.user_id, c.click_ts, e.err_ts
FROM c JOIN e ON c.user_id = e.user_id
  AND e.err_ts > c.click_ts AND e.err_ts <= c.click_ts + INTERVAL '30 minutes'
""",
    tags=("superset-join",),
    bench=False,
)
def range_join_events(spark, sf_dir):
    """Interval/range join (errors within 30min after a click, per user).
    Keyed + range predicate: Catalyst plans equi-join on the key with the
    range as a post-condition — fine while per-key fan-in is small. The
    100 TB formulation (bucket the time axis, join on (key, bucket)) is
    operators/interval.py:interval_join, oracle-checked as
    banded_interval_join against this same pair semantics."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("err_ts"),
    )
    return clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("err_ts") > F.col("click_ts"))
        & (F.col("err_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("click_id", "err_id", "user_id", "click_ts", "err_ts")


@register_extra(
    "banded_interval_join",
    """
WITH c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
           FROM events WHERE event_type = 'click'),
e AS (SELECT event_id AS err_id, user_id, CAST(ts AS TIMESTAMP) AS err_ts
      FROM events WHERE event_type = 'error')
SELECT c.click_id, e.err_id, c.user_id, c.click_ts, e.err_ts
FROM c JOIN e ON c.user_id = e.user_id
  AND e.err_ts >= c.click_ts - INTERVAL '15 minutes'
  AND e.err_ts <= c.click_ts + INTERVAL '30 minutes'
""",
    tags=("superset-join", "ext-temporal"),
)
def banded_interval_join(spark, sf_dir):
    """The scale formulation range_join_events' docstring defers to:
    the same interval-join semantics (errors from 15min before to 30min
    after each click, per user — an asymmetric band with a negative
    lower bound) computed by the bucketized band join
    (operators/interval.py). Both sides are bucketed by a tumbling
    window the width of the band and joined on (user, bucket) — the
    per-key cross product of the naive range predicate never forms, so
    a hot user with m clicks and m errors costs rows-per-(key, bucket)
    work instead of m². Verified against the identical range-predicate
    oracle."""
    from flink_playground_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("err_ts"),
    )
    out = interval_join(
        clicks,
        errors,
        [("user_id", "e_user_id")],
        "click_ts",
        "err_ts",
        lower=-15 * 60,
        upper=30 * 60,
    )
    return out.select("click_id", "err_id", "user_id", "click_ts", "err_ts")


@register_extra(
    "pandas_udf_bucket",
    """
SELECT CAST(FLOOR(value / 10) * 10 AS DOUBLE) AS bucket, count(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
    tags=("U2", "udf"),
    bench=False,
)
def pandas_udf_bucket(spark, sf_dir):
    """UDF surface (SURVEY §2.8 U2): an Arrow-vectorized pandas UDF,
    registered in the session catalog (`spark.udf.register`) and used in
    a grouped aggregation. The reference registers only built-in TTFs;
    user scalar functions are the natural extension — Pandas UDFs are the
    engine's sanctioned slow path (Arrow batches, not per-row pickle)."""
    from flink_playground_spark.functions.udfs import value_bucket

    spark.udf.register("value_bucket", value_bucket)  # SQL-callable (E1)
    events = _t(spark, sf_dir, "events")
    return events.groupBy(value_bucket(F.col("value")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Extensions: text analysis, large-scale dedup, similarity search,
# multimodal plumbing (SURVEY §7.1 "north-star extensions"; first-class
# components of the engine for training-data pipelines).
# ---------------------------------------------------------------------------

_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"

_ROLL_M = 2147483647  # 2^31 - 1: keeps acc*31 < 2^36, no ANSI overflow


def _text_analysis_oracle() -> str:
    from flink_playground_spark.functions.text import LANG_MARKERS

    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(f"len(list_filter(toks, x -> x IN ({inlist}))) AS s_{lang}")
    langs = list(LANG_MARKERS)
    greatest = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{l} > 0 AND s_{l} >= {greatest} THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return rf"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, lang, text, toks, {", ".join(score_exprs)} FROM t)
SELECT doc_id, lang AS declared_lang,
       len(toks) AS n_tokens,
       ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS mean_token_len,
       ROUND(len(list_filter(toks, x -> x IN ('the','and','of','to','is','a','in','that'))) / len(toks), 6) AS stop_ratio,
       ROUND((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / length(text), 6) AS punct_ratio,
       {case} AS pred_lang,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       len(string_split(trim(text), ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                     list_transform(toks, s -> CAST(length(s) * 131 + ascii(s) AS BIGINT))),
                        (a, b) -> (a * 31 + b) % {_ROLL_M}) AS BIGINT) AS rolling_fp
FROM s
"""


@register("text_analysis", _text_analysis_oracle(), tags=("ext-text",), bench=True)
def text_analysis(spark, sf_dir):
    """Per-document text analysis in ONE scan-stage projection (no UDF,
    no shuffle): quality statistics (token counts, mean token length,
    stopword/punctuation ratios), marker-stopword language identification
    (n-gram heuristic), the deterministic md5 fingerprint of the
    normalized text, token counting two ways (whitespace; BPE-ish regex
    of letter runs / digit runs / single punctuation), and a polynomial
    rolling-hash fingerprint folded in exact integer math. Everything is
    a JVM-side column expression, so the whole query is a single
    WholeStageCodegen span over the parquet scan. (Absorbed the former
    standalone token_counts registry entry — same granularity, same
    scan — freeing a driver-gate slot; the standalone survives as a
    bench-extra.)

    The scan is ``_spread`` (round 13): the rolling-hash fold and the
    marker regexes are interpreted per row, and one local parquet split
    = one task serializing all of it — a no-op at real scale, where
    splits exceed parallelism."""
    from flink_playground_spark.functions import text as tx
    from flink_playground_spark.functions.similarity import _spread

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = tx.tokens("text")
    per_token = F.transform(toks, lambda t: (F.length(t) * 131 + F.ascii(t)).cast("long"))
    rolling = F.aggregate(
        per_token, F.lit(0).cast("long"), lambda acc, v: (acc * 31 + v) % _ROLL_M
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        F.size(toks).alias("n_tokens"),
        F.round(tx.mean_token_length("text"), 6).alias("mean_token_len"),
        F.round(tx.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(tx.punct_ratio("text"), 6).alias("punct_ratio"),
        tx.lang_id("text").alias("pred_lang"),
        tx.fingerprint("text").alias("fp"),
        F.size(F.split(F.trim("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        rolling.alias("rolling_fp"),
    )


@register_extra(
    "exact_dedup_docs",
    r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       MIN(doc_id) AS canonical_id, count(*) AS n_members
FROM documents GROUP BY 1
""",
    tags=("ext-dedup",),
    bench=False,
)
def exact_dedup_docs(spark, sf_dir):
    """Exact dedup: one canonical doc per fingerprint group (hash groupBy,
    map-side combine — one shuffle at any scale)."""
    from flink_playground_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_members"))
    )


_NGRAM_PAIRS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
       FROM t),
idx AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i,
         any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(i / (n_a + n_b - i), 6) AS jaccard
FROM inter WHERE ROUND(i / (n_a + n_b - i), 6) >= {{thr}}
"""


@register_extra(
    "ngram_jaccard_neardup",
    _NGRAM_PAIRS_SQL.format(thr=0.12),
    tags=("ext-dedup",),
    bench=True,
)
def ngram_jaccard_neardup(spark, sf_dir):
    """Exact word-3-gram Jaccard near-duplicate pairs via the shingle
    inverted-index self-join (no O(n²) cross product)."""
    from flink_playground_spark.functions.dedupe import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.12)


@register(
    "minhash_lsh_neardup",
    _NGRAM_PAIRS_SQL.format(thr=0.8),
    tags=("ext-dedup",),
)
def minhash_lsh_neardup(spark, sf_dir):
    """MinHash(128) + LSH(32 bands × 4 rows) candidates, verified with
    exact Jaccard — equals the exact answer at t=0.8 up to LSH false
    negatives (p < 1e-6 per pair at t≥0.8), which the oracle confirms."""
    from flink_playground_spark.functions.dedupe import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=128, bands=32, threshold=0.8)


@register_extra(
    "streaming_minhash_neardup",
    _NGRAM_PAIRS_SQL.format(thr=0.8),
    tags=("ext-dedup", "T6"),
    bench=False,
)
def streaming_minhash_neardup(spark, sf_dir):
    """Incremental near-dup detection: documents arrive in micro-batches;
    each batch is MinHash-banded against the accumulated corpus state and
    candidates are verified exactly. Every qualifying pair is emitted in
    the batch where its later member arrives — so the drained stream
    equals the batch answer, and the batch SQL is the oracle."""
    from flink_playground_spark.streaming.neardup import (
        replay_documents_stream,
        streaming_neardup,
    )

    stream = replay_documents_stream(spark, sf_dir)  # 2 micro-batches
    return streaming_neardup(stream, threshold=0.8)


def _simhash_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import simhash_neardup_ref

    return simhash_neardup_ref(sf_dir)


@register_extra(
    "simhash_neardup", None, tags=("ext-dedup",), bench=False, py_oracle=_simhash_py_oracle
)
def simhash_neardup(spark, sf_dir):
    """SimHash-64 near-dups (Hamming ≤ 3) by pigeonhole banding. Hash
    construction is xxhash64-specific → no SQL oracle, but the driver's
    rows-only check is backed by a full-value PYTHON oracle
    (functions/reference.py: bit-exact xxh64 + SimHash replica) run by
    tools/check.py and tests/test_reference_oracles.py."""
    from flink_playground_spark.functions.dedupe import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


_COSINE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_sum(list_transform(list_zip(qvec, cvec), t -> t[1] * t[2]))
               / (sqrt(list_sum(list_transform(qvec, x -> x * x)))
                  * sqrt(list_sum(list_transform(cvec, x -> x * x)))), 6) AS sim
  FROM q JOIN c ON query_id != neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
"""


@register_extra("cosine_topk", _COSINE_TOPK_SQL, tags=("ext-sim",), bench=True)
def cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 neighbors for 8 query vectors —
    the ANN baseline. Broadcast queries; double math is bit-identical to
    the oracle's sequential sum."""
    from flink_playground_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


def _ann_topk_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import ann_topk_ref

    return ann_topk_ref(sf_dir)


@register_extra(
    "ann_topk", None, tags=("ext-sim",), bench=False, py_oracle=_ann_topk_py_oracle
)
def ann_topk(spark, sf_dir):
    """Approximate nearest-neighbor top-k, both scale families union-tagged:
    ``lsh`` = random-hyperplane LSH bucket join, ``ivf`` = inverted-file
    nearest-centroid cells with nprobe probing (k-means-refined centroids).
    Neither is a cross product — candidates come from bucket/cell joins,
    the 100 TB path. Hash-seeded → no SQL oracle, but fully value-checked
    by a bit-exact PYTHON oracle (functions/reference.py ann_topk_ref:
    xxh64 hyperplanes, exact-decimal k-means means, Spark fold orders);
    recall vs brute force is asserted in tests for both."""
    from flink_playground_spark.functions.similarity import ivf_topk, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    lsh = lsh_topk(emb, probes, k=5, tables=8, planes=4)
    ivf = ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=4)
    return lsh.select(F.lit("lsh").alias("method"), "*").unionByName(
        ivf.select(F.lit("ivf").alias("method"), "*")
    )


def _ann_pq_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import pq_topk_ref

    return pq_topk_ref(sf_dir)


@register_extra("ann_pq_topk", None, tags=("ext-sim",), py_oracle=_ann_pq_py_oracle)
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (FAISS ADC family): 64-float embeddings
    compress to 8 one-byte codes (8 subspaces × 16-codeword codebooks,
    k-means-trained in one scan per Lloyd round); queries score corpus
    CODES via a broadcast lookup table — the scan never touches corpus
    floats, which is what makes a 100 TB embedding index affordable
    (32× less data moved per candidate, m adds per pair instead of a
    64-dim float dot). Hash-free but k-means-seeded → no SQL oracle;
    fully value-checked by the bit-exact Python oracle
    (reference.py pq_topk_ref: unrolled L2, exact-decimal means, Spark
    fold orders, HALF_UP round). Recall vs brute force in tests."""
    from flink_playground_spark.functions.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    return pq_topk(emb, probes, dim=64, m=8, n_codes=16, k=5, iters=2)


def _streaming_pq_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import streaming_pq_index_ref

    return streaming_pq_index_ref(sf_dir)


@register_extra(
    "streaming_ann_pq_topk",
    None,
    tags=("ext-sim", "T4"),
    py_oracle=_streaming_pq_py_oracle,
)
def streaming_ann_pq_topk(spark, sf_dir):
    """Incremental PQ index (streaming/pq_index.py): codebooks train on
    the FIRST vector wave and freeze (index geometry — changing them
    invalidates every stored code), subsequent waves encode against the
    frozen book (one Arrow pass, book in the task closure) and upsert
    keep-latest code state; queries ADC-score the state exactly like
    the batch pq_topk. Value-checked bit-exact by the Python reference
    (streaming_pq_index_ref: wave-0-trained book over the union
    corpus); quantization-drift detection + retrain in tests."""
    import tempfile

    from flink_playground_spark.streaming.pq_index import StreamingPQIndex

    emb = _t(spark, sf_dir, "embeddings")
    idx = StreamingPQIndex(tempfile.mkdtemp(prefix="fps_pqidx_"))
    for w in range(3):
        idx.ingest(emb.filter(F.col("vec_id") % 3 == w))
    return idx.query(spark, emb.filter(F.col("vec_id") < 8), k=5)


def _ann_ivfpq_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import ivfpq_topk_ref

    return ivfpq_topk_ref(sf_dir)


@register_extra(
    "ann_ivfpq_topk", None, tags=("ext-sim",), py_oracle=_ann_ivfpq_py_oracle
)
def ann_ivfpq_topk(spark, sf_dir):
    """IVFADC — the COMPOSED coarse-IVF + residual-PQ index (FAISS
    ``IVF16,PQ8``; Jégou et al. TPAMI 2011 §V), the architecture that
    actually serves a 100 TB embedding corpus: vectors route to a coarse
    cell and only the residual x − centroid is product-quantized;
    queries probe nprobe=4 of 16 cells and ADC-score ONLY those cells'
    m-byte code rows via bounded broadcast lookup tables (per-query LUT
    + FAISS's per-cell precomputed table). vs the flat ann_pq_topk: the
    serving scan does nprobe/n_centroids of the work, and residual
    quantization spends the same m×k budget on smaller-normed, centered
    vectors. k-means-seeded → no SQL oracle; fully value-checked by the
    bit-exact Python oracle (reference.py ivfpq_topk_ref). Recall vs
    brute force and cell-pruning structure pinned in tests."""
    from flink_playground_spark.functions.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    return ivfpq_topk(
        emb, probes, dim=64, m=8, n_codes=16, k=5,
        n_centroids=16, nprobe=4, kmeans_iters=2, iters=2,
    )


def _ann_recall_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import ann_recall_report_ref

    return ann_recall_report_ref(sf_dir)


@register_extra(
    "ann_recall_report",
    None,
    tags=("ext-sim",),
    bench=False,
    py_oracle=_ann_recall_py_oracle,
)
def ann_recall_report(spark, sf_dir):
    """Index-selection scorecard: recall@5 of EVERY ANN family in the
    catalog (hyperplane LSH, IVF, flat PQ-ADC, composed IVFADC) against
    the exact brute-force top-k, in one DataFrame — the measurement a
    100 TB user runs on a sample before committing an index choice
    ("measure, don't guess"). Each method's candidate generation is its
    real scale path (bucket/cell/code joins, never a cross product);
    the exact baseline is the salted two-level brute-force rank. The
    recall join is a broadcast of the bounded exact set (k × |probes|
    rows); the denominator comes from a one-row aggregate, not a
    hardcoded constant. bench=False: this is a diagnostic, not a
    serving query — the gate still value-checks it bit-exactly against
    the composed Python references (reference.py ann_recall_report_ref)."""
    from flink_playground_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, probes, k=5).select("query_id", "neighbor_id")
    parts = [
        ("lsh", lsh_topk(emb, probes, k=5, tables=8, planes=4)),
        ("ivf", ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=4)),
        ("pq", pq_topk(emb, probes, dim=64, m=8, n_codes=16, k=5)),
        (
            "ivfpq",
            ivfpq_topk(
                emb, probes, dim=64, m=8, n_codes=16, k=5,
                n_centroids=16, nprobe=4, kmeans_iters=2, iters=2,
            ),
        ),
    ]
    approx = None
    for name, df in parts:
        tagged = df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        approx = tagged if approx is None else approx.unionByName(tagged)
    hit = approx.join(
        F.broadcast(exact.withColumn("hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    per = hit.groupBy("method").agg(
        F.count(F.lit(1)).alias("returned"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("matched"),
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return per.crossJoin(F.broadcast(n_exact)).select(
        "method",
        "returned",
        "matched",
        F.round(
            F.col("matched").cast("double") / F.col("n_exact"), 6
        ).alias("recall_at_k"),
    )


def _semantic_clusters_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import semantic_clusters_ref

    return semantic_clusters_ref(sf_dir)


@register_extra(
    "semantic_clusters", None, tags=("ext-sim",), py_oracle=_semantic_clusters_py_oracle
)
def semantic_clusters(spark, sf_dir):
    """K-means semantic clustering over document embeddings — the
    curation primitive behind cluster-balanced data mixing (DoReMi-style
    domain weights, SemDeDup's cluster-then-prune): Lloyd centroids
    (``kmeans_centroids``), one zero-shuffle nearest-cell pass over the
    corpus (``ivf_assign`` nprobe=1, keep_sim), then ONE bounded
    group-by emitting per-cluster size, exemplar (min vid) and mean
    vector↔centroid cosine — the quantization-fit/cohesion signal the
    streaming drift monitors threshold on. Scale: centroids are a
    driver-bounded local relation broadcast into the scan; the output is
    ≤ n_centroids rows; the only exchange is the 16-group aggregate.
    k-means-seeded → no SQL oracle; value-checked bit-exact by the
    Python reference (reference.py semantic_clusters_ref — decimal-sum
    mean, round 6)."""
    from flink_playground_spark.functions.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, "vec_id", "embedding", 16, 2)
    assign = ivf_assign(emb, cents, "vec_id", "embedding", nprobe=1, keep_sim=True)
    return (
        assign.groupBy(F.col("centroid_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vid").alias("exemplar_vid"),
            F.round(
                F.sum(F.col("csim").cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cohesion"),
        )
        .orderBy("cluster_id")
    )


_EMB_NEARDUP_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 600),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_sum(list_transform(list_zip(a.e, b.e), t -> t[1] * t[2]))
                   / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.e, x -> x * x)))), 6) AS sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4
"""


@register("embedding_neardup", _EMB_NEARDUP_SQL, tags=("ext-dedup", "ext-sim"))
def embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — exact all-pairs baseline
    (capped to vec_id < 600: all-pairs is quadratic; the LSH bucket
    variant below is the scale path). Bit-exact double math vs the
    oracle.

    Plan shape (the naive ``a JOIN b ON id_a < id_b`` is a
    BroadcastNestedLoopJoin whose condition — where Catalyst pushes the
    similarity predicate — is evaluated on the expression INTERPRETER,
    serially on the tiny scan's single partition):

    - all-pairs is generated as a BLOCK GRID: the probe side is
      replicated once per block and equi-joined to the build side's
      block id — a broadcast HASH join, so the similarity predicate and
      projection run inside whole-stage codegen, parallel across block
      partitions. The same grid is how all-pairs shards across a real
      cluster: B chosen so one block's vectors fit an executor.
    - the dot/norm folds are unrolled to the vector's known length
      (``dot_fixed``/``norm_fixed``) — same left-associative sums as the
      HOF ``cosine``, bit-identical, but codegen instead of interpreted;
      norms are computed once per VECTOR before replication (600 chains)
      rather than once per PAIR (360k chains), which also shrinks the
      planned expression tree ~3x (driver-side analysis of unrolled
      chains is not free)."""
    from flink_playground_spark.functions.similarity import (
        _dot_fixed_sql,
        _norm_fixed_sql,
    )

    v = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600).select(
        "vec_id", "embedding"
    )
    dim = v.select(F.size("embedding")).head()[0]  # metadata peek, one tiny job
    n_blocks = spark.sparkContext.defaultParallelism
    vn = v.withColumn("nrm", F.expr(_norm_fixed_sql("embedding", dim)))
    a_rep = vn.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na")
    ).withColumn("bb", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    b_blk = vn.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("bb"),
    )
    pairs = (
        a_rep.repartition(n_blocks, "bb")
        .join(F.broadcast(b_blk), "bb")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    sim = F.expr(f"ROUND({_dot_fixed_sql('ea', 'eb', dim)} / (na * nb), 6)")
    out = (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= 0.4)
        .select("id_a", "id_b", "sim")
    )
    # materialize the pair stage with whole-stage codegen OFF (round 14,
    # guide §7.2): Catalyst pushes the sim filter into the BHJ condition,
    # fusing TWO 64-term dot chains into one consume() method beyond the
    # JIT's bytecode budget — the stage ran interpreted and re-paid the
    # ~64 KB janino compile per run. Per-operator codegen measured 2.4x
    # faster; the checkpointed result is the bounded pair set (<= |caps|²
    # rows), the same bits either way (see _materialize_no_wscg).
    from flink_playground_spark.functions.similarity import _materialize_no_wscg

    return _materialize_no_wscg(out)


def _emb_lsh_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import embedding_neardup_lsh_ref

    return embedding_neardup_lsh_ref(sf_dir)


@register_extra(
    "embedding_neardup_lsh",
    None,
    tags=("ext-dedup", "ext-sim"),
    bench=False,
    py_oracle=_emb_lsh_py_oracle,
)
def embedding_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: hyperplane-LSH bucket join
    produces candidates, exact cosine re-scores them — sub-quadratic.
    Hash-derived hyperplanes → no SQL oracle, but a full-value PYTHON
    oracle (functions/reference.py: bit-exact xxh64 hyperplanes +
    sequential-fold cosine) value-checks it in tools/check.py and
    tests/test_reference_oracles.py; recall additionally pinned in
    tests."""
    from flink_playground_spark.functions.similarity import cosine, lsh_buckets

    v = _t(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(v, "vec_id", "embedding", tables=8, planes=4)
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.vec").alias("ea"),
            F.col("b.vec").alias("eb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("sim", F.round(cosine(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("sim") >= 0.4)
        .select("id_a", "id_b", "sim")
    )


@register_extra(
    "token_counts",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       len(string_split(trim(text), ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_ish_tokens,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                     list_transform(toks, s -> CAST(length(s) * 131 + ascii(s) AS BIGINT))),
                        (a, b) -> (a * 31 + b) % {_ROLL_M}) AS BIGINT) AS rolling_fp
FROM t
""",
    tags=("ext-text",),
    bench=False,
)
def token_counts(spark, sf_dir):
    """Token counting two ways (whitespace split; BPE-ish regex of letter
    runs / digit runs / single punctuation) + a polynomial rolling-hash
    document fingerprint — all folded JVM-side, byte-identical to the
    oracle's integer math."""
    from flink_playground_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    per_token = F.transform(toks, lambda t: (F.length(t) * 131 + F.ascii(t)).cast("long"))
    rolling = F.aggregate(
        per_token, F.lit(0).cast("long"), lambda acc, v: (acc * 31 + v) % _ROLL_M
    )
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        rolling.alias("rolling_fp"),
    )


_SAMPLING_ORACLE = """
WITH toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
strat AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents),
pos AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), i -> {'p': i, 'term': t[i]})) AS u FROM toks),
pt AS (SELECT doc_id, u.p AS pos, u.term AS term FROM pos WHERE u.term <> ''),
ch AS (SELECT doc_id, pos,
              SUM(CASE WHEN md5(term) LIKE '0%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS chunk_id
       FROM pt),
chunks AS (SELECT doc_id, chunk_id, COUNT(*) AS n_tokens FROM ch GROUP BY 1, 2),
tfidf AS (
  SELECT doc_id, term, CAST(tf AS DOUBLE) * ((n + 1.0) / (df + 1.0)) AS score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY CAST(tf AS DOUBLE) * ((n + 1.0) / (df + 1.0)) DESC, term) AS rn
  FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT 'stratified' AS branch, doc_id, lang AS key, CAST(rn AS DOUBLE) AS val FROM strat WHERE rn <= 10
UNION ALL
SELECT 'bernoulli', doc_id, '', 1.0 FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) < '28'
UNION ALL
SELECT 'tfidf', doc_id, term, ROUND(score, 6) FROM tfidf WHERE rn <= 3
UNION ALL
SELECT 'chunk', doc_id, CAST(chunk_id AS VARCHAR), CAST(n_tokens AS DOUBLE) FROM chunks
"""


@register("corpus_sampling", _SAMPLING_ORACLE, tags=("ext-sampling",), bench=True)
def corpus_sampling(spark, sf_dir):
    """Deterministic corpus sampling & tokenization family, union-tagged
    into one driver row (branch, doc_id, key, val):

    - stratified — exactly 10 docs per language, the k smallest md5
      hashes, two-level salted rank (functions/sampling.py) so no
      reducer sees a stratum's full row set;
    - bernoulli — hash-threshold scan filter, no shuffle at all;
    - tfidf — top-3 terms per doc by rational-idf tf·(N+1)/(df+1)
      (functions/tfidf.py: log-free → bit-identical across engines);
    - chunk — content-defined chunk sizes at md5-boundary tokens
      (functions/chunking.py: rsync-style shift-resistant splits).

    Full-fidelity outputs (ranks, spans) live in the bench-extras
    tfidf_top_terms / content_chunking; this entry is the driver-gate
    row for the family."""
    from flink_playground_spark.functions.chunking import content_chunks
    from flink_playground_spark.functions.sampling import (
        bernoulli_hash_sample,
        stratified_topk_sample,
    )
    from flink_playground_spark.functions.similarity import _spread
    from flink_playground_spark.functions.tfidf import tfidf_top_terms

    # ONE shared, projected, spread scan for all four branches (round
    # 14, guide §6/§5): the union used to re-scan documents per branch —
    # 4x read amplification at corpus scale for identical bytes — and
    # each branch's interpreted tokenize work sat on the single local
    # split. The persist is the deliberate trade: the cached relation is
    # the PROJECTED corpus (doc_id, lang, text — the only columns any
    # branch touches), spilled to executor disk where it outgrows
    # memory; recomputing it means re-reading the corpus three more
    # times.
    docs = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    ).persist()
    strat = stratified_topk_sample(docs.select("doc_id", "lang"), ["lang"], "doc_id", 10).select(
        F.lit("stratified").alias("branch"),
        "doc_id",
        F.col("lang").alias("key"),
        F.col("sample_rank").cast("double").alias("val"),
    )
    bern = bernoulli_hash_sample(docs.select("doc_id"), "doc_id", "28").select(
        F.lit("bernoulli").alias("branch"),
        "doc_id",
        F.lit("").alias("key"),
        F.lit(1.0).alias("val"),
    )
    tfidf = tfidf_top_terms(docs, "doc_id", "text", 3).select(
        F.lit("tfidf").alias("branch"),
        "doc_id",
        F.col("term").alias("key"),
        F.round(F.col("score"), 6).alias("val"),
    )
    chunks = content_chunks(docs, "doc_id", "text").select(
        F.lit("chunk").alias("branch"),
        "doc_id",
        F.col("chunk_id").cast("string").alias("key"),
        F.col("n_tokens").cast("double").alias("val"),
    )
    return strat.unionAll(bern).unionAll(tfidf).unionAll(chunks)


def _activity_sim_oracle() -> str:
    cols = ", ".join(
        f"SUM(CASE WHEN EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) = {h} THEN 1 ELSE 0 END) AS h{h}"
        for h in range(24)
    )
    vec = "list_value(" + ", ".join(f"CAST(h{h} AS DOUBLE)" for h in range(24)) + ")"
    return f"""
WITH prof AS (SELECT user_id, {cols} FROM events GROUP BY user_id),
v AS (SELECT user_id, {vec} AS p FROM prof),
scored AS (
  SELECT q.user_id AS query_user, c.user_id AS similar_user,
         ROUND(list_sum(list_transform(list_zip(q.p, c.p), t -> t[1] * t[2]))
               / (sqrt(list_sum(list_transform(q.p, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.p, x -> x * x)))), 6) AS sim
  FROM v q JOIN v c ON q.user_id < 5 AND q.user_id != c.user_id),
ranked AS (
  SELECT query_user, similar_user, sim,
         ROW_NUMBER() OVER (PARTITION BY query_user ORDER BY sim DESC, similar_user ASC) AS rank
  FROM scored)
SELECT query_user, similar_user, sim, rank FROM ranked WHERE rank <= 3
"""


@register("activity_profile_similarity", _activity_sim_oracle(), tags=("ext-sim", "G1"))
def activity_profile_similarity(spark, sf_dir):
    """Time-series similarity search: each user's hour-of-day activity
    histogram (24-dim, one codegen'd aggregation) ranked by cosine against
    query users — behavioral nearest neighbors, composed entirely from
    engine primitives (windowed counts → vector → similarity top-k)."""
    from flink_playground_spark.functions.similarity import brute_force_topk

    events = _t(spark, sf_dir, "events")
    hour = F.hour("ts")
    prof = events.groupBy("user_id").agg(
        *[F.sum(F.when(hour == h, 1).otherwise(0)).cast("double").alias(f"h{h}") for h in range(24)]
    )
    vec = prof.select("user_id", F.array(*[f"h{h}" for h in range(24)]).alias("p"))
    out = brute_force_topk(vec, vec.filter(F.col("user_id") < 5), id_col="user_id", vec_col="p", k=3)
    return out.select(
        F.col("query_id").alias("query_user"),
        F.col("neighbor_id").alias("similar_user"),
        "sim",
        "rank",
    )


@register(
    "cep_pattern_match",
    """
WITH s1 AS (SELECT user_id, event_id AS start_id, CAST(ts AS TIMESTAMP) AS ts1
            FROM events WHERE event_type = 'view'),
s2 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click'),
s3 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
f2 AS (SELECT s1.user_id, s1.start_id, s1.ts1, MIN(s2.ts) AS ts2
       FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        AND s2.ts > s1.ts1 AND s2.ts <= s1.ts1 + INTERVAL 48 HOURS
       GROUP BY ALL),
f3 AS (SELECT f2.user_id, f2.start_id, f2.ts1, f2.ts2, MIN(s3.ts) AS ts3
       FROM f2 JOIN s3 ON f2.user_id = s3.user_id
        AND s3.ts > f2.ts2 AND s3.ts <= f2.ts1 + INTERVAL 48 HOURS
       GROUP BY ALL),
strict AS (
  SELECT user_id, event_id AS start_id, ts1, ts2, ts3 FROM (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts1, event_type AS et0,
           LEAD(event_type, 1) OVER w AS et1, LEAD(CAST(ts AS TIMESTAMP), 1) OVER w AS ts2,
           LEAD(event_type, 2) OVER w AS et2, LEAD(CAST(ts AS TIMESTAMP), 2) OVER w AS ts3
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
  ) t WHERE et0 = 'view' AND et1 = 'click' AND et2 = 'purchase'),
base AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, event_type,
         ROW_NUMBER() OVER w AS rn,
         LEAD(event_type) OVER w AS next_sym,
         LEAD(CAST(ts AS TIMESTAMP)) OVER w AS next_t,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
runs0 AS (
  SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS run
  FROM base),
plusmatch AS (
  SELECT user_id, arg_min(event_id, rn) AS start_id, MIN(t) AS ts1, MAX(t) AS ts2,
         arg_max(next_sym, rn) AS after_sym, arg_max(next_t, rn) AS ts3
  FROM runs0 WHERE event_type = 'view' GROUP BY user_id, run)
SELECT 'funnel' AS pattern, user_id, start_id, ts1, ts2, ts3 FROM f3
UNION ALL
SELECT 'strict' AS pattern, user_id, start_id, ts1, ts2, ts3 FROM strict
UNION ALL
SELECT 'plus' AS pattern, user_id, start_id, ts1, ts2, ts3 FROM plusmatch
WHERE after_sym = 'click'
""",
    tags=("superset-cep",),
    bench=True,
)
def cep_pattern_match(spark, sf_dir):
    """CEP / MATCH_RECOGNIZE family (Flink SQL's pattern clause), two
    contiguity modes union-tagged:

    - ``funnel``: skip-till-next-match view -> click -> purchase per user,
      every step within 48h of the view; each step greedily resolves to
      the earliest qualifying event (exact — see operators.cep). Chained
      forward as-of joins: one shuffle per step, no row explosion.
    - ``strict``: the same symbols on three *consecutive* rows of the
      user's (ts, event_id)-ordered stream — a single lead-chain window.
    - ``plus``: the greedy quantifier ``view+ click`` — each maximal run
      of consecutive views immediately followed by a click
      (gaps-and-islands, one shuffle); ts1/ts2 = run start/end, ts3 = the
      click.
    """
    from flink_playground_spark.operators.cep import funnel, match_contiguous, match_plus

    ev = _t(spark, sf_dir, "events")
    et = F.col("event_type")
    fun = funnel(
        ev,
        "user_id",
        "ts",
        [et == "view", et == "click", et == "purchase"],
        "INTERVAL 48 HOURS",
        start_cols=[F.col("event_id").alias("start_id")],
    ).select(F.lit("funnel").alias("pattern"), "user_id", "start_id", "ts1", "ts2", "ts3")
    strict = match_contiguous(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"],
        tiebreakers=["event_id"],
    ).select(
        F.lit("strict").alias("pattern"),
        "user_id",
        F.col("event_id").alias("start_id"),
        F.col("ts").cast("timestamp_ntz").alias("ts1"),
        "ts2",
        "ts3",
    )
    plus = match_plus(
        ev, "user_id", "ts", "event_type", "view", "click",
        id_col="event_id", tiebreakers=["event_id"],
    ).select(
        F.lit("plus").alias("pattern"), "user_id", "start_id", "ts1", "ts2", "ts3"
    )
    return fun.unionByName(strict).unionByName(plus)


@register(
    "corpus_clean_pipeline",
    r"""
WITH stats AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / length(text)
              ELSE 0.0 END AS punct_ratio,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents),
kept AS (SELECT * FROM stats WHERE n_tokens >= 30 AND punct_ratio <= 0.2),
canon AS (
  SELECT fp, MIN(doc_id) AS doc_id,
         arg_min(lang, doc_id) AS lang,
         arg_min(n_tokens, doc_id) AS n_tokens
  FROM kept GROUP BY fp),
split AS (
  SELECT lang, n_tokens,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                   ('0','1','2','3','4','5','6','7','8','9','a','b')
              THEN 'train' ELSE 'test' END AS split
  FROM canon)
SELECT lang, split, count(*) AS n_docs,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens
FROM split GROUP BY lang, split
""",
    tags=("ext-text", "ext-dedup", "pipeline"),
)
def corpus_clean_pipeline(spark, sf_dir):
    """End-to-end training-corpus cleaning — the C4-style recipe as ONE
    declarative plan: per-doc quality stats computed in the scan stage
    (no UDF), low-quality docs filtered (length + punctuation), exact
    near-identical copies collapsed to the min-doc_id canonical row (one
    shuffle on the fingerprint, map-side combine), a deterministic
    md5-hash 75/25 train/test split (engine-independent: both sides hash
    the same string), and per-(lang, split) corpus stats. At 100 TB
    every stage is either scan-local or a single key shuffle — the whole
    pipeline is 2 Exchanges."""
    from flink_playground_spark.functions import text as tx

    docs = _t(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id",
        "lang",
        F.size(tx.tokens("text")).alias("n_tokens"),
        tx.punct_ratio("text").alias("punct_ratio"),
        tx.fingerprint("text").alias("fp"),
    )
    kept = stats.filter((F.col("n_tokens") >= 30) & (F.col("punct_ratio") <= 0.2))
    canon = (
        kept.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "lang", "n_tokens")).alias("c"))
        .select(F.col("c.doc_id"), F.col("c.lang"), F.col("c.n_tokens"))
    )
    split = canon.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                *"0123456789ab"
            ),
            "train",
        ).otherwise("test"),
    )
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_tokens"
        ),
    )


@register(
    "multimodal_pipeline",
    """
SELECT source, count(*) AS n_docs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(SUM((octet_length(encode(text)) % 64) + 1) AS BIGINT) AS sum_width,
       CAST(SUM(CASE WHEN octet_length(encode(text)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(SUM(CAST(CEIL(GREATEST(octet_length(encode(text)) // 64, 1) / 4.0) AS BIGINT)) AS BIGINT) AS n_frames
FROM documents GROUP BY source
""",
    tags=("ext-multimodal",),
)
def multimodal_pipeline(spark, sf_dir):
    """Multimodal plumbing end-to-end, per source: opaque binary column +
    Arrow-batched mapInPandas decode (deterministic fake decoder; real
    codecs plug in via register_decoder) aggregated on extracted
    metadata, joined with video-style frame sampling (every 4th 64-byte
    'frame', one exploded row per sampled frame — the mapInPandas explode
    shape). Both branches aggregate to one row per source before the
    join, so the join input is tiny regardless of corpus size."""
    from flink_playground_spark.functions.multimodal import (
        attach_blob,
        decode_metadata,
        frame_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_blob(docs)
    decoded = decode_metadata(blobs).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("byte_len").alias("total_bytes"),
        F.sum("width").alias("sum_width"),
        F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("n_valid"),
    )
    frames = frame_sample(blobs, every_n=4, frame_size=64).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    return decoded.join(frames, "source")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in REGISTRY.items() if q.bench}


# ---------------------------------------------------------------------------
# Bench-extra queries (see register_extra above): oracle-checked TPC-H
# shapes beyond the 50-entry driver registry.
# ---------------------------------------------------------------------------


@register_extra(
    "q2_min_cost_supplier",
    """
WITH cost AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS unit_cost
  FROM lineitem GROUP BY 1, 2),
eur AS (SELECT s_suppkey, s_name, n_name FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
ce AS (SELECT c.l_partkey, c.unit_cost, e.s_name, e.n_name
       FROM cost c JOIN eur e ON c.l_suppkey = e.s_suppkey),
m AS (SELECT l_partkey, MIN(unit_cost) AS min_cost FROM ce GROUP BY 1)
SELECT p.p_partkey, p.p_brand, ce.s_name, ce.n_name, ce.unit_cost
FROM part p JOIN ce ON p.p_partkey = ce.l_partkey
JOIN m ON m.l_partkey = ce.l_partkey AND ce.unit_cost = m.min_cost
WHERE p.p_size = 15
""",
    tags=("superset-tpch",),
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2-shaped: the correlated MIN subquery ("supplier offering
    the part's minimum cost"), decorrelated into a *window* min over the
    part key — one pass over the supplier-cost table, no self-join
    recompute of the aggregate subtree (the naive CTE-self-join plans the
    cost aggregation twice). Dims (supplier x nation x region, filtered
    part) broadcast; the only fact shuffles are the per-(part,supplier)
    MIN (exact on doubles, order-independent) and the window's part-key
    partitioning."""
    li = _t(spark, sf_dir, "lineitem")
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )
    from pyspark.sql import Window

    cost = li.groupBy("l_partkey", "l_suppkey").agg(F.min("l_extendedprice").alias("unit_cost"))
    ce = cost.join(F.broadcast(eur), cost.l_suppkey == eur.s_suppkey).select(
        "l_partkey", "unit_cost", "s_name", "n_name"
    )
    w = Window.partitionBy("l_partkey")
    best = ce.withColumn("__min", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("__min")
    )
    parts = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15).select("p_partkey", "p_brand")
    return best.join(F.broadcast(parts), best.l_partkey == parts.p_partkey).select(
        "p_partkey", "p_brand", "s_name", "n_name", "unit_cost"
    )


@register(
    "q7_volume_shipping",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY 1, 2, 3
""",
    tags=("superset-tpch",),
    bench=True,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7-shaped: bilateral trade volume between two nations by
    ship year. The nation filters push into supplier and customer before
    any fact join (both enriched dims stay broadcastable fractions);
    lineitem date-filters at the scan, joins orders once (the one
    fact-fact shuffle — AQE broadcasts the filtered side at small SF),
    and the disallowed same-nation pairs drop with one predicate.
    Revenue sums exactly in integer units (operators/money)."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    nations = ("NATION_3", "NATION_8")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cus = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _t(spark, sf_dir, "orders").join(cus, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "cust_nation"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
    )
    revenue_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    return exact_money_agg(
        joined,
        ["supp_nation", "cust_nation", "l_year"],
        unit_sums={"rev": (revenue_units, 4)},
    ).select(
        "supp_nation",
        "cust_nation",
        "l_year",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
    )


@register_extra(
    "q10_returned_top_customers",
    """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-10-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20
""",
    tags=("superset-tpch",),
)
def q10_returned_top_customers(spark, sf_dir):
    """TPC-H Q10-shaped: top customers by returned-item revenue in one
    quarter. Revenue aggregates per customer key BEFORE the customer and
    nation joins — the join input shrinks from fact-sized to
    active-customer-sized, so the enrich joins move orders of magnitude
    fewer rows at 100 TB. TakeOrderedAndProject caps the final sort at
    20 rows."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    rev = exact_money_agg(
        li.join(o, li.l_orderkey == o.o_orderkey),
        ["o_custkey"],
        unit_sums={"rev": (revenue_units, 4)},
        partition_stage=False,  # per-customer groups stay small
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(_t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")
    return (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )

# -- Full-suite TPC-H shapes (Q4..Q22, adapted to the reduced schema) ------
#
# The testdata has no partsupp table and no l_commitdate/l_receiptdate/
# l_linestatus/c_phone/p_container columns, so the shapes that need them are
# adapted: the JOIN/SUBQUERY STRUCTURE of each official query is preserved
# (that is what exercises the engine), with available columns standing in
# for missing ones. Each docstring names the substitution.


@register_extra(
    "q4_priority_late_ship",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 365 DAY)
GROUP BY 1
""",
    tags=("superset-tpch",),
)
def q4_priority_late_ship(spark, sf_dir):
    """TPC-H Q4-shaped: correlated EXISTS → left-semi join. The reference
    predicate l_commitdate < l_receiptdate is absent from the schema;
    "shipped >365 days after order" stands in (same correlated-comparison
    shape). The quarter filter on orders implies l_shipdate >
    '1996-12-31', manually derived and pushed into the lineitem scan —
    Catalyst cannot infer a bound that crosses the non-equi join
    condition, and at 100 TB that scan filter is the difference between
    reading one year and reading seven."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1996-12-31")  # implied by the quarter + 365d
        .select("l_orderkey", "l_shipdate")
    )
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q8_market_share",
    """
WITH v AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN part ON l_partkey = p_partkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
SELECT o_year,
       CAST(ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume ELSE 0 END) AS DOUBLE)
                  / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
FROM v GROUP BY 1
""",
    tags=("superset-tpch",),
    bench=True,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8-shaped: NATION_6's share of STANDARD-part volume sold to
    AMERICA-region customers, per order year. Every dim (filtered part,
    customer×nation×region, supplier×nation) broadcasts; the only
    fact-fact shuffle is lineitem⨝orders. Both conditional sums run as
    exact integer units (operators/money) so the share is a ratio of two
    exact decimals — cast to double on both sides before dividing, which
    makes the quotient bit-deterministic (no float-sum order dependence
    feeding the division)."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    nation = _t(spark, sf_dir, "nation")
    cust_america = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "AMERICA")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1995-01-01", "1996-12-31 00:00:00"))
        .join(cust_america, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("bigint").alias("o_year"))
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    parts = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(parts), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
    )
    vol_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    agg = exact_money_agg(
        joined,
        ["o_year"],
        unit_sums={
            "nation_vol": (
                F.when(F.col("supp_nation") == "NATION_6", vol_units).otherwise(F.lit(0).cast("long")),
                4,
            ),
            "total_vol": (vol_units, 4),
        },
    )
    return agg.select(
        "o_year",
        F.round(F.col("nation_vol").cast("double") / F.col("total_vol").cast("double"), 6).alias(
            "mkt_share"
        ),
    )


@register(
    "q9_product_profit",
    """
SELECT n_name AS nation, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS BIGINT)), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    tags=("superset-tpch",),
    bench=True,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9-shaped: profit on a part-name LIKE family per supplier
    nation and ship year. ps_supplycost does not exist (no partsupp
    table); p_retailprice×l_quantity stands in as the cost term — the
    revenue-minus-cost-per-row aggregate over a 4-table join is the
    shape. All dims broadcast, so lineitem's only shuffle is the final
    group-by; profit sums in exact 1e-4 units (cents×hundredths) with
    the cost term scaled ×100 to the same unit."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(parts), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .withColumn("o_year", F.year("l_shipdate").cast("bigint"))
    )
    profit_units = cents("l_extendedprice") * (100 - cents("l_discount")) - cents(
        "p_retailprice"
    ) * F.col("l_quantity").cast("long") * 100
    agg = exact_money_agg(joined, ["nation", "o_year"], unit_sums={"profit": (profit_units, 4)})
    return agg.select("nation", "o_year", F.round(F.col("profit"), 2).cast("double").alias("profit"))


@register_extra(
    "q11_important_parts",
    """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_2', 'NATION_7', 'NATION_12')
  GROUP BY 1)
SELECT l_partkey, CAST(ROUND(part_value, 2) AS DOUBLE) AS part_value
FROM pv
WHERE part_value > (SELECT 1.2 * CAST(SUM(part_value) AS DOUBLE) / COUNT(*) FROM pv)
""",
    tags=("superset-tpch",),
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11-shaped: parts whose value (for suppliers of three
    nations) exceeds a scalar-subquery threshold over the whole filtered
    set — ps_supplycost×ps_availqty becomes lineitem revenue (no
    partsupp). The threshold (1.2× mean part value) is computed FROM THE
    PER-PART AGGREGATE, not a second fact scan, and both engines cast
    the exact decimal sum to double before dividing by the exact count,
    so the cutoff is bit-deterministic. Spark sees the pv subtree twice
    (threshold + filter) but the group-by Exchange is identical on both
    paths → ReusedExchange, one real fact pass (plan-asserted in
    tests)."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_2", "NATION_7", "NATION_12"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
    vol_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    pv = exact_money_agg(
        joined, ["l_partkey"], unit_sums={"part_value": (vol_units, 4)}, partition_stage=False
    )
    thresh = pv.agg(
        (F.lit(1.2) * F.sum(F.col("part_value")).cast("double") / F.count(F.lit(1))).alias("__thr")
    )
    return (
        pv.join(F.broadcast(thresh))
        .filter(F.col("part_value").cast("double") > F.col("__thr"))
        .select("l_partkey", F.round(F.col("part_value"), 2).cast("double").alias("part_value"))
    )


@register_extra(
    "q12_priority_by_linestatus",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
    tags=("superset-tpch",),
)
def q12_priority_by_linestatus(spark, sf_dir):
    """TPC-H Q12-shaped: lines per status split into high/low order
    priority (l_linestatus and the commit/receipt predicates are absent;
    l_linestatus stands in for the grouping and the year filter for the
    receipt window). lineitem date-filters at the scan; the single
    fact-fact shuffle is the orderkey join; the conditional counts
    collapse map-side (3 groups total)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1)
GROUP BY 1
""",
    tags=("superset-tpch",),
    bench=True,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13-shaped: distribution of per-customer order counts
    (the NOT LIKE 'special requests' comment filter becomes a priority
    exclusion). NOT implemented as the literal outer-join-then-count:
    orders pre-aggregate to one row per customer BEFORE touching the
    customer table, so the join moves |customers| rows instead of
    |orders| rows — at 100 TB that is the difference between shuffling
    the fact table and shuffling a key list. Customers with no
    qualifying orders coalesce to count 0 via the left join."""
    counts = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = cust.join(counts, cust.c_custkey == counts.o_custkey, "left").select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))


@register_extra(
    "q14_promo_revenue",
    """
SELECT CAST(ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
            4) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
""",
    tags=("superset-tpch",),
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promo share of one month's revenue. The part dim
    broadcasts (two columns), lineitem date-filters at the scan, and the
    global conditional sums run as exact integer units with the
    partition-id pre-stage (a single global group must not funnel raw
    rows into one reducer). Ratio of exact decimals cast to double on
    both sides → bit-deterministic."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    parts = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    joined = li.join(F.broadcast(parts), li.l_partkey == F.col("p_partkey"))
    vol_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    agg = exact_money_agg(
        joined,
        [],
        unit_sums={
            "promo": (F.when(F.col("p_type") == "PROMO", vol_units).otherwise(F.lit(0).cast("long")), 4),
            "total": (vol_units, 4),
        },
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("promo").cast("double") / F.col("total").cast("double"), 4).alias(
            "promo_revenue"
        )
    )


@register_extra(
    "q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
    tags=("superset-tpch",),
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: supplier(s) with the quarter's maximum revenue — the
    CREATE VIEW + scalar MAX subquery, as a shared per-supplier
    aggregate consumed twice (max + filter). Revenue sums exactly in
    integer units, so the MAX comparison is decimal-exact on both
    engines (no float ties). AQE reuses the group-by Exchange between
    the two consumers, and the supplier dim broadcasts onto the handful
    of surviving rows. partition_stage=False deliberately: the
    spark_partition_id pre-stage is marked nondeterministic, which
    blocks canonical plan equality and therefore ReusedExchange — and
    per-supplier quarter revenue is a bounded-ish group (map-side
    partials still collapse it) so the single-stage long sum is safe."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
        # explicit, though vacuous: the later supplier equi-join infers
        # isnotnull(l_suppkey) into ONE consumer's scan; stating it on the
        # shared base keeps both subtrees canonically equal → ReusedExchange
        & F.col("l_suppkey").isNotNull()
    )
    vol_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    rev = exact_money_agg(
        li, ["l_suppkey"], unit_sums={"total_revenue": (vol_units, 4)}, partition_stage=False
    )
    best = rev.agg(F.max("total_revenue").alias("__max"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("__max"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round(F.col("total_revenue"), 2).cast("double").alias("total_revenue"))
    )


@register_extra(
    "q16_supplier_cnt_by_part",
    """
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
    tags=("superset-tpch",),
)
def q16_supplier_cnt_by_part(spark, sf_dir):
    """TPC-H Q16-shaped: distinct suppliers per (brand, type, size),
    excluding a supplier denylist — partsupp becomes lineitem and the
    'complaints' comment filter becomes negative account balance. The
    denylist is a broadcast anti-join (NOT IN over a non-null key), the
    filtered part dim broadcasts, and COUNT(DISTINCT) runs as Spark's
    two-phase distinct aggregate — no row ever shuffles twice."""
    bad_sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_sup), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("bigint").alias("supplier_cnt"))
    )


@register_extra(
    "q17_small_quantity_revenue",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_size < 10
  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
    tags=("superset-tpch",),
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17-shaped: revenue of below-avg-quantity lines for one
    part family (p_container → p_size stands in). The correlated
    per-part AVG decorrelates into a window average over the part key —
    one pass, no per-row subquery re-execution. The threshold is
    deterministic across engines: l_quantity is integer-valued, so the
    double partial sums are exact and AVG is order-independent. The
    filtered part dim broadcasts; the window partitions by part key
    (bounded rows per part)."""
    from pyspark.sql import Window

    from flink_playground_spark.operators.money import cents, exact_money_agg

    parts = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    li_family = li.join(F.broadcast(parts), li.l_partkey == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    flt = li_family.withColumn("__avg", F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("__avg")
    )
    agg = exact_money_agg(flt, [], unit_sums={"__sum": (cents("l_extendedprice"), 2)})
    return agg.select(
        F.round(F.col("__sum").cast("double") / F.lit(7.0), 2).alias("avg_yearly")
    )


@register_extra(
    "q19_disjunctive_revenue",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("superset-tpch",),
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19: revenue under a disjunction of brand/size/quantity
    conjunctions. Catalyst does not factor per-table implications out
    of a cross-table OR, so the single-table envelopes are derived by
    hand and pushed to both scans — part pre-filters to the union of
    brand/size branches (broadcastable), lineitem to quantity 1..30 —
    and the exact OR predicate applies after the join. At 100 TB the
    derived lineitem envelope is the difference between scanning every
    quantity and a 60% slice, with the full disjunction evaluated only
    on survivors."""
    from flink_playground_spark.operators.money import cents, exact_money_agg

    b1 = (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
    b2 = (F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 10)
    b3 = (F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
    parts = _t(spark, sf_dir, "part").filter(b1 | b2 | b3).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    q = F.col("l_quantity")
    full = (
        (b1 & q.between(1, 11)) | (b2 & q.between(10, 20)) | (b3 & q.between(20, 30))
    )
    joined = li.join(F.broadcast(parts), li.l_partkey == F.col("p_partkey")).filter(full)
    vol_units = cents("l_extendedprice") * (100 - cents("l_discount"))
    agg = exact_money_agg(joined, [], unit_sums={"revenue": (vol_units, 4)})
    return agg.select(F.round(F.col("revenue"), 2).cast("double").alias("revenue"))


@register_extra(
    "q20_promotion_suppliers",
    """
SELECT s_name, CAST(ROUND(CAST(s_acctbal AS DECIMAL(12,2)), 2) AS DOUBLE) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_4'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'large%'
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey HAVING SUM(l_quantity) > 100)
""",
    tags=("superset-tpch",),
)
def q20_promotion_suppliers(spark, sf_dir):
    """TPC-H Q20-shaped: suppliers in one nation who moved a material
    volume of a part-name family in a year — the partsupp availability
    correlation becomes an IN-subquery over an aggregated-with-HAVING
    fact slice (the same nested semi-join-on-aggregate shape). The
    inner aggregate shrinks facts to supplier keys before any contact
    with the supplier table; the HAVING compare is exact (integer-
    valued quantities in double). The outer semi-join broadcasts the
    surviving key set."""
    parts = _t(spark, sf_dir, "part").filter(F.col("p_name").like("large%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    movers = (
        li.join(F.broadcast(parts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 100)
        .select("l_suppkey")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_4")
    )
    return sup.join(F.broadcast(movers), sup.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_name", F.round(F.col("s_acctbal").cast("decimal(12,2)"), 2).cast("double").alias("s_acctbal")
    )


@register(
    "q21_waiting_supplier",
    """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
  AND l1.l_shipdate > o_orderdate + INTERVAL 180 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 180 DAY)
GROUP BY 1
""",
    tags=("superset-tpch",),
    bench=True,
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21-shaped: the sole-late-supplier-on-a-multi-supplier-
    order pattern (receipt-vs-commit lateness becomes shipped >180 days
    after order date). The EXISTS / NOT EXISTS pair decorrelates into
    per-order WINDOW aggregates — distinct suppliers and distinct LATE
    suppliers over the order-key partition — instead of two correlated
    probes or a groupBy-and-join-back: a late line qualifies iff its
    order has ≥2 suppliers and exactly 1 late supplier. ONE pass over
    lineitem⨝orders, ONE fact shuffle (the order-key partitioning),
    windows bounded by lines-per-order; the nation-filtered supplier
    dim broadcasts at the end, after the fact rows have collapsed."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "__late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 180 DAYS")
    )
    w = Window.partitionBy("o_orderkey")
    flagged = joined.select(
        "l_suppkey",
        "__late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("__n_supp"),
        F.size(F.collect_set(F.when(F.col("__late"), F.col("l_suppkey"))).over(w)).alias(
            "__n_late"
        ),
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_1")
        .select("s_suppkey", "s_name")
    )
    return (
        flagged.filter(F.col("__late") & (F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@register_extra(
    "q22_dormant_customers",
    """
SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
  AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0
                     AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY'))
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""",
    tags=("superset-tpch",),
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22-shaped: above-average-balance customers in selected
    segments with no RECENT orders (phone country codes → market
    segments; the no-orders-at-all anti-join would be empty in this
    corpus, so 'dormant since 2000' keeps the shape selective). The
    global average is an exact decimal sum cast to double over an exact
    count — bit-deterministic on both engines — broadcast as a scalar.
    The NOT EXISTS is a left-anti join against date-filtered order keys,
    which shrink at the scan before the shuffle."""
    from flink_playground_spark.operators.money import cents

    seg = F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "MACHINERY")
    cust = _t(spark, sf_dir, "customer").filter(seg)
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(cents("c_acctbal")).cast("decimal(27,0)").cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("__avg"))
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return dormant.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2).cast("double").alias("totacctbal"),
    )


@register(
    "tfidf_top_terms",
    """
WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, CAST(tf AS DOUBLE) * ((n + 1.0) / (df + 1.0)) AS score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY CAST(tf AS DOUBLE) * ((n + 1.0) / (df + 1.0)) DESC, term) AS term_rank
  FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, term, ROUND(score, 6) AS score, CAST(term_rank AS BIGINT) AS term_rank
FROM scored WHERE term_rank <= 3
""",
    tags=("ext-sampling",),
    bench=False,
)
def tfidf_top_terms_full(spark, sf_dir):
    """Full-fidelity tf-idf surface (see functions/tfidf.py and the
    corpus_sampling driver row): top-3 terms per doc with rank."""
    from flink_playground_spark.functions.tfidf import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", 3)
    return out.select("doc_id", "term", F.round(F.col("score"), 6).alias("score"), "term_rank")


@register_extra(
    "content_chunking",
    """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), i -> {'p': i, 'term': t[i]})) AS u FROM toks),
pt AS (SELECT doc_id, u.p AS pos, u.term AS term FROM pos WHERE u.term <> ''),
ch AS (SELECT doc_id, pos,
              SUM(CASE WHEN md5(term) LIKE '0%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS chunk_id
       FROM pt)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(MIN(pos) AS BIGINT) AS start_pos, CAST(MAX(pos) AS BIGINT) AS end_pos
FROM ch GROUP BY 1, 2
""",
    tags=("ext-sampling",),
    bench=False,
)
def content_chunking_full(spark, sf_dir):
    """Full-fidelity content-defined chunking surface (see
    functions/chunking.py): per-chunk token count and position span."""
    from flink_playground_spark.functions.chunking import content_chunks

    docs = _t(spark, sf_dir, "documents")
    return content_chunks(docs, "doc_id", "text")


@register(
    "chunk_dedup",
    """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), i -> {'p': i, 'term': t[i]})) AS u FROM toks),
pt AS (SELECT doc_id, u.p AS pos, u.term AS term FROM pos WHERE u.term <> ''),
ch AS (SELECT doc_id, pos, term,
              SUM(CASE WHEN md5(term) LIKE '0%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS chunk_id
       FROM pt),
ctext AS (SELECT doc_id, chunk_id, md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_fp,
                 COUNT(*) AS n_tokens
          FROM ch GROUP BY 1, 2)
SELECT chunk_fp, CAST(ANY_VALUE(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
FROM ctext WHERE n_tokens >= 4
GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
""",
    tags=("ext-sampling", "ext-dedup"),
    bench=True,
)
def chunk_dedup(spark, sf_dir):
    """Chunk-level dedup — the payoff of content-defined chunking:
    passages (≥4-token chunks) appearing verbatim in ≥2 documents, with
    occurrence counts and a canonical owner. Because boundaries are
    content-defined, the same passage embedded at DIFFERENT offsets in
    different documents still yields identical chunks — offset-shifted
    duplication that fixed-size chunking structurally misses. Plan:
    chunk fingerprinting is one window + one bounded collect per (doc,
    chunk); the dedup itself is a single fingerprint groupBy with
    map-side combine — the exact_dedup_docs shape one level down."""
    from flink_playground_spark.functions.chunking import chunk_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fps = chunk_fingerprints(docs, "doc_id", "text").filter(F.col("n_tokens") >= 4)
    return (
        fps.groupBy("chunk_fp")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_DEDUP_CLUSTERS_SQL = (
    "WITH RECURSIVE pairs AS (" + _NGRAM_PAIRS_SQL.format(thr=0.8) + "),\n"
    + """
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node),
cc AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
       cc.doc_id = cc.cluster_id AS is_canonical
FROM cc JOIN sz USING (cluster_id)
"""
)


@register_extra(
    "streaming_dedup_clusters",
    _DEDUP_CLUSTERS_SQL,
    tags=("ext-dedup", "T6"),
    bench=False,
)
def streaming_dedup_clusters(spark, sf_dir):
    """dedup_clusters maintained INCREMENTALLY — the missing last step
    of the streaming dedup story: the near-dup indexes emit PAIRS per
    wave, but acting on duplicates needs CLUSTERS, and cluster
    assignment was batch-only. Here the verified rep-level pair set
    arrives in three deterministic waves (split by pair hash) and folds
    through StreamingDupClusters (streaming/cc_index.py): each wave
    solves connected components over only its edges plus the stored
    members of the components it touches, appending (node, min-label)
    rows to an order-free MIN ledger — per-wave work ∝ wave size x
    touched-component mass, never corpus age. The drained mapping feeds
    the SAME member-attach tail as the batch query
    (dedupe.attach_cluster_members), so the output — and the recursive-
    CTE DuckDB oracle — are identical to batch dedup_clusters."""
    import tempfile

    from flink_playground_spark.functions.dedupe import (
        _lsh_rep_pairs,
        attach_cluster_members,
    )
    from flink_playground_spark.streaming.cc_index import StreamingDupClusters

    docs = _t(spark, sf_dir, "documents")
    members, idx, rep_pairs = _lsh_rep_pairs(
        docs, "doc_id", "text", 128, 32, 3, 0.8, True, 10_000
    )
    index = StreamingDupClusters(tempfile.mkdtemp(prefix="fps_ccidx_"))
    for w in range(3):
        wave = rep_pairs.filter(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(3)) == w)
        index.ingest(wave, batch_id=w, src="id_a", dst="id_b")
    comp = index.mapping(spark).select(F.col("node").alias("rep"), F.col("comp"))
    return attach_cluster_members(members, idx, comp)


@register("dedup_clusters", _DEDUP_CLUSTERS_SQL, tags=("ext-dedup",), bench=True)
def dedup_clusters(spark, sf_dir):
    """Pairs -> clusters: the last step of the MinHash dedup pipeline.
    Near-duplicate PAIRS (MinHash+LSH banding, exactly verified at
    t=0.8) become duplicate CLUSTERS via distributed connected
    components (min-label propagation + pointer doubling, O(log n)
    rounds — operators/graph.py), with the minimum doc id as the
    deterministic canonical survivor. The oracle recomputes components
    with a recursive CTE over the same exact-Jaccard pair set.

    Scale shape: CC runs on the REPRESENTATIVE graph only (one node per
    exact-dup class, minhash_dup_clusters) — class members are attached
    after the loop with plain joins, so per-round shuffle size tracks
    distinct content, not corpus rows. Output identical to CC over the
    full star+pair edge set (oracle + parity test)."""
    from flink_playground_spark.functions.dedupe import minhash_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    return minhash_dup_clusters(docs, "doc_id", "text", k=128, bands=32, threshold=0.8)


@register_extra(
    "streaming_value_drift_psi",
    """
WITH e AS (SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket, event_id % 2 = 1 AS is_b
           FROM events),
c AS (SELECT bucket,
             SUM(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS n_b
      FROM e GROUP BY 1),
t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb, COUNT(*) AS nb FROM c),
p AS (SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             (n_a + 1) / CAST(t.ta + t.nb AS DOUBLE) AS pa,
             (n_b + 1) / CAST(t.tb + t.nb AS DOUBLE) AS pb
      FROM c, t)
SELECT bucket, n_a, n_b,
       ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
       ROUND((pa - pb) * LN(pa / pb), 6) AS psi_term
FROM p
""",
    tags=("ext-streaming", "ext-quality"),
    bench=False,
)
def streaming_value_drift_psi(spark, sf_dir):
    """The PSI monitor as a WAVE-FOLDED stream (streaming/drift.py):
    wave 0 freezes the reference histogram, wave 1 accumulates into the
    live histogram (exactly-once bucket counts), and the PSI terms read
    from state alone. The oracle recomputes the identical math from the
    parity split — reference = even event_ids, live = odd."""
    import tempfile

    from flink_playground_spark.streaming.drift import StreamingDriftMonitor
    from flink_playground_spark.streaming.runners import replay_events_waves

    stream = replay_events_waves(spark, sf_dir, waves=2).select("value")
    mon = StreamingDriftMonitor(tempfile.mkdtemp(prefix="fps_drift_"))
    q = (
        stream.writeStream.foreachBatch(lambda b, i: mon.ingest(b, i))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return mon.psi(spark)


_BROADCAST_RULES_ORACLE = """
WITH r0 AS (SELECT * FROM (VALUES
        ('r1', 'click', 100.0, 'flag'),
        ('r2', 'purchase', 80.0, 'audit'),
        ('r3', 'error', 120.0, 'alert')) t(rule_id, event_type, min_value, action)),
r1v AS (SELECT * FROM (VALUES
        ('r1', 'click', 150.0, 'flag'),
        ('r3', 'error', 120.0, 'alert'),
        ('r4', 'view', 110.0, 'sample')) t(rule_id, event_type, min_value, action))
SELECT CAST(0 AS BIGINT) AS batch_id, e.event_id, e.user_id, e.event_type, e.value,
       r.rule_id, r.action
FROM events e JOIN r0 r ON e.event_type = r.event_type AND e.value >= r.min_value
WHERE e.event_id % 2 = 0
UNION ALL
SELECT CAST(1 AS BIGINT), e.event_id, e.user_id, e.event_type, e.value,
       r.rule_id, r.action
FROM events e JOIN r1v r ON e.event_type = r.event_type AND e.value >= r.min_value
WHERE e.event_id % 2 = 1
"""


@register_extra(
    "streaming_broadcast_rules",
    _BROADCAST_RULES_ORACLE,
    tags=("ext-streaming",),
    bench=False,
)
def streaming_broadcast_rules(spark, sf_dir):
    """Flink's broadcast-state pattern (BroadcastProcessFunction — the
    canonical dynamic-fraud-rules DataStream example): a control stream
    of rule updates folds into exactly-once keyed state; each data wave
    is evaluated against the rules AS OF its wave via a broadcast hash
    join (streaming/broadcast_rules.py). Control wave 0 installs three
    rules; control wave 1 raises r1's threshold, DELETES r2 (tombstone),
    and adds r4 — so the same event stream matches differently per wave.
    Events replay in two parity micro-batches; the oracle rebuilds both
    evaluations from the literal rule sets. A replayed wave changes
    nothing (rule state is transactional; per-batch output dirs are
    overwritten idempotently)."""
    import tempfile

    from flink_playground_spark.streaming.broadcast_rules import BroadcastRulesEngine
    from flink_playground_spark.streaming.runners import replay_events_waves

    work = tempfile.mkdtemp(prefix="fps_rules_")
    engine = BroadcastRulesEngine(f"{work}/state")
    control = {
        0: [
            ("r1", 1, "U", "click", 100.0, "flag"),
            ("r2", 1, "U", "purchase", 80.0, "audit"),
            ("r3", 1, "U", "error", 120.0, "alert"),
        ],
        1: [
            ("r1", 2, "U", "click", 150.0, "flag"),
            ("r2", 2, "D", "purchase", 0.0, "audit"),
            ("r4", 2, "U", "view", 110.0, "sample"),
        ],
    }
    schema = "rule_id string, seq long, op string, event_type string, min_value double, action string"

    def each_batch(batch, batch_id):
        if batch_id in control:
            engine.update_rules(
                batch.sparkSession.createDataFrame(control[batch_id], schema), batch_id
            )
        out = engine.process(batch).withColumn("batch_id", F.lit(batch_id))
        out.write.mode("overwrite").parquet(f"{work}/out/b{batch_id}")

    stream = replay_events_waves(spark, sf_dir, waves=2).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = stream.writeStream.foreachBatch(each_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.parquet(f"{work}/out/b*").select(
        "batch_id", "event_id", "user_id", "event_type", "value", "rule_id", "action"
    )


@register(
    "streaming_retractable_agg",
    """
WITH wa AS (SELECT event_type, value FROM (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t WHERE rn = 1)
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM wa GROUP BY 1
""",
    tags=("T6", "ext-streaming"),
    bench=False,
)
def streaming_retractable_agg(spark, sf_dir):
    """The consuming half of the changelog contract: a continuous
    GROUP BY over an UPDATING table (per-event-type count + sum(value)
    of each user's keep-latest row). The keep-latest changelog
    (+I/-U/+U, bit-exact Flink ops) feeds a retractable aggregate view
    (streaming/ivm.py): additions add, retractions subtract, DECIMAL
    measures make retraction exact, TransactionalKeyState makes replay
    a no-op. The drained view must equal the batch GROUP BY over the
    deduplicated table — Flink's materialized-view guarantee, verified
    by this oracle."""
    import tempfile

    from flink_playground_spark.streaming.changelog import keep_latest_changelog_stream
    from flink_playground_spark.streaming.ivm import RetractableAggView
    from flink_playground_spark.streaming.runners import replay_events_waves

    stream = replay_events_waves(spark, sf_dir, waves=2).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    log = keep_latest_changelog_stream(stream, "user_id", "ts", tiebreakers=("event_id",))
    view = RetractableAggView(
        tempfile.mkdtemp(prefix="fps_ivm_"), ["event_type"], ["value"]
    )
    bids = sorted(r[0] for r in log.select("batch_id").distinct().collect())  # = waves
    for bid in bids:
        view.apply_batch(log.filter(F.col("batch_id") == bid), int(bid))
    return view.read(spark).select(
        "event_type", "cnt", F.col("sum_value").cast("double").alias("sum_value")
    )


@register_extra(
    "streaming_retractable_minmax",
    """
WITH wa AS (SELECT event_type, value FROM (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t WHERE rn = 1)
SELECT event_type, min(value) AS min_value, max(value) AS max_value
FROM wa GROUP BY 1
""",
    tags=("T6", "ext-streaming"),
    bench=False,
)
def streaming_retractable_minmax(spark, sf_dir):
    """Retract-mode MIN/MAX — the textbook NON-retractable aggregates:
    when the retracted row WAS the extremum, a signed scalar cannot
    recover the runner-up, so state must hold the per-group value
    multiset ((group, value) -> live count; streaming/ivm.py:
    RetractableMinMaxView), exactly how Flink's retract-mode min/max
    keeps value state. Same keep-latest changelog input as the sum view;
    the oracle checks the drained view equals batch MIN/MAX over the
    deduplicated table."""
    import tempfile

    from flink_playground_spark.streaming.changelog import keep_latest_changelog_stream
    from flink_playground_spark.streaming.ivm import RetractableMinMaxView
    from flink_playground_spark.streaming.runners import replay_events_waves

    stream = replay_events_waves(spark, sf_dir, waves=2).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    log = keep_latest_changelog_stream(stream, "user_id", "ts", tiebreakers=("event_id",))
    view = RetractableMinMaxView(
        tempfile.mkdtemp(prefix="fps_ivm_mm_"), ["event_type"], "value"
    )
    for bid in sorted(r[0] for r in log.select("batch_id").distinct().collect()):
        view.apply_batch(log.filter(F.col("batch_id") == bid), int(bid))
    return view.read(spark)


@register(
    "value_drift_psi",
    """
WITH e AS (SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
                  CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00' AS is_b
           FROM events),
c AS (SELECT bucket,
             SUM(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS n_b
      FROM e GROUP BY 1),
t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb, COUNT(*) AS nb FROM c),
p AS (SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             (n_a + 1) / CAST(t.ta + t.nb AS DOUBLE) AS pa,
             (n_b + 1) / CAST(t.tb + t.nb AS DOUBLE) AS pb
      FROM c, t)
SELECT bucket, n_a, n_b,
       ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
       ROUND((pa - pb) * LN(pa / pb), 6) AS psi_term
FROM p
""",
    tags=("ext-analytics", "ext-quality"),
    bench=False,
)
def value_drift_psi(spark, sf_dir):
    """Population Stability Index terms for the event `value`
    distribution, first half of the corpus month vs second — the
    standard numeric drift monitor beside the text-drift corpus
    signatures. Fixed-width buckets (deterministic, unlike sample
    quantile edges) with add-one smoothing so empty buckets contribute
    finite terms; per-bucket PSI terms are the audit trail, their sum
    the alarm metric. One scan, one hash aggregate, totals broadcast
    back."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value") / 10).cast("bigint").alias("bucket"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")).alias("is_b"),
    )
    c = e.groupBy("bucket").agg(
        F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    t = c.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"), F.count(F.lit(1)).alias("nb")
    )
    p = c.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_a",
        "n_b",
        ((F.col("n_a") + 1) / (F.col("ta") + F.col("nb")).cast("double")).alias("pa"),
        ((F.col("n_b") + 1) / (F.col("tb") + F.col("nb")).cast("double")).alias("pb"),
    )
    return p.select(
        "bucket",
        "n_a",
        "n_b",
        F.round("pa", 6).alias("p_a"),
        F.round("pb", 6).alias("p_b"),
        F.round((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 6).alias(
            "psi_term"
        ),
    )


@register(
    "retention_cohorts",
    """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
first_seen AS (SELECT user_id, time_bucket(INTERVAL '7 days', min(ts), TIMESTAMP '1970-01-01 00:00:00') AS cohort_week FROM e GROUP BY 1),
activity AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '7 days', ts, TIMESTAMP '1970-01-01 00:00:00') AS active_week FROM e),
joined AS (SELECT f.cohort_week,
                  CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
                  a.user_id
           FROM first_seen f JOIN activity a USING (user_id)),
sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM first_seen GROUP BY 1)
SELECT j.cohort_week, j.week_offset,
       CAST(count(DISTINCT j.user_id) AS BIGINT) AS active_users,
       s.cohort_size,
       ROUND(count(DISTINCT j.user_id) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM joined j JOIN sizes s USING (cohort_week)
GROUP BY 1, 2, s.cohort_size
""",
    tags=("ext-analytics",),
    bench=False,
)
def retention_cohorts(spark, sf_dir):
    """Classic cohort retention matrix: users grouped by first-activity
    week, fraction still active N weeks later. Two hash aggregates
    (first-seen per user, distinct user-weeks) + one equi-join on
    user_id — cohort_size broadcasts back over the matrix. Week buckets
    via the same 7-day tumbling window on both engines (epoch-aligned
    boundaries, so time_bucket and window() agree)."""
    ev = _t(spark, sf_dir, "events")
    week = F.window(F.col("ts"), "7 days").start
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("__first"))
    first_seen = first_seen.select(
        "user_id", F.window(F.col("__first"), "7 days").start.alias("cohort_week")
    )
    activity = ev.select("user_id", week.alias("active_week")).distinct()
    joined = first_seen.join(activity, "user_id").select(
        "cohort_week",
        (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
        .cast("bigint")
        .alias("week_offset"),
        "user_id",
    )
    sizes = first_seen.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            F.round(F.col("active_users") / F.col("cohort_size").cast("double"), 6).alias(
                "retention"
            ),
        )
    )


@register(
    "event_transition_matrix",
    """
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
seq AS (SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM e),
cnt AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, sum(n) AS total FROM cnt GROUP BY 1)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
       ROUND(c.n / CAST(t.total AS DOUBLE), 6) AS p
FROM cnt c JOIN tot t USING (from_type)
""",
    tags=("ext-analytics",),
    bench=False,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (the path-analysis primitive behind Sankey funnels and
    next-action models): P(next event type | current), estimated from
    lead() pairs. One shuffle+sort per user for the sequence, one hash
    aggregate for the matrix; row totals broadcast back for the
    probabilities. Deterministic tie-break on (ts, event_id) keeps the
    pair stream identical across engines. (Cohort note: the weekly
    buckets in retention_cohorts pass an explicit 1970-01-01 origin to
    DuckDB's time_bucket — its default weekly origin is 2000-01-03,
    a Monday, while Spark's window() aligns to the epoch.)"""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cnt = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cnt.groupBy("from_type").agg(F.sum("n").alias("total"))
    return cnt.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias("p"),
    )


@register(
    "resample_locf_purchases",
    """
WITH p0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events
            WHERE event_type = 'purchase'),
p AS (SELECT user_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM p0) t WHERE rn = 1),
b AS (SELECT user_id, time_bucket(INTERVAL '6 hours', min(ts)) AS mn,
             time_bucket(INTERVAL '6 hours', max(ts)) AS mx FROM p GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '6 hours')) AS grid_ts FROM b)
SELECT g.user_id, g.grid_ts, p.value AS last_value, p.ts AS last_obs_ts
FROM g ASOF LEFT JOIN p ON g.user_id = p.user_id AND p.ts <= g.grid_ts
""",
    tags=("ext-temporal",),
    bench=False,
)
def resample_locf_purchases(spark, sf_dir):
    """Gap-filled regular time series from an irregular stream: each
    user's purchase `value` resampled onto a 6-hour grid with
    last-observation-carried-forward (operators/temporal.py:
    resample_locf — per-key bounds, scan-local sequence/explode grid,
    union-sort as-of). NULL before a user's first purchase (grid starts
    at the bucket floor). Oracle: DuckDB generate_series + ASOF LEFT
    JOIN over the identically tie-deduped observations; 6-hour
    time_bucket and Spark window() share epoch-divisible boundaries."""
    from flink_playground_spark.operators.temporal import resample_locf

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = resample_locf(
        purchases,
        ["user_id"],
        "ts",
        step="6 hours",
        value_cols=["value"],
        tiebreakers=("event_id",),
    )
    return out.select(
        "user_id",
        "grid_ts",
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_obs_ts"),
    )


@register(
    "sessionize_dynamic_gap",
    """
WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                  CASE WHEN event_type IN ('purchase', 'signup') THEN 7200 ELSE 1800 END AS gap_s
           FROM events),
x AS (SELECT *, ts + gap_s * INTERVAL '1 second' AS win_end FROM e),
y AS (SELECT *, max(win_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM x)
SELECT event_id, user_id, event_type, ts,
       CAST(SUM(CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM y
""",
    tags=("T10", "ext-temporal"),
    bench=False,
)
def sessionize_dynamic_gap(spark, sf_dir):
    """Dynamic per-event session gaps (Flink's gap extractor /
    ``SessionWindowTimeGapExtractor``): purchases and signups hold a
    user's session open for 2 hours, clicks/views/errors for 30
    minutes. Sessions are the overlap components of the per-event
    windows [ts, ts+gap) — operators/windows.py: sessionize_dynamic
    (running-max-of-ends construction, one shuffle+sort per user; the
    oracle replays the identical interval-union in SQL window
    functions)."""
    from flink_playground_spark.operators.windows import sessionize_dynamic

    events = _t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type").isin("purchase", "signup"), 7200).otherwise(1800)
    out = sessionize_dynamic(
        events, ["user_id"], "ts", gap.cast("double"), tiebreakers=("event_id",)
    )
    return out.select("event_id", "user_id", "event_type", "ts", "session_id")


@register(
    "intradoc_chunk_dedup",
    """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), i -> {'p': i, 'term': t[i]})) AS u FROM toks),
pt AS (SELECT doc_id, u.p AS pos, u.term AS term FROM pos WHERE u.term <> ''),
ch AS (SELECT doc_id, pos, term,
              SUM(CASE WHEN md5(term) LIKE '0%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS chunk_id
       FROM pt),
fps AS (SELECT doc_id, chunk_id, md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_fp
        FROM ch GROUP BY 1, 2),
kept AS (SELECT doc_id, chunk_fp, min(chunk_id) AS chunk_id FROM fps GROUP BY 1, 2),
clean AS (SELECT ch.doc_id, string_agg(ch.term, ' ' ORDER BY ch.pos) AS cleaned_text,
                 CAST(count(DISTINCT ch.chunk_id) AS BIGINT) AS n_kept
          FROM ch JOIN kept ON ch.doc_id = kept.doc_id AND ch.chunk_id = kept.chunk_id
          GROUP BY 1),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM fps GROUP BY 1)
SELECT clean.doc_id, cleaned_text, tot.n_chunks, n_kept
FROM clean JOIN tot USING (doc_id)
""",
    tags=("ext-text", "ext-dedup"),
    bench=False,
)
def intradoc_chunk_dedup(spark, sf_dir):
    """Intra-document repetition removal (C4/Gopher 'repeated passage'
    cleaning, content-defined): drop later occurrences of chunks
    repeated INSIDE one document and rebuild the cleaned text in
    original order (functions/chunking.py: dedup_chunks_within_doc).
    Complements chunk_dedup, which finds passages shared ACROSS
    documents. On this synthetic corpus most docs have no internal
    repetition (n_kept == n_chunks; the oracle still verifies the full
    reconstruction byte-for-byte); the dropping branch is pinned by a
    crafted-passage golden in tests/test_sampling.py."""
    from flink_playground_spark.functions.chunking import dedup_chunks_within_doc

    docs = _t(spark, sf_dir, "documents")
    return dedup_chunks_within_doc(docs, "doc_id", "text")


def _pca_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import pca_project_ref

    return pca_project_ref(sf_dir)


@register_extra("embedding_pca", None, tags=("ext-sim",), py_oracle=_pca_py_oracle)
def embedding_pca(spark, sf_dir):
    """Distributed PCA by power iteration (functions/pca.py) — the
    'All-but-the-top' embedding preprocessing step at corpus scale:
    mean vector and each iteration round are ONE aggregate (64 exact-
    DECIMAL sums over a codegen'd per-row score chain — Σ x xᵀ v
    without materializing the covariance matrix); the driver holds only
    μ and v. Top-2 components via deflation, per-vector projections at
    6dp; bit-exact vs the Python oracle (reference.py pca_project_ref:
    same fold orders, 9dp iterate rounding, sign convention)."""
    from flink_playground_spark.functions.pca import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    return pca_project(emb, "vec_id", "embedding", dim=64, n_components=2, iters=8)


def _classifier_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import quality_classifier_ref

    return quality_classifier_ref(sf_dir)


@register_extra(
    "quality_classifier",
    None,
    tags=("ext-text",),
    py_oracle=_classifier_py_oracle,
)
def quality_classifier(spark, sf_dir):
    """Model-based quality filtering (the GPT-3/LLaMA 'train a
    classifier, keep what scores high' stage): logistic regression
    trained IN the engine — each gradient step is one map-side-combined
    aggregate, weights are bounded driver state (functions/classifier.py).
    Features are scan-local (chars, token count, distinct-token ratio),
    the demo label is lang='en'. Sigmoid rounds to 9dp before the
    DECIMAL(30,12) gradient sum, so the whole 8-round training run and
    the 6dp predictions are replicated bit-for-bit by the Python oracle
    (reference.py quality_classifier_ref)."""
    from flink_playground_spark.functions.classifier import (
        predict_logreg,
        train_logreg,
    )
    from flink_playground_spark.functions.lm import _tok_array

    docs = _t(spark, sf_dir, "documents")
    toks = _tok_array("text")
    feats = docs.select(
        "doc_id",
        (F.col("n_chars").cast("double") / 1000.0).alias("f_chars"),
        (F.size(toks).cast("double") / 100.0).alias("f_tokens"),
        F.when(
            F.size(toks) > 0,
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("f_ttr"),
        (F.col("lang") == "en").cast("int").alias("label"),
    ).persist()
    w = train_logreg(feats, ["f_chars", "f_tokens", "f_ttr"], "label", iters=8, lr=1.0)
    out = predict_logreg(feats, ["f_chars", "f_tokens", "f_ttr"], w).select(
        "doc_id", "prob", F.col("pred").cast("int").alias("pred")
    )
    return out


@register(
    "bigram_lm_score",
    """
WITH arr AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
             FROM documents),
bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       FROM arr, unnest(range(1, len(t))) AS r(i)),
c2 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(t) AS w FROM arr)),
lp AS (SELECT bg.doc_id,
              ROUND(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 6) AS lp
       FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM lp GROUP BY 1
""",
    tags=("ext-text",),
    bench=True,
)
def bigram_lm_score(spark, sf_dir):
    """Perplexity-style quality signal (the CCNet/Gopher 'score with a
    KenLM model, drop the tail' stage, self-trained): per-doc average
    log-probability under the corpus's own add-0.5-smoothed bigram
    model (functions/lm.py). The model IS two count DataFrames (train =
    two map-side-combined aggregates; score = two vocabulary-sized
    joins) — no model object, so it persists/merges like any state.
    Bigrams are built scan-locally by zipping the token array against
    its own tail; each ln rounds to 6dp before an exact-DECIMAL per-doc
    sum, making the double math oracle-portable."""
    from flink_playground_spark.functions.lm import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text")


def _bpe_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import bpe_token_stats_ref

    return bpe_token_stats_ref(sf_dir, n_merges=12, max_words=_BPE_MAX_WORDS)


# explicit driver-memory cap for the pipeline entry point (learn_bpe's
# contract: None = full-vocab collect, reserved for bounded unit tests).
# 50k is a no-op at every test SF (sf0.1 vocabulary ≈ 4k words) but
# bounds the collect on a noisy web-scale corpus; the Python reference
# applies the identical (-freq, word) top-N, so the gate stays bit-exact.
_BPE_MAX_WORDS = 50_000


@register_extra(
    # bench=False: 12 merge rounds are a DRIVER-LOOP latency cost (like
    # kmeans' Lloyd rounds) that is constant in SF — timing it at sf0.1
    # would measure job-scheduling overhead, not data-path speed
    "bpe_token_stats",
    None,
    tags=("ext-text",),
    bench=False,
    py_oracle=_bpe_py_oracle,
)
def bpe_token_stats(spark, sf_dir):
    """BPE tokenizer TRAINED on the corpus (Sennrich et al. 2016), then
    the learned vocabulary's corpus-wide subword frequency table — the
    real version of text_analysis' 'BPE-ish' regex count. The corpus is
    scanned exactly once (word frequencies); the 12 merge rounds and the
    encoding run on the DISTINCT-WORD table (vocabulary ≪ corpus — the
    layout that keeps BPE training affordable at 100 TB), and the merge
    learner's driver collect is capped at the top ``_BPE_MAX_WORDS``
    words (a no-op at test SFs, the OOM guard at web scale). Integer-only
    and deterministically tie-broken, so the bit-exact Python oracle
    (reference.py bpe_token_stats_ref, same cap) does a full value
    check."""
    from flink_playground_spark.functions.bpe import bpe_token_counts, learn_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe(docs, "doc_id", "text", n_merges=12, max_words=_BPE_MAX_WORDS)
    return bpe_token_counts(docs, "doc_id", "text", merges)


@register(
    "crossdoc_passage_dedup",
    """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), i -> {'p': i, 'term': t[i]})) AS u FROM toks),
pt AS (SELECT doc_id, u.p AS pos, u.term AS term FROM pos WHERE u.term <> ''),
ch AS (SELECT doc_id, pos, term,
              SUM(CASE WHEN md5(term) LIKE '0%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS chunk_id
       FROM pt),
fps AS (SELECT doc_id, chunk_id, md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_fp
        FROM ch GROUP BY 1, 2),
kept AS (SELECT doc_id, chunk_id FROM (
           SELECT doc_id, chunk_id,
                  row_number() OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_id) AS rn
           FROM fps) WHERE rn = 1),
clean AS (SELECT ch.doc_id, string_agg(ch.term, ' ' ORDER BY ch.pos) AS cleaned_text,
                 CAST(count(DISTINCT ch.chunk_id) AS BIGINT) AS n_kept
          FROM ch JOIN kept ON ch.doc_id = kept.doc_id AND ch.chunk_id = kept.chunk_id
          GROUP BY 1),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM fps GROUP BY 1)
SELECT tot.doc_id, coalesce(cleaned_text, '') AS cleaned_text, tot.n_chunks,
       coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM tot LEFT JOIN clean ON tot.doc_id = clean.doc_id
""",
    tags=("ext-text", "ext-dedup"),
    bench=False,
)
def crossdoc_passage_dedup(spark, sf_dir):
    """Corpus-wide passage dedup rewrite (C4's span-level global dedup,
    content-defined): each distinct chunk survives exactly once — at its
    global first occurrence by (doc_id, chunk position) — and every
    document's text is rebuilt from its surviving chunks
    (functions/chunking.py: dedup_chunks_global). The only corpus-wide
    shuffle is a per-fingerprint MIN (one state row per DISTINCT
    passage, map-side combined), so an m-document boilerplate class
    costs one merged row, never m² candidates. Fully-emptied documents
    survive with cleaned_text='' — the operator rewrites, it does not
    filter. Cross-doc drop branch pinned by a crafted golden in
    tests/test_sampling.py."""
    from flink_playground_spark.functions.chunking import dedup_chunks_global

    docs = _t(spark, sf_dir, "documents")
    return dedup_chunks_global(docs, "doc_id", "text")


_EXACT_SUBSTRING_SQL = """
WITH t AS (SELECT doc_id, text FROM documents),
pos AS (
  SELECT doc_id, i AS s, substr(text, i, 40) AS g
  FROM t, LATERAL unnest(generate_series(1, length(text) - 40 + 1)) AS u(i)
  WHERE length(text) >= 40),
ranked AS (
  SELECT doc_id, s, row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn
  FROM pos),
marks AS (SELECT doc_id, s, s + 40 AS e FROM ranked WHERE rn > 1),
m2 AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nw
  FROM marks),
seg AS (SELECT doc_id, s, e,
               SUM(nw) OVER (PARTITION BY doc_id ORDER BY s, e) AS sid
        FROM m2),
spans AS (SELECT doc_id, MIN(s) AS ss, MAX(e) AS se FROM seg GROUP BY doc_id, sid),
kept AS (
  SELECT doc_id, COALESCE(LAG(se) OVER (PARTITION BY doc_id ORDER BY ss), 1) AS ks,
         ss AS ke
  FROM spans
  UNION ALL
  SELECT sp.doc_id, MAX(sp.se) AS ks, ANY_VALUE(length(t.text)) + 1 AS ke
  FROM spans sp JOIN t USING (doc_id) GROUP BY sp.doc_id),
rebuilt AS (
  SELECT kept.doc_id,
         string_agg(substr(t.text, ks, ke - ks), '' ORDER BY ks) AS clean
  FROM kept JOIN t USING (doc_id) GROUP BY kept.doc_id)
SELECT d.doc_id, COALESCE(r.clean, d.text) AS text,
       CAST(length(d.text) - length(COALESCE(r.clean, d.text)) AS BIGINT) AS removed_chars
FROM t d LEFT JOIN rebuilt r USING (doc_id)
"""


@register(
    "exact_substring_dedup",
    _EXACT_SUBSTRING_SQL,
    tags=("ext-text", "ext-dedup"),
    bench=True,
)
def exact_substring_dedup(spark, sf_dir):
    """Exact-substring dedup, suffix-array-family semantics (Lee et al.
    2021): every 40+-char substring that occurred earlier in the corpus
    — lexicographically earlier (doc_id, position), any document — is
    excised; overlapping duplicated windows merge into maximal spans and
    the text is rebuilt byte-exactly from the kept pieces
    (functions/dedupe.py exact_substring_spans/_dedup). This catches
    what the content-defined chunk machinery cannot: an offset-shifted
    copy inside otherwise novel text never lands on CDC boundaries
    (golden in tests/test_chunkdedup.py). One corpus-bytes shuffle
    (per-gram first occurrence = map-side-combinable MIN struct), one
    per-doc window pass for span merge, one JVM fold for the rewrite —
    no Python, no second corpus exchange."""
    from flink_playground_spark.functions.dedupe import exact_substring_dedup as _esd

    docs = _t(spark, sf_dir, "documents")
    return _esd(docs, "doc_id", "text", min_len=40)


@register_extra(
    "streaming_substring_dedup",
    _EXACT_SUBSTRING_SQL,
    tags=("ext-dedup", "ext-text", "T5"),
    # bench=False: this query is the stream==batch parity GATE — the
    # batch operator right above is the benched serving shape; the
    # ledger's per-wave cost profile lives in PERF.md (round 10: ingest
    # is append-only, so per-wave write IO ∝ wave grams).
    bench=False,
)
def streaming_substring_dedup(spark, sf_dir):
    """Ingestion-time exact-substring dedup
    (streaming/substring_dedup.py): document waves fold their L-gram
    HASH stats (xxhash64 keys, ≤ ~24 B per distinct gram) into an
    append-only delta ledger (MIN/SUM — order-free merges, so
    out-of-order waves land on the same stats the batch pass computes;
    per-wave write IO ∝ wave grams, prior state never rewritten), then
    the corpus is rewritten against the drained ledger: hash counts
    prune to candidate positions, and a residual RAW-gram phase settles
    firsts exactly (collisions only widen the candidate set — pinned by
    a planted-total-collision test). Oracle = the BATCH exact-substring
    SQL: the drained stream must reproduce the batch rewrite
    character for character."""
    import tempfile

    from flink_playground_spark.streaming.substring_dedup import (
        StreamingSubstringLedger,
    )

    docs = _t(spark, sf_dir, "documents")
    led = StreamingSubstringLedger(tempfile.mkdtemp(prefix="fps_ssd_"))
    for w in range(3):
        led.ingest(docs.filter(F.col("doc_id") % 3 == w))
    return led.rewrite(docs)


def _doc_centrality_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import doc_centrality_ref

    return doc_centrality_ref(sf_dir)


@register_extra(
    "doc_centrality",
    None,
    tags=("ext-dedup", "ext-graph"),
    py_oracle=_doc_centrality_py_oracle,
    bench=False,
)
def doc_centrality(spark, sf_dir):
    """Similarity-graph centrality for keep-BEST canonical selection:
    real dedup pipelines keep the most representative member of a
    near-dup cluster, not the minimum id — centrality in the similarity
    graph is that signal. Edges are the exact n-gram Jaccard pairs at
    t=0.5; ranks come from deterministic FIXED-POINT PageRank
    (operators/graph.py: integer micro-units, `div`-only arithmetic —
    aggregation-order-free, so the pure-Python reference matches to the
    last unit; float PageRank could never be value-gated). Same
    loop/checkpoint machinery as connected components: one join + one
    map-side-combined aggregate per round. No SQL oracle: DuckDB's
    recursive CTEs accumulate rows and cannot express iterative rank
    replacement; the py-reference replays the identical pair filter and
    integer math instead (OK-PYREF full value check)."""
    from flink_playground_spark.functions.dedupe import ngram_jaccard_pairs
    from flink_playground_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    return pagerank(pairs, "id_a", "id_b").select(F.col("node").alias("doc_id"), "rank")


_QUALITY_SIGNALS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks, text FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               count(*) AS n_types, max(tf) AS maxtf
        FROM tf GROUP BY 1),
bg AS (SELECT doc_id, count(*) AS nbig, count(DISTINCT big) AS dbig
       FROM (SELECT doc_id,
                    unnest(list_transform(range(1, greatest(len(toks), 1)),
                                          i -> toks[i] || ' ' || toks[i + 1])) AS big
             FROM t)
       GROUP BY 1)
SELECT t.doc_id,
       COALESCE(agg.n_tokens, 0) AS n_tokens,
       COALESCE(ROUND(agg.n_types / agg.n_tokens, 6), 0.0) AS ttr,
       COALESCE(ROUND(agg.maxtf / agg.n_tokens, 6), 0.0) AS top_tok_frac,
       COALESCE(ROUND(1 - dbig / nbig, 6), 0.0) AS dup_bigram_frac,
       CAST(len(regexp_extract_all(t.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t.text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS BIGINT) AS n_ips,
       regexp_replace(t.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS redacted
FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN bg USING (doc_id)
"""


@register("quality_signals", _QUALITY_SIGNALS_SQL, tags=("ext-text",), bench=True)
def quality_signals(spark, sf_dir):
    """Gopher-family repetition/diversity signals (type-token ratio,
    top-token fraction, duplicate-bigram fraction — Rae et al. 2021 App.
    A1.1) joined with PII scan counts and email redaction. Repetition
    needs per-doc term frequencies: one explode + two map-side-combined
    hash aggs keyed by doc (functions/quality.py); PII columns are pure
    scan-stage regexes (lookaround-free, so Spark's Java regex and the
    oracle's RE2 accept identical patterns). The synthetic corpus holds
    no PII, so counts are zero and redaction is the identity here —
    crafted-fixture goldens in tests/test_quality.py pin the non-trivial
    redaction behavior."""
    from flink_playground_spark.functions.quality import pii_redact, repetition_signals
    from flink_playground_spark.functions.similarity import _spread

    # _spread: the PII regexes and the explode fan-out are scan-stage
    # work, and one local parquet split = one task running all of it
    # serially — a no-op at real scale (round 13)
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    rep = repetition_signals(docs, "doc_id", "text")
    pii = pii_redact(docs, "text").select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_ips").cast("bigint").alias("n_ips"),
        "redacted",
    )
    return docs.select("doc_id").join(rep, "doc_id", "left").join(pii, "doc_id", "left")


_SEMANTIC_CLUSTERS_SQL = (
    "WITH RECURSIVE pairs AS (" + _EMB_NEARDUP_SQL + "),\n"
    + """
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node),
cc AS (SELECT node AS vec_id, min(comp) AS cluster_id FROM walk GROUP BY node),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.vec_id AS doc_id, cc.cluster_id, sz.cluster_size,
       cc.vec_id = cc.cluster_id AS is_canonical
FROM cc JOIN sz USING (cluster_id)
"""
)


@register_extra("semantic_dedup_clusters", _SEMANTIC_CLUSTERS_SQL, tags=("ext-dedup", "ext-sim"))
def semantic_dedup_clusters(spark, sf_dir):
    """SemDeDup-style semantic deduplication, end to end: embedding-
    cosine near-dup pairs (the exact baseline; the LSH bucket join is
    the documented scale path for the pair stage) -> connected
    components -> one canonical vector per semantic cluster. Same graph
    operator as dedup_clusters; the oracle recomputes components with a
    recursive CTE over the exact cosine pair set."""
    from flink_playground_spark.operators.graph import duplicate_clusters

    pairs = embedding_neardup(spark, sf_dir)
    return duplicate_clusters(pairs, "id_a", "id_b")


_SCD2_PIT_SQL = """
WITH src AS (
  SELECT user_id, ts, state FROM (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS state,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type IN ('signup', 'purchase')) t WHERE rn = 1),
chg AS (
  SELECT user_id, ts, state FROM (
    SELECT user_id, ts, state,
           LAG(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM src) t WHERE prev IS NULL OR prev <> state),
scd AS (
  SELECT user_id, state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
  FROM chg),
c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click')
SELECT c.click_id, c.user_id, c.click_ts, s.state, s.valid_from, s.valid_to
FROM c LEFT JOIN scd s
  ON c.user_id = s.user_id AND c.click_ts >= s.valid_from
 AND (s.valid_to IS NULL OR c.click_ts < s.valid_to)
"""


@register("scd2_point_in_time", _SCD2_PIT_SQL, tags=("ext-temporal",), bench=True)
def scd2_point_in_time(spark, sf_dir):
    """SCD type-2 dimension build + point-in-time fact enrichment.

    signup/purchase events form a per-user lifecycle changelog; scd2_build
    collapses it into contiguous validity intervals (one Exchange — the
    tie-dedup, change-detection and close-out windows share one
    partitioning and sort). Clicks are then enriched with the lifecycle
    state current at click time. The oracle runs the textbook interval
    join (ts >= valid_from AND ts < valid_to); the engine lowers it to
    the single-shuffle as-of join, which is equivalent because SCD2
    intervals are contiguous and non-overlapping per key — the plan that
    survives 100 TB, where an interval theta-join does not
    (operators/scd.py)."""
    from flink_playground_spark.operators.scd import point_in_time_join, scd2_build

    events = _t(spark, sf_dir, "events")
    dim_src = events.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    scd = scd2_build(dim_src, ["user_id"], "ts", ["state"], tiebreaker="event_id")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    out = point_in_time_join(clicks, scd, [("user_id", "user_id")], "click_ts", how="left")
    return out.select("click_id", "user_id", "click_ts", "state", "valid_from", "valid_to")


_NEARDUP_CLEAN_SQL = (
    "WITH RECURSIVE pairs AS (" + _NGRAM_PAIRS_SQL.format(thr=0.8) + "),\n"
    + """
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node),
noncanon AS (
  SELECT node AS doc_id FROM (
    SELECT node, min(comp) AS comp FROM walk GROUP BY node) t
  WHERE node <> comp),
flagged AS (
  SELECT d.lang, len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS n_tokens,
         n.doc_id IS NOT NULL AS dropped
  FROM documents d LEFT JOIN noncanon n ON d.doc_id = n.doc_id)
SELECT lang,
       CAST(COUNT(*) FILTER (WHERE NOT dropped) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
       ROUND(SUM(CASE WHEN NOT dropped THEN n_tokens ELSE 0 END)
             / COUNT(*) FILTER (WHERE NOT dropped), 4) AS avg_tokens_kept
FROM flagged GROUP BY lang
"""
)


@register_extra("neardup_clean_pipeline", _NEARDUP_CLEAN_SQL, tags=("ext-dedup",), bench=False)
def neardup_clean_pipeline(spark, sf_dir):
    """Near-duplicate-aware corpus cleaning, end to end: MinHash+LSH
    banding finds candidate pairs (verified exactly at t=0.8), connected
    components turns pairs into duplicate clusters, every non-canonical
    member is dropped (min doc_id survives — the deterministic keep-one
    rule), and the cleaned corpus is summarized per language. This is
    corpus_clean_pipeline's big sibling: exact dedup collapses byte-
    identical copies; this one removes near-identical rewrites too — the
    standard pretraining-data recipe (MinHash banding -> clusters ->
    survivor). Every stage is banded/bucketed, no all-pairs; CC runs on
    class representatives only (minhash_dup_clusters); the oracle
    recomputes the drop set with exact Jaccard + a recursive CTE."""
    from flink_playground_spark.functions.dedupe import minhash_dup_clusters
    from flink_playground_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    drop = minhash_dup_clusters(
        docs, "doc_id", "text", k=128, bands=32, threshold=0.8
    ).filter(~F.col("is_canonical")).select("doc_id")
    flagged = docs.join(
        drop.withColumn("dropped", F.lit(True)), "doc_id", "left"
    ).select(
        "lang",
        F.size(tokens("text")).alias("n_tokens"),
        F.coalesce(F.col("dropped"), F.lit(False)).alias("dropped"),
    )
    return flagged.groupBy("lang").agg(
        F.count(F.when(~F.col("dropped"), 1)).cast("bigint").alias("n_kept"),
        F.count(F.when(F.col("dropped"), 1)).cast("bigint").alias("n_dropped"),
        F.round(
            F.sum(F.when(~F.col("dropped"), F.col("n_tokens")).otherwise(0)).cast("double")
            / F.count(F.when(~F.col("dropped"), 1)),
            4,
        ).alias("avg_tokens_kept"),
    )


_BM25_TERMS = ("vector", "hash", "stream")

_BM25_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tk WHERE term IN ('vector', 'hash', 'stream') GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
contrib AS (
  SELECT t.doc_id, t.term,
         ((g.n - d.df + 0.5) / (d.df + 0.5))
         * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * ((l.dl * g.n) / g.sum_dl)))) AS c
  FROM tfq t JOIN dft d USING (term) JOIN dl l USING (doc_id) CROSS JOIN g),
s AS (
  SELECT doc_id,
         ROUND(COALESCE(any_value(c) FILTER (WHERE term = 'vector'), 0.0)
               + COALESCE(any_value(c) FILTER (WHERE term = 'hash'), 0.0)
               + COALESCE(any_value(c) FILTER (WHERE term = 'stream'), 0.0), 6) AS score
  FROM contrib GROUP BY doc_id)
SELECT doc_id, score, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM s ORDER BY score DESC, doc_id LIMIT 10
"""


@register("bm25_search", _BM25_SQL, tags=("ext-text",), bench=True)
def bm25_search(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed bag-of-terms
    query over the documents table, rational-idf variant (log-free for
    cross-engine bit-equality — functions/tfidf.py module docstring).
    Per-term contributions are summed in fixed query order via
    single-match conditional aggregates, never a group sum whose float
    addition order would be nondeterministic; the oracle mirrors the
    identical fixed-order addition. Two corpus shuffles total (dl, then
    query-term tf); df and the (N, sum_dl) scalars broadcast; top-k is
    the two-level salted rank."""
    from flink_playground_spark.functions.tfidf import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", list(_BM25_TERMS), k=10)


_LEAKAGE_SPLIT_SQL = (
    "WITH RECURSIVE pairs AS (" + _NGRAM_PAIRS_SQL.format(thr=0.8) + "),\n"
    + """
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node),
cc AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node),
grouped AS (
  SELECT d.doc_id, d.lang, COALESCE(c.cluster_id, d.doc_id) AS group_key
  FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id),
assigned AS (
  SELECT doc_id, lang, group_key,
         CASE WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7','8','9','a','b')
              THEN 'train' ELSE 'test' END AS split
  FROM grouped)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT group_key) AS BIGINT) AS n_groups
FROM assigned GROUP BY split, lang
"""
)


@register("leakage_safe_split", _LEAKAGE_SPLIT_SQL, tags=("ext-dedup", "ext-sampling"), bench=False)
def leakage_safe_split(spark, sf_dir):
    """Group-aware train/test split: near-duplicate CLUSTERS, not
    documents, are the unit of assignment, so two near-identical
    rewrites can never land on opposite sides of the split (the classic
    eval-contamination bug a doc-keyed split cannot prevent). MinHash
    pairs -> connected components -> group key = cluster id (or own
    doc_id for singletons) -> deterministic md5 75/25 assignment on the
    GROUP key -> per-(split, lang) counts. Same md5 convention as
    corpus_clean_pipeline, so both engines assign identically; the
    oracle recomputes clusters from exact Jaccard with a recursive
    CTE. CC runs on class representatives only (minhash_dup_clusters)."""
    from flink_playground_spark.functions.dedupe import minhash_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    cc = minhash_dup_clusters(
        docs, "doc_id", "text", k=128, bands=32, threshold=0.8
    ).select("doc_id", "cluster_id")
    grouped = docs.join(cc, "doc_id", "left").select(
        "doc_id", "lang", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_key")
    )
    assigned = grouped.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("group_key").cast("string")), 1, 1).isin(*"0123456789ab"),
            "train",
        ).otherwise("test"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("group_key").cast("bigint").alias("n_groups"),
    )


_DECONTAM_SQL = """
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
sh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
       FROM t),
tr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 37 <> 0),
ev AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 37 = 0)
SELECT tr.doc_id, CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_overlap
FROM tr JOIN ev USING (shingle) GROUP BY 1
"""


@register("decontaminate_overlap", _DECONTAM_SQL, tags=("ext-dedup", "ext-text"), bench=True)
def decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 37 != 0)
    sharing any word 3-gram with the held-out eval slice (doc_id % 37 ==
    0), with distinct-overlap counts — the contamination scan run before
    any pretraining eval is trusted. Hashed-shingle inverted index on
    the train side, distinct eval shingles broadcast into the overlap
    join (functions/dedupe.py: contamination_overlap)."""
    from flink_playground_spark.functions.dedupe import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    return contamination_overlap(
        docs.filter(F.col("doc_id") % 37 != 0),
        docs.filter(F.col("doc_id") % 37 == 0),
        "doc_id",
        "text",
        n=3,
    )


_VARIANT_SHRED_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS n_distinct_k,
       CAST(MIN(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS min_k,
       CAST(MAX(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


@register("variant_json_shred", _VARIANT_SHRED_SQL, tags=("ext-json",), bench=False)
def variant_json_shred(spark, sf_dir):
    """Semi-structured shredding on Spark 4's VARIANT type: ``parse_json``
    parses each props payload ONCE into the binary variant encoding and
    the typed ``variant_get`` extractions read that — v. the older
    ``get_json_object`` path (json_props_agg), which re-parses the JSON
    string per extraction expression. Same declarative aggregate
    otherwise; at 100 TB the single-parse representation is the
    difference between one and k string parses per row for k extracted
    fields."""
    events = _t(spark, sf_dir, "events")
    v = events.withColumn("v", F.parse_json("props"))
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct(k).cast("bigint").alias("n_distinct_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_REPORT_CARD_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, text,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
         md5(text) AS fp
  FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(quantile_cont(n_tokens, 0.5) AS DOUBLE) AS p50_tokens,
       CAST(quantile_cont(n_tokens, 0.95) AS DOUBLE) AS p95_tokens,
       ROUND(1.0 - COUNT(DISTINCT fp) / COUNT(*), 6) AS exact_dup_rate
FROM t GROUP BY lang
"""


@register("corpus_report_card", _REPORT_CARD_SQL, tags=("ext-text", "ext-dedup"), bench=False)
def corpus_report_card(spark, sf_dir):
    """The corpus health summary a data team reads before training: per
    language, document and token volumes, exact interpolated token-count
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    bit-exact), and the exact-duplicate rate from md5 fingerprints. One
    scan, one (lang)-keyed shuffle; the distinct-fingerprint count
    expands to the standard two-phase distinct aggregate."""
    docs = _t(spark, sf_dir, "documents")
    from flink_playground_spark.functions.text import tokens

    t = docs.select(
        "lang",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
        F.expr("percentile(n_tokens, 0.95)").alias("p95_tokens"),
        F.round(
            F.lit(1.0) - F.count_distinct("fp").cast("double") / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


@register("grouping_sets_pricing", _GROUPING_SETS_SQL, tags=("G1",), bench=False)
def grouping_sets_pricing(spark, sf_dir):
    """Arbitrary GROUPING SETS — the general form of which rollup/cube
    (rollup_cube_pricing) are the two fixed lattices: here the flag×status
    cells, the status margins, and the grand total, WITHOUT the flag-only
    margin a cube would add. One pass: Spark expands the sets into an
    Expand node feeding a single hash aggregate, the same shape the
    oracle engine plans. Exact decimal sums, doubles only at the edge."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


_MIXING_SQL = """
WITH quotas(lang, k) AS (VALUES ('en', 100), ('zh', 60), ('de', 30), ('fr', 10)),
ranked AS (
  SELECT d.doc_id, d.lang,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS sample_rank
  FROM documents d JOIN quotas q ON d.lang = q.lang),
cut AS (
  SELECT r.doc_id, r.lang, CAST(r.sample_rank AS BIGINT) AS sample_rank
  FROM ranked r JOIN quotas q ON r.lang = q.lang
  WHERE r.sample_rank <= q.k)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(SUM(doc_id) AS BIGINT) AS sum_doc
FROM cut GROUP BY lang
"""


@register_extra("domain_mixing_sample", _MIXING_SQL, tags=("ext-sampling",), bench=False)
def domain_mixing_sample(spark, sf_dir):
    """Data-mixing composition: sample the corpus to target per-language
    proportions (en 50%, zh 30%, de 15%, fr 5% of a 200-doc budget;
    es excluded) with the deterministic md5-rank machinery — quotas as a
    broadcast table cutting a single two-level stratified rank. zh's
    target (60) exceeds what exists at this SF only at smaller scales;
    under-runs surface in the counts rather than being silently
    rebalanced. Summarized per language so the oracle comparison is
    stable (doc-level membership is itself deterministic and pinned by
    the sampling tests)."""
    from flink_playground_spark.functions.sampling import mixing_sample

    docs = _t(spark, sf_dir, "documents")
    sample = mixing_sample(
        docs, "lang", "doc_id",
        {"en": 0.50, "zh": 0.30, "de": 0.15, "fr": 0.05},
        total_n=200,
    )
    return sample.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.sum("doc_id").cast("bigint").alias("sum_doc"),
    )


_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents),
p AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t)
SELECT doc_id, n_tokens,
       CAST(FLOOR(start / 2048) AS BIGINT) AS bin_id,
       CAST(start % 2048 AS BIGINT) AS offset_in_bin
FROM p
"""


@register_extra("sequence_packing", _PACKING_SQL, tags=("ext-sampling", "ext-text"), bench=False)
def sequence_packing(spark, sf_dir):
    """Contiguous sequence packing at a 2048-token budget: every document
    gets its bin and intra-bin offset from one running token cumsum —
    the corpus-to-context-window batch construction step
    (functions/chunking.py: pack_sequences). Greedy contiguous fill: a
    straddling document stays in the bin it started in."""
    from flink_playground_spark.functions.chunking import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=2048)


_GOPHER_FILTER_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               count(*) AS n_types, max(tf) AS maxtf
        FROM tf GROUP BY 1),
sig AS (
  SELECT t.doc_id, t.lang,
         COALESCE(agg.n_tokens, 0) AS n_tokens,
         COALESCE(ROUND(agg.n_types / agg.n_tokens, 6), 0.0) AS ttr,
         COALESCE(ROUND(agg.maxtf / agg.n_tokens, 6), 0.0) AS top_tok_frac
  FROM t LEFT JOIN agg USING (doc_id)),
flagged AS (
  SELECT lang,
         (n_tokens BETWEEN 50 AND 1000)
         AND ttr >= 0.2 AND top_tok_frac <= 0.2 AS kept
  FROM sig)
SELECT lang,
       CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
FROM flagged GROUP BY lang
"""


@register("gopher_quality_filter", _GOPHER_FILTER_SQL, tags=("ext-text",), bench=False)
def gopher_quality_filter(spark, sf_dir):
    """The quality SIGNALS applied as a GATE: Gopher-style keep rules
    (length window 50..1000 tokens, type-token ratio >= 0.2, top-token
    share <= 0.2 — the repetition family of Rae et al. 2021 App. A1.1,
    thresholds adapted to the synthetic corpus) and per-language
    kept/dropped counts. Same two map-side-combined aggregations as
    quality_signals; the filter itself is free column arithmetic."""
    from flink_playground_spark.functions.quality import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    sig = docs.select("doc_id", "lang").join(
        repetition_signals(docs, "doc_id", "text"), "doc_id", "left"
    )
    kept = (
        F.col("n_tokens").between(50, 1000)
        & (F.col("ttr") >= 0.2)
        & (F.col("top_tok_frac") <= 0.2)
    )
    return sig.withColumn("kept", kept).groupBy("lang").agg(
        F.count(F.when(F.col("kept"), 1)).cast("bigint").alias("n_kept"),
        F.count(F.when(~F.col("kept"), 1)).cast("bigint").alias("n_dropped"),
    )


_ADAPTIVE_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               count(*) AS n_types FROM tf GROUP BY 1),
sig AS (
  SELECT t.doc_id, t.lang,
         COALESCE(ROUND(agg.n_types / agg.n_tokens, 6), 0.0) AS ttr
  FROM t LEFT JOIN agg USING (doc_id)),
r AS (SELECT lang, doc_id, ttr,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ttr, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM sig),
f AS (SELECT lang, ttr, rn > cnt // 4 AS kept FROM r)
SELECT lang,
       CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped,
       MIN(ttr) FILTER (WHERE kept) AS threshold_ttr
FROM f GROUP BY lang
"""


@register_extra(
    "adaptive_quality_filter", _ADAPTIVE_QUALITY_SQL, tags=("ext-text", "ext-sampling"), bench=False
)
def adaptive_quality_filter(spark, sf_dir):
    """ADAPTIVE quality gate: instead of one fixed threshold for every
    language (gopher_quality_filter), drop each language's worst
    quartile by type-token ratio — the per-domain calibration every
    mixed-language corpus needs, because an absolute TTR cut tuned on
    English over-filters ideographic languages. Rank-based (drop the
    floor(n/4) lowest by (ttr, doc_id)), so the cut is exact integer
    logic — no interpolated-percentile float edge between engines — and
    the effective per-language threshold is REPORTED (min kept ttr), not
    configured. Plan: the repetition_signals aggregations (two map-side
    combined aggs keyed by doc) + one lang-keyed rank window; at scale
    the window state per language is a counter, not a buffer."""
    from pyspark.sql import Window

    from flink_playground_spark.functions.quality import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    sig = docs.select("doc_id", "lang").join(
        repetition_signals(docs, "doc_id", "text").select(
            F.col("doc_id"), F.col("ttr")
        ),
        "doc_id",
        "left",
    )
    w = Window.partitionBy("lang").orderBy("ttr", "doc_id")
    cw = Window.partitionBy("lang")
    ranked = sig.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(cw)
    )
    f = ranked.withColumn("kept", F.col("rn") > F.floor(F.col("cnt") / 4))
    return f.groupBy("lang").agg(
        F.count(F.when(F.col("kept"), 1)).cast("bigint").alias("n_kept"),
        F.count(F.when(~F.col("kept"), 1)).cast("bigint").alias("n_dropped"),
        F.min(F.when(F.col("kept"), F.col("ttr"))).alias("threshold_ttr"),
    )


def _corpus_similarity_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import corpus_similarity_ref

    return corpus_similarity_ref(sf_dir)


@register_extra(
    "corpus_similarity",
    None,
    tags=("ext-dedup", "ext-text"),
    bench=False,
    py_oracle=_corpus_similarity_py_oracle,
)
def corpus_similarity(spark, sf_dir):
    """Corpus-to-corpus content overlap — the drift/contamination measure
    a data team runs BETWEEN corpora (is src7 a re-crawl of src3? how
    close is the eval domain to training?): for every source pair, the
    Jaccard similarity of their 3-gram shingle SETS, twice —

    - ``est_jaccard``: corpus-level MinHash (K=64 permutation mins per
      SOURCE — the whole corpus compresses to a 64-long signature, the
      pair comparison is signature-only). At 100 TB this is the only
      runnable form: per-source signatures are one map-side-combined
      aggregation, pairwise comparison never touches the data again.
    - ``exact_jaccard``: the exact set intersection/union via one
      shingle-keyed self-join — runnable here, the calibration check for
      the estimate (|est - exact| is bounded by ~1/sqrt(K)).

    Hash-seeded → Python reference oracle (corpus_similarity_ref)
    replicates signatures and exact sets bit-for-bit."""
    from flink_playground_spark.functions.dedupe import shingle_index

    K = 64
    docs = _t(spark, sf_dir, "documents")
    sh = (
        shingle_index(docs, "doc_id", "text", 3)
        .join(docs.select(F.col("doc_id").alias("doc"), "source"), "doc")
        .select("source", "shingle")
    )
    sigs = sh.groupBy("source").agg(
        *[F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"m{i}") for i in range(K)]
    )
    sig = sigs.select("source", F.array(*[f"m{i}" for i in range(K)]).alias("sig"))
    d = sh.distinct()
    card = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pairs = (
        card.alias("x")
        .join(F.broadcast(card.alias("y")), F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("src_a"),
            F.col("y.source").alias("src_b"),
            F.col("x.n_sh").alias("na"),
            F.col("y.n_sh").alias("nb"),
        )
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
    )
    est = (
        pairs.join(F.broadcast(sig.withColumnRenamed("source", "src_a").withColumnRenamed("sig", "sa")), "src_a")
        .join(F.broadcast(sig.withColumnRenamed("source", "src_b").withColumnRenamed("sig", "sb")), "src_b")
        .withColumn(
            "matches",
            F.aggregate(
                F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        )
    )
    return est.select(
        "src_a",
        "src_b",
        (F.col("matches") / F.lit(K)).alias("est_jaccard"),
        F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
        ).alias("exact_jaccard"),
    )


_PACKING_SHARDED_SQL = f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents),
p AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t)
SELECT source, doc_id, n_tokens,
       CAST(FLOOR(start / 2048) AS BIGINT) AS bin_id,
       CAST(start % 2048 AS BIGINT) AS offset_in_bin
FROM p
"""


@register_extra(
    "sequence_packing_sharded",
    _PACKING_SHARDED_SQL,
    tags=("ext-sampling", "ext-text"),
    bench=False,
)
def sequence_packing_sharded(spark, sf_dir):
    """Per-SHARD sequence packing — the scale path of sequence_packing:
    each source fills its own bin sequence via a partitioned window
    (parallel across shards, zero global coordination — the global
    variant's single-stream cumsum is the thing that cannot scale).
    Trainers consume shards independently, so per-shard bins are the
    shape a real 100 TB export writes (partitionBy(source, bin_id))."""
    from flink_playground_spark.functions.chunking import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=2048, shard_cols=["source"])


_PPM_ROUNDTRIP_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_imgs,
       CAST(SUM((n_chars % 16) + 1) AS BIGINT) AS sum_width,
       CAST(SUM((n_chars % 8) + 1) AS BIGINT) AS sum_height,
       CAST(SUM(3 * ((n_chars % 16) + 1) * ((n_chars % 8) + 1)) AS BIGINT) AS sum_pixel_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM documents GROUP BY source
"""


@register_extra(
    "multimodal_ppm_roundtrip",
    _PPM_ROUNDTRIP_SQL,
    tags=("ext-multimodal",),
    bench=False,
)
def multimodal_ppm_roundtrip(spark, sf_dir):
    """REAL image decode at corpus scale, oracle-checked: synthesize a
    valid binary-PPM per document (dims a pure function of n_chars,
    pixels from the text bytes — all inside Arrow batches), push the
    blobs through the REAL P6 decoder (header parse + pixel-length
    validation, functions/multimodal.py), and aggregate the decoded
    dims per source. The oracle recomputes the dims arithmetic straight
    from n_chars — if the decoder misread a header or mis-validated a
    payload anywhere in the corpus, the sums diverge. Blob synthesis and
    decode are two mapInPandas passes; everything after is columnar
    aggregation on the extracted metadata, never the blobs."""
    from flink_playground_spark.functions.multimodal import decode_metadata

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text", "n_chars")
    keep = ["doc_id", "source"]
    out_schema = "doc_id bigint, source string, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = []
            for text, n_chars in zip(pdf["text"], pdf["n_chars"]):
                w = int(n_chars) % 16 + 1
                h = int(n_chars) % 8 + 1
                need = 3 * w * h
                raw = text.encode("utf-8")
                px = (raw * (need // max(len(raw), 1) + 1))[:need]
                blobs.append(f"P6\n{w} {h}\n255\n".encode() + px)
            yield pdf[keep].assign(blob=blobs, media_format="image/ppm")

    blobs = docs.mapInPandas(synth, schema=out_schema)
    return decode_metadata(blobs).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum(3 * F.col("width") * F.col("height")).cast("bigint").alias("sum_pixel_bytes"),
        F.sum(F.when(F.col("valid"), 1).otherwise(0)).cast("bigint").alias("n_valid"),
    )


def _phash_neardup_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import phash_image_neardup_ref

    return phash_image_neardup_ref(sf_dir)


@register_extra(
    "phash_image_neardup",
    None,
    tags=("ext-multimodal", "ext-dedup"),
    bench=True,
    py_oracle=_phash_neardup_py_oracle,
)
def phash_image_neardup(spark, sf_dir):
    """Perceptual-hash IMAGE near-dup — the missing multimodal dedup
    modality (VERDICT r9 Next #5): synthesize a ground-truth image
    corpus (one P6 blob per document; each class of 3 docs renders the
    same 8x8 block pattern at 32x32/16x16/24x24, the third member with
    class%4 blocks flipped — multimodal.synth_block_image), aHash every
    blob with exact integer mean-pooling (multimodal.perceptual_hash),
    and find all pairs within Hamming 3 via the same 4x16 pigeonhole
    banding SimHash uses (dedupe.hamming_band_pairs). Catches resized
    copies (members 0/1 hash identically across resolutions) at their
    planted distances; value-checked bit-exactly against an independent
    pure-Python hash + brute-force pair scan.

    At scale: one Arrow mapInPandas pass over the blobs (no shuffle);
    banding moves only (id, 8-byte hash) rows — 100 TB of pixels never
    shuffles. The bucket-cap guard bounds any degenerate band bucket
    loudly, exactly as in simhash_pairs."""
    from flink_playground_spark.functions.dedupe import hamming_band_pairs
    from flink_playground_spark.functions.multimodal import (
        perceptual_hash,
        synth_block_image,
    )

    from flink_playground_spark.functions.similarity import _spread

    # _spread: one local parquet split = one task running ALL the
    # Python synth+hash work serially; a no-op at real scale
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_block_image(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="image/ppm")

    blobs = docs.mapInPandas(synth, schema=out_schema)
    # checkpoint the 8-byte-per-doc fingerprints: the band self-join +
    # overflow guard reference them 3x, and each static branch would
    # re-embed the spread+synth+hash lineage (7 exchanges -> 4)
    fp = perceptual_hash(blobs, kind="ahash").select(
        F.col("doc_id").alias("doc"), F.col("phash").alias("sh")
    ).filter(F.col("sh").isNotNull()).localCheckpoint(eager=True)
    return hamming_band_pairs(fp, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


@register_extra(
    "streaming_phash_neardup",
    None,
    tags=("ext-multimodal", "ext-dedup", "T6"),
    bench=False,
    py_oracle=_phash_neardup_py_oracle,
)
def streaming_phash_neardup(spark, sf_dir):
    """phash_image_neardup maintained INCREMENTALLY — the streaming
    variant the multimodal dedup family was missing (text already has
    streaming near-dup, decontamination and substring ledgers): the
    image corpus arrives in three deterministic waves, each wave is
    hashed (one Arrow pass), banded, joined against ONLY the band-state
    buckets it touches, and verified exactly; state and emitted pairs
    are append-only delta ledgers (per-wave write IO ∝ wave rows, replay
    skipped per batch). Every pair is emitted in the wave where its
    later member arrives, so the drained set equals the batch answer —
    value-checked against the SAME bit-exact Python reference as the
    batch query (streaming/phash_index.py)."""
    import tempfile

    from flink_playground_spark.functions.multimodal import (
        perceptual_hash,
        synth_block_image,
    )
    from flink_playground_spark.functions.similarity import _spread
    from flink_playground_spark.streaming.phash_index import StreamingPhashIndex

    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_block_image(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="image/ppm")

    index = StreamingPhashIndex(tempfile.mkdtemp(prefix="fps_phidx_"))
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    for w in range(3):
        wave = docs.filter(F.col("doc_id") % 3 == w).mapInPandas(synth, schema=out_schema)
        fp = perceptual_hash(wave, kind="ahash").select(
            F.col("doc_id").alias("doc"), F.col("phash").alias("sh")
        ).filter(F.col("sh").isNotNull())
        index.ingest(fp, batch_id=w)
    return index.pairs(spark)


def _audio_neardup_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import audio_fingerprint_neardup_ref

    return audio_fingerprint_neardup_ref(sf_dir)


@register_extra(
    "audio_fingerprint_neardup",
    None,
    tags=("ext-multimodal", "ext-dedup"),
    bench=True,
    py_oracle=_audio_neardup_py_oracle,
)
def audio_fingerprint_neardup(spark, sf_dir):
    """Audio near-dup — the WAV counterpart of phash_image_neardup:
    synthesize a ground-truth track corpus (one REAL RIFF/WAVE per
    document; each class of 3 renders the same 64-segment loudness
    envelope at three durations, the third member with class%4 segments
    flipped — multimodal.synth_envelope_wav), fingerprint every track
    with the energy-envelope hash over the real stdlib-wave decode
    (multimodal.audio_fingerprint), and find all pairs within Hamming 3
    via the shared 4x16 pigeonhole banding (dedupe.hamming_band_pairs).
    Catches resampled/re-encoded copies (members 0/1 fingerprint
    identically at different durations) at their planted distances;
    value-checked bit-exactly against an independent pure-Python decode
    + brute-force pair scan.

    At scale: identical profile to the image path — one Arrow
    mapInPandas pass over the audio blobs, banding moves only
    (id, 8-byte hash) rows, PCM bytes never shuffle."""
    from flink_playground_spark.functions.dedupe import hamming_band_pairs
    from flink_playground_spark.functions.multimodal import (
        audio_fingerprint,
        synth_envelope_wav,
    )

    from flink_playground_spark.functions.similarity import _spread

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_envelope_wav(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="audio/wav")

    blobs = docs.mapInPandas(synth, schema=out_schema)
    # checkpointed for the same 3x band-join fan-out as the image query
    fp = audio_fingerprint(blobs).select(
        F.col("doc_id").alias("doc"), F.col("afp").alias("sh")
    ).filter(F.col("sh").isNotNull()).localCheckpoint(eager=True)
    return hamming_band_pairs(fp, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


def _video_neardup_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import video_scene_neardup_ref

    return video_scene_neardup_ref(sf_dir)


@register_extra(
    "video_scene_neardup",
    None,
    tags=("ext-multimodal", "ext-dedup"),
    bench=True,
    py_oracle=_video_neardup_py_oracle,
)
def video_scene_neardup(spark, sf_dir):
    """Video near-dup — the third multimodal dedup modality: sample
    every 2nd frame of each synthesized track (multimodal.frame_sample
    plumbing over raw 8x8 RGB frames; multimodal.synth_scene_video
    plants re-timed copies — the same 16 scenes held for 2/4/3 frames —
    plus one member with a single scene swapped, Jaccard 15/17),
    perceptual-hash each sampled frame (multimodal.frame_phash), and
    compare videos by EXACT Jaccard over their distinct frame-hash sets
    through the same PPJoin prefix-filter + verify kernel the n-gram
    text path uses (dedupe.prefix_filter_candidates + verify_pairs).
    Value-checked bit-exactly against an independent pure-Python frame
    hash + brute-force set scan.

    At scale: frames stream through one Arrow pass and collapse to
    (id, 8-byte hash) distinct rows before any shuffle — a 100 TB video
    corpus joins on ~16 longs per title, and the positional filter
    keeps candidate volume tracking true-pair density exactly as proven
    for text (SCALE_PROOF ngram probe)."""
    from flink_playground_spark.functions.dedupe import (
        prefix_filter_candidates,
        verify_pairs,
    )
    from flink_playground_spark.functions.multimodal import (
        frame_phash,
        synth_scene_video,
    )

    from flink_playground_spark.functions.similarity import _spread

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_scene_video(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="video/raw-rgb8")

    blobs = docs.mapInPandas(synth, schema=out_schema)
    fh = frame_phash(blobs, every_n=2).filter(F.col("fhash").isNotNull())
    grams = fh.select(F.col("doc_id").alias("doc"), F.col("fhash").alias("shingle")).distinct()
    counts = grams.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # localCheckpoint, not persist: the prefix+verify arm references the
    # index 3x, and persist does not truncate the analyzed plan — the
    # whole synth->frame_sample->hash lineage would re-embed per branch
    # (22 exchanges; the same fix as dedupe._lsh_rep_pairs, with the
    # same executor-loss tradeoff documented there)
    idx = grams.join(counts, "doc").select("doc", "n_sh", "shingle").localCheckpoint(eager=True)
    cand = prefix_filter_candidates(idx, threshold=0.8)
    return verify_pairs(idx, cand, threshold=0.8)


@register_extra(
    "streaming_audiohash_neardup",
    None,
    tags=("ext-multimodal", "ext-dedup", "T6"),
    bench=False,
    py_oracle=_audio_neardup_py_oracle,
)
def streaming_audiohash_neardup(spark, sf_dir):
    """audio_fingerprint_neardup maintained INCREMENTALLY — the audio
    member of the streaming multimodal dedup family (VERDICT r10 Next
    #2): tracks arrive in three deterministic waves, each wave is
    fingerprinted (one Arrow pass over the real WAV decode), banded,
    and joined against only the band-state buckets it touches. The
    index is the SAME StreamingPhashIndex the image path uses — it
    never sees media, only (doc, 64-bit fingerprint) rows, so one
    implementation serves every Hamming-fingerprint modality
    (StreamingHammingIndex is the honest alias). Drained == batch,
    value-checked against the same bit-exact Python reference as the
    batch audio query."""
    import tempfile

    from flink_playground_spark.functions.multimodal import (
        audio_fingerprint,
        synth_envelope_wav,
    )
    from flink_playground_spark.functions.similarity import _spread
    from flink_playground_spark.streaming.phash_index import StreamingHammingIndex

    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_envelope_wav(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="audio/wav")

    index = StreamingHammingIndex(tempfile.mkdtemp(prefix="fps_ahidx_"))
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    for w in range(3):
        wave = docs.filter(F.col("doc_id") % 3 == w).mapInPandas(synth, schema=out_schema)
        fp = audio_fingerprint(wave).select(
            F.col("doc_id").alias("doc"), F.col("afp").alias("sh")
        ).filter(F.col("sh").isNotNull())
        index.ingest(fp, batch_id=w)
    return index.pairs(spark)


@register_extra(
    "streaming_video_neardup",
    None,
    tags=("ext-multimodal", "ext-dedup", "T6"),
    bench=False,
    py_oracle=_video_neardup_py_oracle,
)
def streaming_video_neardup(spark, sf_dir):
    """video_scene_neardup maintained INCREMENTALLY — the last modality
    the streaming dedup family was missing (VERDICT r10 Next #2): video
    waves are frame-sampled + perceptual-hashed in one fused Arrow pass
    (multimodal.frame_phash), collapse to distinct frame-hash sets, and
    fold into a StreamingFrameSetIndex — per-doc frame-hash-set state
    with prefix-filtered candidates in a streaming-stable value order
    and exact incremental set-Jaccard against only the touched state
    rows (streaming/frameset_index.py). The wave split puts re-timed
    copies of each title in DIFFERENT waves, so every planted pair
    crosses state. Drained == batch, value-checked against the same
    bit-exact Python reference as the batch video query."""
    import tempfile

    from flink_playground_spark.functions.multimodal import (
        frame_phash,
        synth_scene_video,
    )
    from flink_playground_spark.functions.similarity import _spread
    from flink_playground_spark.streaming.frameset_index import StreamingFrameSetIndex

    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_scene_video(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="video/raw-rgb8")

    index = StreamingFrameSetIndex(tempfile.mkdtemp(prefix="fps_fsidx_"), threshold=0.8)
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    for w in range(3):
        wave = docs.filter(F.col("doc_id") % 3 == w).mapInPandas(synth, schema=out_schema)
        fh = frame_phash(wave, every_n=2).filter(F.col("fhash").isNotNull())
        grams = fh.select(
            F.col("doc_id").alias("doc"), F.col("fhash").alias("shingle")
        ).distinct()
        index.ingest(grams, batch_id=w)
    return index.pairs(spark)


def _neardup_pipeline_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import (
        streaming_neardup_pipeline_ref,
    )

    return streaming_neardup_pipeline_ref(sf_dir)


@register_extra(
    "streaming_neardup_pipeline",
    None,
    tags=("ext-multimodal", "ext-dedup", "T6"),
    bench=False,
    py_oracle=_neardup_pipeline_py_oracle,
)
def streaming_neardup_pipeline(spark, sf_dir):
    """The END-TO-END incremental dedup composition (r11 verdict Next
    #1): raw doc waves → fingerprint index → this wave's new pairs →
    incremental duplicate clusters, fused in ONE per-wave fold
    (streaming/dedup_pipeline.py) — not the r11 shape that replayed
    batch-verified pairs in synthetic waves. Each wave is hashed (one
    Arrow pass), banded against only the touched band state, its
    verified pairs recovered from the pair ledger's since_batch tag,
    and folded into the cluster mapping, all inside what foreachBatch
    would run; the wave split (doc_id % 3) puts copies of each planted
    class in DIFFERENT waves so every pair AND every cluster merge
    crosses state. The drained mapping (+ size/canonical attach — two
    windows over the mapping, no joins) is value-checked bit-exactly
    against an independent brute-force-pairs + union-find Python
    reference (reference.py streaming_neardup_pipeline_ref)."""
    import tempfile

    from pyspark.sql import Window

    from flink_playground_spark.functions.multimodal import (
        perceptual_hash,
        synth_block_image,
    )
    from flink_playground_spark.functions.similarity import _spread
    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )
    from flink_playground_spark.streaming.phash_index import StreamingHammingIndex

    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_block_image(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="image/ppm")

    work = tempfile.mkdtemp(prefix="fps_pipe_")
    pipe = StreamingNearDupPipeline(work, StreamingHammingIndex(f"{work}/idx"))
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    for w in range(3):
        wave = docs.filter(F.col("doc_id") % 3 == w).mapInPandas(synth, schema=out_schema)
        fp = perceptual_hash(wave, kind="ahash").select(
            F.col("doc_id").alias("doc"), F.col("phash").alias("sh")
        ).filter(F.col("sh").isNotNull())
        pipe.ingest(fp, batch_id=w)
    return (
        pipe.mapping(spark)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


@register_extra(
    "streaming_text_neardup_pipeline",
    _DEDUP_CLUSTERS_SQL,
    tags=("ext-text", "ext-dedup", "T6"),
    bench=False,
)
def streaming_text_neardup_pipeline(spark, sf_dir):
    """The end-to-end incremental dedup composition for TEXT — raw doc
    waves → StreamingMinHashIndex (shingle/sign/band against touched
    state buckets only, exact shingle-Jaccard verification) →
    incremental clusters, fused per wave through the SAME
    StreamingNearDupPipeline fold as the image query
    (streaming/dedup_pipeline.py): the pipeline surface
    (ingest/committed/pairs_for_batch/forget) is a contract all three
    index families implement, not a per-modality special case. The
    wave split (doc_id % 3) puts near-dup classes across waves, so
    pairs and cluster merges cross state. Unlike the image pipeline's
    py-oracle, this one closes against the FULL recursive-CTE DuckDB
    oracle — the exact-n-gram-Jaccard pair set clustered by CC, the
    same SQL batch dedup_clusters is green against (the index verifies
    candidates exactly, so banding recall is the only approximation,
    identical to the batch operator's)."""
    import tempfile

    from pyspark.sql import Window

    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )
    from flink_playground_spark.streaming.minhash_index import StreamingMinHashIndex

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="fps_txtpipe_")
    pipe = StreamingNearDupPipeline(
        work, StreamingMinHashIndex(f"{work}/idx", k=128, bands=32, n=3, threshold=0.8)
    )
    for w in range(3):
        pipe.ingest(docs.filter(F.col("doc_id") % 3 == w), batch_id=w)
    return (
        pipe.mapping(spark)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


# The post-UPDATE corpus: docs with doc_id % 11 == 7 carry the text of
# doc_id - 1 (their content changed upstream); everything else its own.
# The oracle is the SAME recursive-CTE cluster SQL, evaluated over that
# corpus — updates are implementation, the drained answer is pure batch
# semantics. The replace targets the single `FROM documents` inside the
# pair CTE (asserted at import below).
_TEXT_UPDATE_CLUSTERS_SQL = _DEDUP_CLUSTERS_SQL.replace(
    "FROM documents",
    "FROM (SELECT d.doc_id, CASE WHEN d.doc_id % 11 = 7 AND s.text IS NOT NULL"
    " THEN s.text ELSE d.text END AS text"
    " FROM documents d LEFT JOIN documents s ON s.doc_id = d.doc_id - 1) documents",
)
assert _DEDUP_CLUSTERS_SQL.count("FROM documents") == 1


@register(
    "streaming_text_update_pipeline",
    _TEXT_UPDATE_CLUSTERS_SQL,
    tags=("ext-text", "ext-dedup", "T6", "W2"),
    bench=False,
)
def streaming_text_update_pipeline(spark, sf_dir):
    """The composed pipeline's UPDATE path (+U — r12 verdict Next #1),
    end to end with a FULL DuckDB oracle: three ingest waves build the
    text index + clusters exactly like streaming_text_neardup_pipeline,
    then ONE update wave replaces the content of every doc_id % 11 == 7
    with its predecessor's text (``StreamingNearDupPipeline.update`` —
    per-ledger atomic rewrites under one batch id: stale pairs
    retracted, new pairs emitted, clusters relabeled with raises and
    merges both possible). The drained mapping must equal the batch
    recursive-CTE cluster answer over the POST-update corpus — updated
    docs pair by their NEW content only, their old pairs are gone, and
    docs that joined or left classes are labeled as if the stream had
    always carried the final text. Reference intent: the PK-upsert /
    keep-latest changelog semantics of WithStateTtlJob.java:73-77 and
    WithDeduplicateJoinJob.java:88-104, applied to content-level
    near-dup state."""
    import tempfile

    from pyspark.sql import Window

    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )
    from flink_playground_spark.streaming.minhash_index import StreamingMinHashIndex

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="fps_updpipe_")
    pipe = StreamingNearDupPipeline(
        work, StreamingMinHashIndex(f"{work}/idx", k=128, bands=32, n=3, threshold=0.8)
    )
    for w in range(3):
        pipe.ingest(docs.filter(F.col("doc_id") % 3 == w), batch_id=w)
    src = docs.select(F.col("doc_id").alias("sid"), F.col("text").alias("stext"))
    upd = (
        docs.filter(F.col("doc_id") % 11 == 7)
        .join(src, F.col("sid") == F.col("doc_id") - 1, "left")
        .select("doc_id", F.coalesce("stext", "text").alias("text"))
    )
    pipe.update(upd, batch_id=3)
    return (
        pipe.mapping(spark)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def _update_pipeline_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import (
        streaming_update_pipeline_ref,
    )

    return streaming_update_pipeline_ref(sf_dir)


@register_extra(
    "streaming_update_pipeline",
    None,
    tags=("ext-multimodal", "ext-dedup", "T6", "W2"),
    bench=False,
    py_oracle=_update_pipeline_py_oracle,
)
def streaming_update_pipeline(spark, sf_dir):
    """The update path on the HAMMING modality — same wave plan as
    streaming_neardup_pipeline (images synthesized per wave, hashed in
    one Arrow pass, folded through the composed pipeline) plus ONE
    update wave: every doc_id % 11 == 7 now carries the IMAGE of
    doc_id - 1, re-hashed and folded via ``pipe.update`` (atomic
    excision + re-ingest + cluster relabel under one batch id). The
    drained mapping is value-checked bit-exactly against an independent
    brute-force + union-find Python reference over the POST-update
    corpus (reference.py streaming_update_pipeline_ref) — proving the
    update verb on a second index family, with the update's cluster
    raises/merges crossing committed state."""
    import tempfile

    from pyspark.sql import Window

    from flink_playground_spark.functions.multimodal import (
        perceptual_hash,
        synth_block_image,
    )
    from flink_playground_spark.functions.similarity import _spread
    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )
    from flink_playground_spark.streaming.phash_index import StreamingHammingIndex

    out_schema = "doc_id bigint, blob binary, media_format string"

    def synth(batches):
        for pdf in batches:
            blobs = [synth_block_image(int(d)) for d in pdf["doc_id"]]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="image/ppm")

    def synth_updated(batches):
        # the changed-content generator: doc_id % 11 == 7 renders its
        # predecessor's image (the content that changed upstream)
        for pdf in batches:
            blobs = [
                synth_block_image(int(d) - 1 if int(d) % 11 == 7 and int(d) >= 1 else int(d))
                for d in pdf["doc_id"]
            ]
            yield pdf[["doc_id"]].assign(blob=blobs, media_format="image/ppm")

    def hash_wave(wave):
        return (
            perceptual_hash(wave, kind="ahash")
            .select(F.col("doc_id").alias("doc"), F.col("phash").alias("sh"))
            .filter(F.col("sh").isNotNull())
        )

    work = tempfile.mkdtemp(prefix="fps_updimg_")
    pipe = StreamingNearDupPipeline(work, StreamingHammingIndex(f"{work}/idx"))
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    for w in range(3):
        wave = docs.filter(F.col("doc_id") % 3 == w).mapInPandas(synth, schema=out_schema)
        pipe.ingest(hash_wave(wave), batch_id=w)
    upd_wave = docs.filter(F.col("doc_id") % 11 == 7).mapInPandas(
        synth_updated, schema=out_schema
    )
    pipe.update(hash_wave(upd_wave), batch_id=3)
    return (
        pipe.mapping(spark)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def _emb_stream_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import embedding_neardup_lsh_ref

    return embedding_neardup_lsh_ref(sf_dir)


@register_extra(
    "streaming_embedding_neardup",
    None,
    tags=("ext-sim", "ext-dedup", "T6"),
    bench=False,
    py_oracle=_emb_stream_py_oracle,
)
def streaming_embedding_neardup(spark, sf_dir):
    """The EMBEDDING member of the streaming index family
    (streaming/cosine_index.py — the fifth modality on the shared
    pipeline surface): the embeddings table replayed in three
    deterministic waves through StreamingCosineLSHIndex, whose drained
    pair set must equal the batch embedding_neardup_lsh answer —
    value-checked bit-exactly against the same independent Python
    reference (xxh64 hyperplanes + sequential-fold cosine), proving
    incremental hyperplane-LSH over touched buckets only loses nothing
    vs the one-shot batch join. Reference intent: the stream/batch
    duality the reference's jobs exercise per operator (SURVEY §2),
    applied to vector near-dup."""
    import tempfile

    from flink_playground_spark.streaming.cosine_index import StreamingCosineLSHIndex

    v = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = StreamingCosineLSHIndex(tempfile.mkdtemp(prefix="fps_cosidx_"))
    for w in range(3):
        idx.ingest(v.filter(F.col("vec_id") % 3 == w), batch_id=w)
    return idx.pairs(spark)


def _emb_capped_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import (
        streaming_embedding_capped_ref,
    )

    return streaming_embedding_capped_ref(sf_dir)


@register_extra(
    "streaming_embedding_neardup_capped",
    None,
    tags=("ext-sim", "ext-dedup", "T6"),
    bench=False,
    py_oracle=_emb_capped_py_oracle,
)
def streaming_embedding_neardup_capped(spark, sf_dir):
    """The cosine index's DEGENERATE-DENSITY scale path: same three
    waves as streaming_embedding_neardup but with the bucket cap ARMED
    (max_bucket=48 — small enough that this corpus's dense label-
    cluster buckets cross it mid-stream at EVERY test SF, so the
    oracle exercises real crossings, not the cap-untouched regime). This is the config a 100 TB
    deployment runs when near-dup pair volume is super-linear in the
    corpus (10 fixed clusters here make TRUE sim>=0.4 pairs Θ(n²) —
    ~920 at 2k vecs, ~92k at 20k; NO implementation can emit them in
    sublinear time, so the uncapped operator is probed for correctness,
    and THIS one for scale): per-bucket work is bounded, crossings are
    loud and the swallowed volume quantified. Value-checked against an
    independent Python simulation of the documented cap contract
    (reference.py streaming_embedding_capped_ref) — the first
    ORACLE-grade pin of the cap semantics (the other families pin them
    in unit tests only): pairs emitted before a crossing survive, a
    bucket overflows exactly when stored ∪ wave occupancy first
    exceeds the cap, and excluded rows never pair."""
    import tempfile

    from flink_playground_spark.streaming.cosine_index import StreamingCosineLSHIndex

    v = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = StreamingCosineLSHIndex(
        tempfile.mkdtemp(prefix="fps_cosidxcap_"), max_bucket=48
    )
    for w in range(3):
        idx.ingest(v.filter(F.col("vec_id") % 3 == w), batch_id=w)
    return idx.pairs(spark)


def _emb_update_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import (
        streaming_embedding_update_ref,
    )

    return streaming_embedding_update_ref(sf_dir)


@register_extra(
    "streaming_embedding_update_pipeline",
    None,
    tags=("ext-sim", "ext-dedup", "T6", "W2"),
    bench=False,
    py_oracle=_emb_update_py_oracle,
)
def streaming_embedding_update_pipeline(spark, sf_dir):
    """The update path (+U) on the EMBEDDING modality, composed
    through StreamingNearDupPipeline: three ingest waves build the
    cosine index + clusters, then ONE update wave replaces every
    vec_id % 11 == 7 vector with its predecessor's embedding
    (``pipe.update`` — per-ledger atomic deletion-vector upserts under
    one batch id: stale pairs retracted, new pairs emitted, clusters
    relabeled with raises and merges both possible). The drained
    mapping is value-checked bit-exactly against an independent Python
    reference over the POST-update corpus (reference.py
    streaming_embedding_update_ref: the shared LSH pair core +
    union-find tail) — proving the update verb on a third index family
    whose verification payload is a stored VECTOR, not a fingerprint.
    Reference intent: WithStateTtlJob.java:73-77 PK upsert;
    WithDeduplicateJoinJob.java:88-104 keep-latest."""
    import tempfile

    from pyspark.sql import Window

    from flink_playground_spark.streaming.cosine_index import StreamingCosineLSHIndex
    from flink_playground_spark.streaming.dedup_pipeline import (
        StreamingNearDupPipeline,
    )

    v = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="fps_updemb_")
    pipe = StreamingNearDupPipeline(work, StreamingCosineLSHIndex(f"{work}/idx"))
    for w in range(3):
        pipe.ingest(v.filter(F.col("vec_id") % 3 == w), batch_id=w)
    src = v.select(F.col("vec_id").alias("sid"), F.col("embedding").alias("semb"))
    upd = (
        v.filter(F.col("vec_id") % 11 == 7)
        .join(src, F.col("sid") == F.col("vec_id") - 1, "left")
        .select("vec_id", F.coalesce("semb", "embedding").alias("embedding"))
    )
    pipe.update(upd, batch_id=3)
    return (
        pipe.mapping(spark)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def _streaming_corpus_sim_py_oracle(sf_dir):
    from flink_playground_spark.functions.reference import corpus_similarity_ref

    return corpus_similarity_ref(sf_dir).drop(columns=["exact_jaccard"])


@register_extra(
    "streaming_corpus_similarity",
    None,
    tags=("ext-dedup", "ext-text", "T6"),
    bench=False,
    py_oracle=_streaming_corpus_sim_py_oracle,
)
def streaming_corpus_similarity(spark, sf_dir):
    """corpus_similarity's estimate maintained INCREMENTALLY: documents
    replayed in three deterministic waves fold per-source MinHash
    signatures through transactional state (per-permutation MIN —
    associative, so the drained signatures are bit-identical to the
    batch construction; streaming/corpus_sig.py), then the pairwise
    matrix is computed from signatures alone. Value-checked against the
    same bit-exact Python reference as the batch query."""
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from flink_playground_spark.streaming.corpus_sig import StreamingCorpusSignature

    docs = _t(spark, sf_dir, "documents")
    sig = StreamingCorpusSignature(tempfile.mkdtemp(prefix="fps_csig_"), k=64)
    for w in range(3):
        sig.ingest(docs.filter(F.col("doc_id") % 3 == w), batch_id=w)
    return sig.similarity(spark).select("src_a", "src_b", "est_jaccard")


@register_extra(
    "streaming_window_topn",
    """
WITH w AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
         user_id, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       user_id, cnt, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY cnt DESC, user_id) AS rn
      FROM w) t
WHERE rn <= 3
""",
    tags=("T1", "A1", "T6"),
)
def streaming_window_topn(spark, sf_dir):
    """Flink SQL Window Top-N (window TVF + per-window ROW_NUMBER, the
    documented companion of WindowsProctimeAggJob.java:65-81's window
    aggregations) maintained INCREMENTALLY: events replayed in three
    deterministic waves fold per-(window, user) partial counts through
    transactional state (SUM is associative; the replay skip makes the
    fold exactly-once), then the top-3 users per hour window are ranked
    from state alone — rank is not distributive, so it is evaluated on
    the merged counts, never on per-wave partials
    (streaming/window_topn.py)."""
    import tempfile

    from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    op = StreamingWindowTopN(
        tempfile.mkdtemp(prefix="fps_wtopn_"), "user_id", "ts", "1 hour"
    )
    for w in range(3):
        op.ingest(ev.filter(F.col("event_id") % 3 == w), batch_id=w)
    return op.topn(spark, 3)


@register(
    "window_dedup_last_per_hour",
    """
SELECT window_start, user_id, event_id, ts, event_type FROM (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
         user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), user_id
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events) t WHERE rn = 1
""",
    tags=("T1", "W1"),
    bench=True,
)
def window_dedup_last_per_hour(spark, sf_dir):
    """Flink SQL's Window Deduplication (the window-TVF counterpart of
    the reference's keep-latest Deduplicate,
    WithDeduplicateJoinJob.java:92-94): each user's LAST event of every
    hour window — ROW_NUMBER = 1 per (window, key) with a deterministic
    tie-break. One shuffle on (window, key); InferWindowGroupLimit caps
    the per-group sort at 1 (operators/windows.py: window_dedup)."""
    from flink_playground_spark.operators.windows import window_dedup

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    return window_dedup(
        ev, "ts", "1 hour", ["user_id"], [F.desc("ts"), F.desc("event_id")]
    ).select("window_start", "user_id", "event_id", "ts", "event_type")


@register_extra(
    "window_join_same_hour",
    """
WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start
           FROM events WHERE event_type = 'click'),
p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start
      FROM events WHERE event_type = 'purchase')
SELECT c.window_start, c.user_id, c.event_id AS l_event_id, c.ts AS l_ts,
       p.event_id AS r_event_id, p.ts AS r_ts
FROM c JOIN p ON c.user_id = p.user_id AND c.window_start = p.window_start
""",
    tags=("T1", "J4"),
)
def window_join_same_hour(spark, sf_dir):
    """Flink SQL's Window Join: clicks joined to purchases of the SAME
    user in the SAME hour window — the bounded-state stream-stream join
    (each side's state lives one window, unlike the unbounded J4 join).
    Lowered to a plain equi-join on (window_start, user_id): windowing
    is a scan-stage projection, one Exchange pair co-partitions both
    sides, no range predicate survives to the join
    (operators/windows.py: window_join)."""
    from flink_playground_spark.operators.windows import window_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    return window_join(clicks, purchases, "ts", "1 hour", ["user_id"]).select(
        "window_start", "user_id", "l_event_id", "l_ts", "r_event_id", "r_ts"
    )


@register_extra(
    "window_topn_event_types",
    """
WITH w AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS window_end,
         event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3)
SELECT window_start, window_end, event_type, cnt, rownum FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY cnt DESC, event_type) AS rownum
  FROM w) t
WHERE rownum <= 2
""",
    tags=("T1", "A1"),
)
def window_topn_event_types(spark, sf_dir):
    """Batch Window Top-N (the operator behind streaming_window_topn):
    the two hottest event types of every hour window — windowed agg
    ranked within the window, deterministic tie-break
    (operators/windows.py: window_topn)."""
    from flink_playground_spark.operators.windows import window_topn

    ev = _t(spark, sf_dir, "events")
    return window_topn(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).cast("long").alias("cnt")],
        [F.desc("cnt"), F.asc("event_type")],
        2,
    ).select("window_start", "window_end", "event_type", "cnt", "rownum")
