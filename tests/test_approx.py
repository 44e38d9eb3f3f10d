"""Approximate aggregates (functions/approx.py + Spark built-ins):
error bounds vs exact answers, and sketch mergeability — the property
that makes distinct counts tractable at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_playground_spark.functions.approx import approx_distinct_rollup
from flink_playground_spark.sources.memory import from_rows
from flink_playground_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_approx_count_distinct_bound(lineitem):
    exact = lineitem.select(F.countDistinct("l_orderkey")).first()[0]
    approx = lineitem.select(F.approx_count_distinct("l_orderkey", rsd=0.05)).first()[0]
    assert abs(approx - exact) / exact < 0.15  # 3 sigma of the 5% rsd


def test_percentile_approx_bound(lineitem):
    exact = lineitem.selectExpr("percentile(l_extendedprice, 0.5)").first()[0]
    approx = lineitem.selectExpr(
        "percentile_approx(l_extendedprice, 0.5, 10000)"
    ).first()[0]
    assert abs(float(approx) - float(exact)) / float(exact) < 0.01


def test_hll_rollup_groups_and_total(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    per_group, total = approx_distinct_rollup(ev, "event_type", "user_id")
    got = {r["event_type"]: r["approx_distinct"] for r in per_group.collect()}
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.1, (k, got[k], e)
    # the grand total comes from MERGING the per-group sketches — it must
    # agree with a direct global sketch (same lgConfigK => same estimate)
    merged = total.first()[0]
    direct = ev.select(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
    ).first()[0]
    assert merged == direct
    exact_total = ev.select(F.countDistinct("user_id")).first()[0]
    assert abs(merged - exact_total) / exact_total < 0.1


def test_hll_rollup_is_single_scan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    per_group, total = approx_distinct_rollup(ev, "event_type", "user_id")
    # the total plan aggregates sketches (binary union), not raw rows:
    # one parquet scan, no count-distinct expansion
    plan = total._jdf.queryExecution().executedPlan().toString()
    assert "hll_union_agg" in plan
    assert plan.count("FileScan") == 1
    assert "count(distinct" not in plan.lower()


def test_cms_one_sided_error_and_bound(spark, sf_dir):
    """CMS estimates are >= exact counts (never under), and within the
    e*N/width additive bound for every probed token."""
    import math

    from flink_playground_spark.functions.approx import cms_estimate, count_min_sketch
    from flink_playground_spark.functions.tfidf import whitespace_tokens
    from flink_playground_spark.sources.tables import load_table

    toks = whitespace_tokens(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    n = toks.count()
    depth, width = 4, 1024
    sketch = count_min_sketch(toks, "term", depth, width)
    assert sketch.count() <= depth * width
    exact = {r.term: r.c for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).collect()}
    est = {
        r.term: r.est_count
        for r in cms_estimate(sketch, toks.select("term"), "term", width).collect()
    }
    assert set(est) == set(exact)
    bound = math.e * n / width
    for t, c in exact.items():
        assert est[t] >= c, f"CMS undercounted {t}"
        assert est[t] <= c + bound, f"CMS over by more than eN/width on {t}"


def test_cms_mergeability(spark, sf_dir):
    """Sketch(union) == merge(sketches of parts): the two-level property."""
    from flink_playground_spark.functions.approx import cms_merge, count_min_sketch
    from flink_playground_spark.functions.tfidf import whitespace_tokens
    from flink_playground_spark.sources.tables import load_table

    toks = whitespace_tokens(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    a, b = toks.filter(F.col("doc_id") % 2 == 0), toks.filter(F.col("doc_id") % 2 == 1)
    direct = {(r.d, r.w): r.cnt for r in count_min_sketch(toks, "term").collect()}
    merged = {
        (r.d, r.w): r.cnt
        for r in cms_merge(count_min_sketch(a, "term"), count_min_sketch(b, "term")).collect()
    }
    assert direct == merged


def test_heavy_hitters_no_false_negatives(spark, sf_dir):
    """Every true phi-heavy token is returned — with the DEFAULT
    candidate generation (per-partition local heavy hitters), not a
    caller-supplied full vocabulary: the local-phi-heavy argument must
    surface every global heavy hitter on its own."""
    from flink_playground_spark.functions.approx import heavy_hitters
    from flink_playground_spark.functions.tfidf import whitespace_tokens
    from flink_playground_spark.sources.tables import load_table

    toks = whitespace_tokens(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    n = toks.count()
    phi = 0.02
    exact_hh = {
        r.term
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= phi * n).collect()
    }
    got = {r.term for r in heavy_hitters(toks, "term", phi=phi).collect()}
    assert exact_hh <= got
    # and the repartitioned frame still surfaces every true heavy hitter
    got_rep = {r.term for r in heavy_hitters(toks.repartition(13), "term", phi=phi).collect()}
    assert exact_hh <= got_rep


def test_heavy_hitters_skewed_value_not_dropped(spark):
    """Regression (r2 ADVICE): a single dominant value must always be
    found. The old value-hash sampling dropped any given value with
    fixed probability ~7/8 regardless of its frequency."""
    from flink_playground_spark.functions.approx import heavy_hitters

    rows = [(i, "dominant" if i % 2 == 0 else f"rare_{i}") for i in range(2000)]
    df = from_rows(spark, rows, ["id", "term"], [int, str])
    got = {r.term for r in heavy_hitters(df, "term", phi=0.2).collect()}
    assert got == {"dominant"}


def test_hist_sketch_quantiles_rank_bound(spark, sf_dir):
    """Histogram-sketch quantile estimates land within the max-bin-mass
    rank bound of the true quantile rank, for every probed q."""
    from flink_playground_spark.functions.approx import hist_quantiles, hist_sketch
    from flink_playground_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    lo, hi, n_bins = 0.0, 600000.0, 256
    sk = hist_sketch(orders, "o_totalprice", lo, hi, n_bins).localCheckpoint()
    n = orders.count()
    max_bin = sk.agg(F.max("cnt")).first()[0]
    qs = [0.1, 0.5, 0.9, 0.99]
    ests = {r.q: r.est for r in hist_quantiles(sk, qs, lo, hi, n_bins).collect()}
    vals = sorted(r[0] for r in orders.select("o_totalprice").collect())
    import bisect

    for q in qs:
        true_rank = q * n
        est_rank = bisect.bisect_right(vals, ests[q])
        assert abs(est_rank - true_rank) <= max_bin + 1, (q, est_rank, true_rank, max_bin)


def test_hist_sketch_mergeable_and_streaming_state(spark, sf_dir, tmp_path):
    """Per-bin sum merge == direct sketch; and the sketch folds into
    bucketed streaming state wave by wave, ending exactly equal to the
    batch sketch — persistent streaming percentiles."""
    from flink_playground_spark.functions.approx import hist_merge, hist_sketch
    from flink_playground_spark.sources.tables import load_table
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    events = load_table(spark, sf_dir, "events")
    lo, hi, n_bins = 0.0, 20.0, 64
    direct = {r.bin: r.cnt for r in hist_sketch(events, "value", lo, hi, n_bins).collect()}

    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = {
        r.bin: r.cnt
        for r in hist_merge(
            hist_sketch(a, "value", lo, hi, n_bins), hist_sketch(b, "value", lo, hi, n_bins)
        ).collect()
    }
    assert merged == direct

    st = TransactionalKeyState(str(tmp_path / "hist_state"), ["bin"], n_buckets=4)
    for i, wave in enumerate((a, b)):
        st.merge_aggregate(
            "hist", i, hist_sketch(wave, "value", lo, hi, n_bins), [F.sum("cnt").alias("cnt")]
        )
    stateful = {r.bin: r.cnt for r in st.read(spark).collect()}
    assert stateful == direct


def test_streaming_hll_distinct_state(spark, sf_dir, tmp_path):
    """Streaming approximate distinct counts: per-wave HLL sketch
    partials fold into bucketed state via hll_union_agg. HLL union is
    commutative and associative, so the drained state's estimates equal
    the batch sketch EXACTLY (not approximately-equal: the same sketch
    bytes) — mergeable-sketch state as the streaming distinct-count
    path."""
    from flink_playground_spark.sources.tables import load_table
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    events = load_table(spark, sf_dir, "events")
    want = {
        r.event_type: r.d
        for r in events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("d"))
        .collect()
    }

    st = TransactionalKeyState(str(tmp_path / "hll"), ["event_type"], n_buckets=4)
    for w in range(3):
        wave = events.filter(F.col("event_id") % 3 == w)
        partials = wave.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
        )
        st.merge_aggregate("hll", w, partials, [F.hll_union_agg("sk").alias("sk")])

    got = {
        r.event_type: r.d
        for r in st.read(spark)
        .select("event_type", F.hll_sketch_estimate("sk").alias("d"))
        .collect()
    }
    assert got == want  # exact sketch equality, not tolerance

    # exact distinct for context: the estimates are within HLL's band
    exact = {
        r.event_type: r.d
        for r in events.groupBy("event_type").agg(F.count_distinct("user_id").alias("d")).collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05
