"""Approximate aggregates: the sketches a 100 TB pipeline actually uses.

Exact COUNT(DISTINCT) is a full shuffle of every distinct value;
`approx_count_distinct` (HyperLogLog++) and the DataSketches HLL
functions (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`,
Spark 4 built-ins) keep a fixed-size sketch per group instead. The
killer property is *mergeability*: per-partition / per-group sketches
union into coarser rollups without re-scanning the data — the two-level
pattern every planet-scale distinct count uses. All JVM-side codegen'd
aggregates; no Python in the path.

Relative error: HLL++ honors `rsd` (default 5%); DataSketches HLL with
lgConfigK=12 is ~1.6% at one standard deviation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_distinct_rollup(
    df: DataFrame,
    keys: str | Sequence[str],
    col: str,
    lg_config_k: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """Two-level distinct count: per-``keys`` HLL sketches, then a grand
    total by *merging the group sketches* — the fact table is scanned
    once, and the total costs only a union of fixed-size sketches.

    Returns ``(per_group, total)``: per_group has keys +
    ``approx_distinct``; total is one row with ``approx_distinct``. At
    1000-executor scale the second level moves kilobytes, not rows.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    sketches = df.groupBy(*keys).agg(
        F.hll_sketch_agg(col, F.lit(lg_config_k)).alias("__sk")
    )
    per_group = sketches.select(
        *keys, F.hll_sketch_estimate("__sk").alias("approx_distinct")
    )
    total = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("approx_distinct")
    )
    return per_group, total


def count_min_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch as a RELATION: ``(d, w, cnt)`` with at most
    ``depth * width`` rows, built in one scan + one bounded-size shuffle.

    Each row of the input lands in one bucket per hash row
    (``xxhash64(value, d) mod width``); the sketch is the per-cell
    count. Because it is just a (d, w)-keyed aggregate, it inherits the
    two properties that matter at 100 TB for free from the engine:
    map-side combine (the shuffle moves <= depth*width partials per
    task, not rows) and MERGEABILITY — the sketch of a union is the
    (d, w)-wise SUM of the sketches, a plain groupBy over sketch rows.
    """
    reps = df.select(F.col(col).cast("string").alias("__v")).withColumn(
        "d", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
    )
    return (
        reps.groupBy(
            "d", F.pmod(F.xxhash64("__v", F.col("d")), F.lit(width)).alias("w")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union count-min sketches built with the same (depth, width):
    (d, w)-wise sum — the mergeable two-level pattern."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, values: DataFrame, col: str, width: int = 1024
) -> DataFrame:
    """Point-query the sketch for each value: min over hash rows of the
    cell count (one-sided error: estimate >= true count, over by at most
    ~e*N/width with high probability). ``values`` should be distinct;
    output is ``(col, est_count)``. The sketch side is tiny (<=
    depth*width rows) and broadcasts."""
    v = values.select(F.col(col).cast("string").alias("__v")).distinct()
    probes = v.join(sketch.select("d").distinct()).withColumn(
        "w", F.pmod(F.xxhash64("__v", F.col("d")), F.lit(width))
    )
    joined = probes.join(F.broadcast(sketch), ["d", "w"], "left").select(
        "__v", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("__v").agg(F.min("cnt").alias("est_count")).select(
        F.col("__v").alias(col), "est_count"
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    phi: float = 0.01,
    depth: int = 4,
    width: int = 1024,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Values with estimated frequency >= ``phi`` of all rows, via CMS.

    CMS cannot enumerate, so candidates come from a separate (cheap)
    source — by default the values that are locally phi-heavy in at
    least one scan partition (the distributed Misra-Gries argument: if
    c_p < phi*n_p in EVERY partition p, then sum c_p < phi*n — so a
    global phi-heavy hitter is a local one somewhere). That makes the
    default candidate set a deterministic SUPERSET of the true heavy
    hitters with no sampling step at all; combined with one-sided CMS
    error there are NO FALSE NEGATIVES: every true heavy hitter is
    returned (some near-threshold values may over-report in, and which
    ones can vary with partitioning). Candidate-set size is bounded by
    partitions/phi. Pass ``candidates`` to control the set explicitly.

    (A previous revision hash-sampled VALUES, which dropped any given
    heavy hitter with fixed probability ~7/8 — value-deterministic
    sampling can never see more trials for more-frequent values.)
    """
    n = df.count()
    sketch = count_min_sketch(df, col, depth, width)
    if candidates is None:
        from pyspark.sql import Window

        local = (
            df.select(F.spark_partition_id().alias("__p"), F.col(col).alias("__v"))
            .groupBy("__p", "__v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        part_total = F.sum("__c").over(Window.partitionBy("__p"))
        candidates = (
            local.withColumn("__t", part_total)
            .filter(F.col("__c") >= F.lit(float(phi)) * F.col("__t"))
            .select(F.col("__v").alias(col))
            .distinct()
        )
    est = cms_estimate(sketch, candidates, col, width)
    return est.filter(F.col("est_count") >= F.lit(float(phi)) * F.lit(float(n)))


def hist_sketch(
    df: DataFrame, col: str, lo: float, hi: float, n_bins: int = 256
) -> DataFrame:
    """Fixed-bin histogram sketch as a RELATION: ``(bin, cnt)``, at most
    ``n_bins`` rows, one scan + one bounded shuffle.

    The same engine-native sketch idea as ``count_min_sketch``:
    ``percentile_approx`` is a mergeable sketch too, but its state lives
    inside one aggregate call — it cannot be PERSISTED and merged with
    tomorrow's data, shipped between jobs, or folded into bucketed
    streaming state. A histogram relation can: merge = per-bin SUM
    (``hist_merge``, or ``TransactionalKeyState.merge_aggregate`` keyed
    on bin).
    Values are clamped to [lo, hi]; rank error of any quantile read is
    bounded by the heaviest bin's mass.
    """
    x = F.least(F.greatest(F.col(col).cast("double"), F.lit(float(lo))), F.lit(float(hi)))
    b = F.least(
        F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(n_bins)).cast("int"),
        F.lit(n_bins - 1),
    )
    return df.select(b.alias("bin")).groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Per-bin sum of histogram sketches built with identical (lo, hi,
    n_bins)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    sketch: DataFrame, qs: Sequence[float], lo: float, hi: float, n_bins: int = 256
) -> DataFrame:
    """Quantile estimates from a histogram sketch: running-sum window
    over the (tiny) bin relation, first bin whose cumulative count
    reaches q*N, bin-midpoint estimate. Output ``(q, est)``; rank error
    <= the chosen bin's mass."""
    from pyspark.sql import Window

    spark = sketch.sparkSession
    # bounded global window: the sketch has <= n_bins rows by contract;
    # single_group pins the bound and silences the empty-spec warning
    from flink_playground_spark.operators.windows import single_group

    w = (
        Window.partitionBy(single_group("bin"))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).join(
        F.broadcast(sketch.agg(F.sum("cnt").alias("n")))
    )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    hit = (
        cum.join(F.broadcast(qdf), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    width = float(hi - lo) / n_bins
    return hit.select(
        "q", (F.lit(float(lo)) + (F.col("bin") + F.lit(0.5)) * F.lit(width)).alias("est")
    )
