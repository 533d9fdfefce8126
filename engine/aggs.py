"""ES aggregation-framework parity (SURVEY.md §2.E).

The reference's refine jobs reduce to ES aggregations (terms buckets,
cardinality, stats, percentiles, histograms, date_histograms, nested
bucket trees) [public: ES aggregations docs]. Each maps to a built-in
Catalyst partial+final hash aggregate — the map-reduce of the refine loop,
no UDFs anywhere.

Notes on approximate aggs:
* `cardinality` → `approx_count_distinct` — the same HyperLogLog++ family ES
  uses [public: ES cardinality agg]; exact for small cardinalities (sparse
  mode), which the oracle-checked queries rely on; large-cardinality behavior
  is tolerance-tested in pytest instead.
* `percentiles` → `percentile_approx` (Greenwald-Khanna) mirrors ES t-digest
  approximation; the oracle-checked twin uses exact `percentile` /
  `quantile_cont` so both engines agree bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def terms_agg(df: DataFrame, col: str, size: int = 10) -> DataFrame:
    """E1 `terms` agg: top-N buckets by doc count (tie-break key asc)."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col(col).asc())
        .limit(size)
    )


def cardinality_agg(df: DataFrame, col: str, group_by: str | None = None) -> DataFrame:
    """E2 `cardinality` (HLL++, like ES)."""
    agg = F.approx_count_distinct(col).alias("cardinality")
    if group_by:
        return df.groupBy(group_by).agg(agg).orderBy(group_by)
    return df.agg(agg)


def stats_agg(df: DataFrame, col: str, group_by: str) -> DataFrame:
    """E3 `stats`/`extended_stats`."""
    c = F.col(col)
    return (
        df.groupBy(group_by)
        .agg(
            F.count(c).alias("cnt"),
            F.round(F.min(c), 4).alias("min_v"),
            F.round(F.max(c), 4).alias("max_v"),
            F.round(F.avg(c), 4).alias("avg_v"),
            F.round(F.sum(c), 4).alias("sum_v"),
            F.round(F.stddev_samp(c), 4).alias("std_v"),
        )
        .orderBy(group_by)
    )


def percentiles_agg(df: DataFrame, col: str, probs: list[float], group_by: str) -> DataFrame:
    """E4 `percentiles` — exact interpolated form (oracle-checkable)."""
    aggs = [
        F.round(F.expr(f"percentile({col}, {p})"), 4).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return df.groupBy(group_by).agg(*aggs).orderBy(group_by)


def histogram_agg(df: DataFrame, col: str, interval: float) -> DataFrame:
    """E5 `histogram`: fixed-interval numeric buckets."""
    bucket = (F.floor(F.col(col) / F.lit(interval)) * F.lit(interval)).alias("bucket")
    return (
        df.groupBy(bucket).agg(F.count("*").alias("doc_count")).orderBy("bucket")
    )


def filters_agg(df: DataFrame, filters: dict[str, "F.Column"]) -> DataFrame:
    """ES `filters` aggregation [public]: one named bucket per predicate,
    counted in a SINGLE pass — each filter becomes a conditional sum, so N
    buckets cost one scan and one 1-row aggregate (no per-bucket jobs)."""
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
        for name, cond in filters.items()
    ]
    return df.agg(*aggs)


def range_agg(df: DataFrame, col: str, bounds: list[float]) -> DataFrame:
    """ES `range` aggregation [public]: half-open [from, to) buckets keyed
    "from-to" like ES. One CASE expression → one hash aggregate."""
    edges = [float("-inf")] + [float(b) for b in bounds] + [float("inf")]
    label = None
    for lo, hi in zip(edges[:-1], edges[1:]):
        name = (
            f"*-{hi:g}" if lo == float("-inf")
            else f"{lo:g}-*" if hi == float("inf")
            else f"{lo:g}-{hi:g}"
        )
        cond = (F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi))
        if lo == float("-inf"):
            cond = F.col(col) < F.lit(hi)
        elif hi == float("inf"):
            cond = F.col(col) >= F.lit(lo)
        label = F.when(cond, name) if label is None else label.when(cond, name)
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(label.alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def date_histogram_agg(df: DataFrame, ts_col: str, unit: str = "hour") -> DataFrame:
    """E6 `date_histogram`: calendar-interval buckets."""
    return (
        df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def nested_agg(df: DataFrame, outer: str, ts_col: str, value_col: str) -> DataFrame:
    """E7 nested bucket tree: terms bucket → date_histogram sub-bucket → metrics."""
    return (
        df.groupBy(
            F.col(outer),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(
            F.count("*").alias("doc_count"),
            F.round(F.sum(value_col), 4).alias("sum_v"),
        )
        .orderBy(outer, "day")
    )


def distinct_agg(df: DataFrame, cols: list[str]) -> DataFrame:
    """E8 `composite`-style dedup."""
    return df.select(*cols).distinct().orderBy(*cols)


def geometric_mean_udaf():
    """§2.H grouped-agg pandas UDAF: the custom-Python-reduce parity slot
    (the reference ships user-defined reduce fns over ES scroll results
    [public: upstream README]). Geometric mean is deliberately chosen so an
    ANSI-SQL oracle exists (exp(avg(ln x))) and the driver can value-check
    the UDAF path itself."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType

    # eval type passed explicitly: `from __future__ import annotations`
    # stringifies the Series->float hint, defeating inference
    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        a = v.to_numpy(dtype="float64")
        return float(np.exp(np.log(a).mean()))

    return geo_mean


def grouped_geo_mean(df: DataFrame, value_col: str, group_by: str) -> DataFrame:
    """Grouped-agg UDAF applied per group — Arrow ships each group's column
    once; the reduce is NumPy-vectorized."""
    gm = geometric_mean_udaf()
    return (
        df.groupBy(group_by)
        .agg(F.round(gm(F.col(value_col)), 4).alias("geo_mean"))
        .orderBy(group_by)
    )


def pipeline_histogram_agg(
    df: DataFrame, ts_col: str, value_col: str, unit: str = "hour"
) -> DataFrame:
    """ES pipeline aggregations over a parent date_histogram [public:
    ES derivative / cumulative_sum pipeline aggs]: per time bucket the
    doc_count, the cumulative doc count, and the bucket-over-bucket
    derivative (NULL for the first bucket, as in ES).

    Scale note: the parent histogram REDUCES the corpus to one row per time
    bucket before any window runs — ES likewise computes pipeline aggs on
    the reduced bucket list at the coordinating node. The unpartitioned
    window therefore orders thousands of buckets, not billions of rows."""
    from pyspark.sql import Window

    buckets = df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket")).agg(
        F.count("*").alias("doc_count"),
        F.round(F.sum(value_col), 4).alias("sum_v"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_lag = Window.orderBy("bucket")
    return (
        buckets.withColumn("cum_count", F.sum("doc_count").over(w_cum))
        .withColumn(
            "deriv", F.col("doc_count") - F.lag("doc_count").over(w_lag)
        )
        .orderBy("bucket")
    )


def bucket_selector_agg(
    df: DataFrame, group_col: str, value_col: str, min_sum: float
) -> DataFrame:
    """ES bucket_selector pipeline agg [public]: keep only parent buckets
    whose metric passes a predicate — the HAVING clause of the aggregation
    framework. Map-side partial agg, then the filter prunes buckets before
    they ever leave the final agg."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count("*").alias("doc_count"),
            F.round(F.sum(value_col), 4).alias("sum_v"),
        )
        .filter(F.col("sum_v") > min_sum)
        .orderBy(group_col)
    )


def extended_stats_agg(df: DataFrame, col: str, group_by: str) -> DataFrame:
    """ES `extended_stats` [public: ES extended_stats agg docs]: the `stats`
    fields plus sum_of_squares, population variance and std bounds. One
    hash-aggregate with map-side partials — every moment is an algebraic agg,
    so the shuffle carries one partial row per (partition, group)."""
    c = F.col(col)
    return (
        df.groupBy(group_by)
        .agg(
            F.count(c).alias("cnt"),
            F.round(F.min(c), 4).alias("min_v"),
            F.round(F.max(c), 4).alias("max_v"),
            F.round(F.avg(c), 4).alias("avg_v"),
            F.round(F.sum(c), 4).alias("sum_v"),
            F.round(F.sum(c * c), 4).alias("sum_sq"),
            F.round(F.var_pop(c), 4).alias("variance"),
            F.round(F.stddev_pop(c), 4).alias("std_dev"),
            F.round(F.avg(c) + 2 * F.stddev_pop(c), 4).alias("std_upper"),
            F.round(F.avg(c) - 2 * F.stddev_pop(c), 4).alias("std_lower"),
        )
        .orderBy(group_by)
    )


def matrix_stats_agg(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """ES `matrix_stats` [public: ES matrix_stats agg docs] for a field pair:
    per-field mean/variance plus covariance and Pearson correlation. All
    algebraic (Spark's corr/covar are single-pass co-moment aggregates), so
    this is one scan + one 1-row reduce regardless of input size."""
    a, b = F.col(col_a), F.col(col_b)
    return df.agg(
        F.count(a).alias("cnt"),
        F.round(F.avg(a), 4).alias("mean_a"),
        F.round(F.avg(b), 4).alias("mean_b"),
        F.round(F.var_pop(a), 4).alias("var_a"),
        F.round(F.var_pop(b), 4).alias("var_b"),
        F.round(F.covar_pop(a, b), 4).alias("covariance"),
        F.round(F.corr(a, b), 4).alias("correlation"),
    )


def adjacency_matrix_agg(df: DataFrame, filters: dict[str, "F.Column"]) -> DataFrame:
    """ES `adjacency_matrix` [public: ES adjacency_matrix agg docs]: one
    bucket per named filter and one per pairwise intersection (key "a&b",
    ES's default separator), counting docs matching both. Computed as sums
    of boolean products in a SINGLE aggregate pass (no self-join, no
    explode): n filters -> n + n(n-1)/2 counter columns, then unpivoted
    driver-side via stack() into (key, doc_count) rows. Empty buckets are
    dropped, matching ES."""
    names = sorted(filters)
    flags = [F.when(filters[n], 1).otherwise(0).alias(n) for n in names]
    flagged = df.select(*flags)
    sums = [F.sum(F.col(n)).cast("bigint").alias(n) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            sums.append(
                F.sum(F.col(a) * F.col(b)).cast("bigint").alias(f"{a}&{b}")
            )
    wide = flagged.agg(*sums)
    keys = [c for c in wide.columns]
    stack_expr = "stack({n}, {args}) as (key, doc_count)".format(
        n=len(keys), args=", ".join(f"'{k}', `{k}`" for k in keys)
    )
    return (
        wide.selectExpr(stack_expr)
        .filter(F.col("doc_count") > 0)
        .orderBy("key")
    )


def rms_udaf():
    """ES `scripted_metric` agg stand-in [public: ES scripted_metric docs]:
    a custom per-bucket metric the built-in aggs don't provide (root mean
    square), as an Arrow-batched GROUPED_AGG pandas UDAF — the supported
    Spark shape for user-defined aggregation (map/combine/reduce scripts in
    ES map onto partial aggregation automatically here)."""
    import numpy as np

    @F.pandas_udf("double")
    def rms(v: pd.Series) -> float:
        return float(np.sqrt(np.mean(np.square(v.to_numpy(dtype="float64")))))

    return rms


def scripted_metric_rms(df: DataFrame, value_col: str, group_by: str) -> DataFrame:
    rms = rms_udaf()
    return (
        df.groupBy(group_by)
        .agg(F.round(rms(F.col(value_col)), 4).alias("rms"))
        .orderBy(group_by)
    )


def missing_value_count_agg(df: DataFrame, col: str) -> DataFrame:
    """ES `missing` + `value_count` metric pair over a nullable field: docs
    missing the field, values present, and the mean of present values — one
    aggregate pass."""
    c = F.col(col)
    return df.agg(
        F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("bigint").alias("missing_count"),
        F.count(c).alias("value_count"),
        F.round(F.avg(c), 4).alias("avg_v"),
    )


def rare_terms_agg(df: DataFrame, col: str, max_doc_count: int = 1) -> DataFrame:
    """ES `rare_terms` agg [public: ES rare_terms docs]: the long-tail
    inverse of `terms` — buckets whose doc_count is AT MOST max_doc_count,
    ordered count asc then key asc. One hash aggregate + filter; ES uses a
    CuckooFilter to bound memory, Spark's partial+final hash agg gives the
    exact answer with bounded shuffle (one row per distinct key)."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") <= max_doc_count)
        .orderBy(F.col("doc_count").asc(), F.col(col).asc())
    )


def multi_terms_agg(df: DataFrame, cols: list[str], size: int = 10) -> DataFrame:
    """ES `multi_terms` agg [public]: terms buckets over a COMPOSITE key,
    top-N by doc count (tie-break: keys asc). Same single hash-agg shape as
    `terms`, the key is just wider."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), *[F.col(c).asc() for c in cols])
        .limit(size)
    )


def percentile_ranks_agg(
    df: DataFrame, col: str, values: list[float], group_by: str
) -> DataFrame:
    """ES `percentile_ranks` [public]: for each given value v, the percent
    of observed values ≤ v — the inverse of `percentiles`. One aggregate
    pass: avg of an indicator per v (missing values ignored, as in ES)."""
    c = F.col(col)
    # %g renders 10.0 -> "10", 100 -> "100", 99.9 -> "99.9": trailing-zero
    # trimming without the rstrip('0') bug that mangled integer 100 into
    # "pr_1" (and collided it with 10 — ADVICE r04)
    aggs = [
        F.round(
            F.avg(F.when(c <= F.lit(v), 1.0).otherwise(0.0)) * 100, 4
        ).alias(f"pr_{f'{v:g}'.replace('.', '_').replace('-', 'm')}")
        for v in values
    ]
    return df.filter(c.isNotNull()).groupBy(group_by).agg(*aggs).orderBy(group_by)


_AUTO_DH_LADDER = [
    ("minute", 60), ("hour", 3600), ("day", 86400),
    ("month", 2592000), ("year", 31536000),
]


def auto_date_histogram_agg(
    df: DataFrame, ts_col: str, target_buckets: int = 12
) -> DataFrame:
    """ES `auto_date_histogram` [public]: pick the smallest calendar
    interval from a fixed ladder that keeps the bucket count ≤ target, then
    date_trunc at it. The interval choice needs only the min/max timestamp
    (one 1-row aggregate — the same driver-side scalar ES's coordinating
    node computes); the bucketing itself is one hash aggregate."""
    r = df.agg(F.min(ts_col).alias("mn"), F.max(ts_col).alias("mx")).collect()[0]
    unit = _AUTO_DH_LADDER[-1][0]
    if r["mn"] is not None:
        span = (r["mx"] - r["mn"]).total_seconds()
        for u, sec in _AUTO_DH_LADDER:
            if span / sec <= target_buckets:
                unit = u
                break
    return (
        df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .withColumn("interval_unit", F.lit(unit))
        .orderBy("bucket")
    )


def diversified_sampler_agg(
    df: DataFrame,
    diversity_col: str,
    order_col: str,
    value_col: str,
    max_per_value: int = 3,
) -> DataFrame:
    """ES `diversified_sampler` + child metric [public: ES sampler docs]:
    cap the sample at max_per_value docs PER diversity value, then run the
    metric over the sample. ES samples by shard-local score order
    (nondeterministic across layouts); this engine pins a deterministic
    total order (order_col asc) so results are layout- and
    parallelism-invariant — documented divergence. One window (rank within
    diversity value) + one aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy(diversity_col).orderBy(F.col(order_col).asc())
    sample = df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_per_value
    )
    return sample.groupBy(diversity_col).agg(
        F.count("*").alias("sample_count"),
        F.round(F.avg(value_col), 4).alias("avg_v"),
    ).orderBy(diversity_col)


def boxplot_agg(df: DataFrame, col: str, group_by: str) -> DataFrame:
    """ES `boxplot` aggregation [public: ES boxplot docs]: min, q1, q2
    (median), q3, max per bucket. ES computes approximate quartiles via
    TDigest; this engine uses Spark's exact interpolated `percentile` (the
    same divergence agg_percentiles documents) so the result is
    deterministic and oracle-checkable. One hash aggregate — the percentile
    UDAF holds per-group values, fine for bounded group counts; swap to
    percentile_approx for unbounded-cardinality buckets at 100 TB."""
    c = F.col(col)
    return (
        df.groupBy(group_by)
        .agg(
            F.round(F.min(c), 4).alias("min_v"),
            F.round(F.expr(f"percentile({col}, 0.25)"), 4).alias("q1"),
            F.round(F.expr(f"percentile({col}, 0.5)"), 4).alias("q2"),
            F.round(F.expr(f"percentile({col}, 0.75)"), 4).alias("q3"),
            F.round(F.max(c), 4).alias("max_v"),
        )
        .orderBy(group_by)
    )


def median_absolute_deviation_agg(
    df: DataFrame, col: str, group_by: str
) -> DataFrame:
    """ES `median_absolute_deviation` [public]: median(|x - median(x)|) per
    bucket. Two aggregate passes (medians can't nest in one): pass 1 is a
    tiny per-group median frame (one row per bucket, broadcast back), pass 2
    re-scans with the deviation expression. ES approximates via TDigest;
    exact interpolated percentile here, documented as in boxplot_agg."""
    med = df.groupBy(group_by).agg(
        F.expr(f"percentile({col}, 0.5)").alias("_med")
    )
    return (
        df.join(F.broadcast(med), group_by)
        .groupBy(group_by)
        .agg(
            F.round(
                F.expr(f"percentile(abs({col} - _med), 0.5)"), 4
            ).alias("mad")
        )
        .orderBy(group_by)
    )


def string_stats_agg(df: DataFrame, col: str, group_by: str) -> DataFrame:
    """ES `string_stats` [public: ES string_stats docs]: per bucket, count +
    min/max/avg LENGTH of the string field, plus Shannon entropy over the
    character distribution. Lengths are one hash aggregate; entropy needs
    the per-(bucket, char) counts, i.e. one explode + two aggregates — the
    explode fan-out is bounded by total corpus chars and combines map-side,
    so the shuffle carries <= |buckets| x |alphabet| rows, not one row per
    character."""
    c = F.col(col)
    lens = df.groupBy(group_by).agg(
        F.count(c).alias("cnt"),
        F.min(F.length(c)).alias("min_len"),
        F.max(F.length(c)).alias("max_len"),
        F.round(F.avg(F.length(c)), 4).alias("avg_len"),
    )
    chars = (
        df.select(group_by, F.explode(F.split(c, "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy(group_by, "ch")
        .agg(F.count("*").alias("n"))
    )
    # entropy = -sum(p * log2(p)); p needs the per-group total, so carry it
    # via a second tiny aggregate joined back (one row per bucket)
    totals = chars.groupBy(group_by).agg(F.sum("n").alias("tot"))
    ent = (
        chars.join(F.broadcast(totals), group_by)
        .groupBy(group_by)
        .agg(
            F.round(
                -F.sum((F.col("n") / F.col("tot")) * F.log2(F.col("n") / F.col("tot"))),
                4,
            ).alias("entropy")
        )
    )
    return lens.join(ent, group_by).orderBy(group_by)


def top_metrics_agg(
    df: DataFrame, group_by: str, sort_col: str, metric_col: str, tiebreak: str
) -> DataFrame:
    """ES `top_metrics` [public: ES top_metrics docs]: per bucket, the
    metric value taken from the doc with the LARGEST sort value (size=1).
    Implemented as a struct-max hash aggregate (sort_col, tiebreak,
    metric) — partial aggregation combines map-side, so the shuffle carries
    one row per (partition, bucket) instead of every event; no window, no
    sort. Tiebreak column pins determinism when sort values collide."""
    cand = F.struct(
        F.col(sort_col).alias("s"),
        F.col(tiebreak).alias("t"),
        F.col(metric_col).alias("m"),
    )
    best = df.groupBy(group_by).agg(F.max(cand).alias("b"))
    return best.select(
        group_by,
        F.col("b.s").alias("top_sort"),
        F.round(F.col("b.m"), 4).alias("top_metric"),
    ).orderBy(group_by)


def bucket_sort_agg(
    df: DataFrame, group_by: str, value_col: str,
    sort_desc: bool = True, from_: int = 0, size: int = 10,
) -> DataFrame:
    """ES `bucket_sort` pipeline aggregation [public]: order the parent
    terms buckets by a metric, then from/size-truncate the BUCKET LIST
    (not the docs). One hash aggregate + TakeOrdered; the offset is applied
    on the already-tiny bucket frame."""
    aggd = df.groupBy(group_by).agg(F.round(F.sum(value_col), 4).alias("sum_v"))
    order = [F.col("sum_v").desc() if sort_desc else F.col("sum_v").asc(),
             F.col(group_by).asc()]
    ranked = aggd.orderBy(*order).limit(from_ + size)
    if from_:
        from pyspark.sql import Window

        w = Window.orderBy(*order)
        ranked = (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > from_)
            .drop("_rn")
            # the row_number filter does NOT preserve order — without a
            # terminal sort the offset page's row order is plan-dependent
            # (ADVICE r04)
            .orderBy(*order)
        )
    return ranked


def stats_bucket_agg(
    df: DataFrame, ts_col: str, value_col: str, unit: str = "day"
) -> DataFrame:
    """ES `stats_bucket` sibling pipeline aggregation [public: ES
    stats_bucket docs — also subsumes avg_bucket/min_bucket/sum_bucket]:
    count/min/max/avg/sum of a metric ACROSS the parent date_histogram's
    buckets. Two hash aggregates, the second over the already-tiny bucket
    frame (single-row output) — exactly how ES reduces the bucket list at
    the coordinating node."""
    hist = df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket")).agg(
        F.sum(value_col).alias("sum_v")
    )
    return hist.agg(
        F.count("*").alias("n_buckets"),
        F.round(F.min("sum_v"), 4).alias("min_v"),
        F.round(F.max("sum_v"), 4).alias("max_v"),
        F.round(F.avg("sum_v"), 4).alias("avg_v"),
        F.round(F.sum("sum_v"), 4).alias("total_v"),
    )


def bucket_script_agg(
    df: DataFrame, group_by: str, num_col: str, unit_price_expr: "F.Column"
) -> DataFrame:
    """ES `bucket_script` pipeline aggregation [public: ES bucket_script
    docs]: a per-bucket metric COMPUTED FROM sibling metrics of the same
    parent bucket (params.a / params.b style). The script runs on the bucket
    frame after the hash aggregate — pure codegen arithmetic over
    buckets-many rows, never over the docs."""
    aggd = df.groupBy(group_by).agg(
        F.count("*").alias("doc_count"),
        F.sum(num_col).alias("_sum"),
        F.sum(unit_price_expr).alias("_wsum"),
    )
    return (
        aggd.select(
            group_by,
            "doc_count",
            F.round(F.col("_sum"), 4).alias("sum_v"),
            # the "script": weighted sum over plain sum, NULL-safe like ES
            # (a bucket with zero denominator yields null, not an error)
            F.round(
                F.when(F.col("_sum") != 0, F.col("_wsum") / F.col("_sum")),
                4,
            ).alias("script_v"),
        )
        .orderBy(group_by)
    )


def max_bucket_agg(df: DataFrame, ts_col: str, unit: str = "month") -> DataFrame:
    """ES `max_bucket` sibling pipeline aggregation [public]: over a
    date_histogram, return the bucket holding the maximum doc_count. ES
    returns ALL tied keys; this engine pins the earliest tied bucket
    (doc_count DESC, bucket ASC, LIMIT 1) for a deterministic single-row
    answer — documented divergence. The histogram is one hash aggregate;
    the argmax is a 1-row TakeOrdered over the tiny bucket frame."""
    hist = df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket")).agg(
        F.count("*").alias("doc_count")
    )
    return hist.orderBy(F.col("doc_count").desc(), F.col("bucket").asc()).limit(1)


def children_agg(
    parents: DataFrame,
    children: DataFrame,
    join_key: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """ES `children` aggregation [public: ES children agg docs]: bucket the
    PARENT documents, then compute metrics over each bucket's CHILD
    documents (join-field analytics). Scale shape: the child side reduces to
    one row per join key FIRST (map-side-combining hash aggregate — the
    fan-in happens before any join), then joins the parent attributes and
    re-aggregates per bucket; children never fan out across the join."""
    child_per_key = children.groupBy(join_key).agg(
        F.count("*").alias("_cnt"), F.sum(value_col).alias("_sum")
    )
    return (
        parents.select(join_key, bucket_col)
        .join(child_per_key, join_key, "left")
        .groupBy(bucket_col)
        .agg(
            F.count("*").alias("parent_count"),
            F.sum(F.coalesce("_cnt", F.lit(0))).cast("bigint").alias("child_count"),
            F.round(F.sum(F.coalesce("_sum", F.lit(0.0))), 4).alias("child_sum"),
        )
        .orderBy(bucket_col)
    )


def parent_agg(
    parents: DataFrame,
    children: DataFrame,
    join_key: str,
    child_bucket_col: str,
    parent_value_col: str,
) -> DataFrame:
    """ES `parent` aggregation [public: ES parent agg docs] — the inverse of
    children_agg: bucket by a CHILD field, then compute metrics over the
    distinct PARENT documents reachable from each bucket. Scale shape: the
    child side collapses to distinct (bucket, key) pairs FIRST (hash
    distinct with map-side combine — one row per parent per bucket, however
    many children it has), then an equi-join picks up parent attributes;
    parents are never replicated per child row."""
    keys = children.select(child_bucket_col, join_key).distinct()
    return (
        keys.join(parents.select(join_key, parent_value_col), join_key)
        .groupBy(child_bucket_col)
        .agg(
            F.count("*").alias("parent_count"),
            F.round(F.avg(parent_value_col), 4).alias("parent_avg"),
        )
        .orderBy(child_bucket_col)
    )


def categorize_text_agg(
    docs: DataFrame,
    text_col: str = "text",
    n_tokens: int = 3,
    top: int = 10,
) -> DataFrame:
    """ES `categorize_text` aggregation [public: ES categorize_text docs],
    deterministic core: collapse semi-structured messages into categories by
    keying on the first `n_tokens` purely-alphabetic tokens (numbers, ids,
    and mixed tokens are the variable parts ES's categorizer drops). Pure
    per-row array expressions + ONE hash aggregate — no shuffle before the
    category key exists, so the reduce is on |categories|, not |docs|."""
    toks = F.split(F.col(text_col), " ")
    sig = F.concat_ws(
        " ", F.slice(F.filter(toks, lambda t: t.rlike("^[a-z]+$")), 1, n_tokens)
    )
    return (
        docs.select(sig.alias("category"))
        .filter(F.col("category") != "")
        .groupBy("category")
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("category").asc())
        .limit(top)
    )


def frequent_pairs_agg(
    tf: DataFrame,
    term_stats: DataFrame,
    min_df: int = 20,
    max_df: int = 100,
    min_support: int = 10,
    top: int = 20,
) -> DataFrame:
    """ES `frequent_item_sets` aggregation [public: ES frequent_item_sets
    docs; Agrawal & Srikant Apriori], 2-item-set form over document terms.
    Apriori pruning IS the scale story: a pair can only reach `min_support`
    if both members do, so the vocabulary is cut to df ∈ [min_df, max_df]
    BEFORE any pair is generated (broadcast semi-join of the tiny vocab);
    the per-doc self-join then blows up on ≤ |vocab ∩ doc| items, never dl,
    and the max_df cap bounds the join fan-out exactly like the hot-shingle
    cap in n-gram dedup. `tf` must be one row per (doc, term) — the
    engine's tf frame is, by construction, so no defensive distinct (which
    would add a full shuffle) is taken here."""
    vocab = term_stats.filter(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    ).select("term")
    items = tf.join(F.broadcast(vocab), "term", "left_semi").select(
        "doc_id", "term"
    )
    a = items.withColumnRenamed("term", "term_a")
    b = items.withColumnRenamed("term", "term_b")
    return (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
        .orderBy(F.col("support").desc(), F.col("term_a").asc(), F.col("term_b").asc())
        .limit(top)
    )


def cumulative_cardinality_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    unit: str = "month",
) -> DataFrame:
    """ES `cumulative_cardinality` pipeline agg [public: ES docs]: distinct
    keys seen up to and including each date-histogram bucket (net-new user
    tracking). Exact, via the first-occurrence trick: cardinality-so-far ==
    count of keys whose FIRST event falls in or before the bucket, so the
    corpus-side work is two map-side-combining hash aggregates (per-key
    min(ts); distinct buckets) and the running sum is a window over the
    bucket frame only (|buckets| rows, never the corpus)."""
    from pyspark.sql import Window

    bucket = F.date_trunc(unit, F.col(ts_col))
    buckets = df.select(bucket.alias("bucket")).distinct()
    firsts = (
        df.groupBy(key_col)
        .agg(F.min(ts_col).alias("_first"))
        .select(F.date_trunc(unit, "_first").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        buckets.join(firsts, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce("_new", F.lit(0))).over(w).cast("bigint")
            .alias("distinct_so_far"),
        )
        .orderBy("bucket")
    )


def normalize_agg(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    method: str = "percent_of_sum",
) -> DataFrame:
    """ES `normalize` pipeline agg [public: ES docs], percent_of_sum method:
    each bucket's metric rescaled to its share of the total. One hash
    aggregate over the corpus; the total is a window over the bucket frame
    (|buckets| rows) — no second scan, no driver round-trip."""
    from pyspark.sql import Window

    if method != "percent_of_sum":
        raise ValueError(f"unsupported normalize method: {method}")
    per = df.groupBy(bucket_col).agg(F.sum(value_col).alias("_s"))
    total = F.sum("_s").over(Window.partitionBy())
    return (
        per.select(
            bucket_col,
            F.round(F.col("_s"), 4).alias("value_sum"),
            F.round(100.0 * F.col("_s") / total, 4).alias("pct_of_sum"),
        )
        .orderBy(bucket_col)
    )


def percentiles_bucket_agg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    percents: list[float] = (25.0, 50.0, 75.0),
    unit: str = "month",
) -> DataFrame:
    """ES `percentiles_bucket` sibling pipeline agg [public: ES docs]:
    percentiles of a metric ACROSS the parent histogram's buckets. The
    corpus-side work is the parent hash aggregate; the percentile runs over
    the bucket frame (|buckets| rows — exact linear interpolation, same
    deterministic-vs-TDigest divergence documented for boxplot/E4).
    Single-row output, one column per requested percent."""
    hist = df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket")).agg(
        F.sum(value_col).alias("_m")
    )
    return hist.agg(
        *[
            F.round(F.percentile("_m", F.lit(p / 100.0)), 4).alias(
                # p2.5 -> p2_5 (int() would mislabel it p2 and collide)
                "p" + f"{p:g}".replace(".", "_")
            )
            for p in percents
        ]
    )


def date_histogram_filled(
    df: DataFrame,
    ts_col: str,
    unit: str = "day",
) -> DataFrame:
    """ES date_histogram with min_doc_count=0 [public: ES date_histogram
    docs]: emit EVERY bucket between the first and last observed, zero
    counts included — rollup/chart consumers rely on the gapless axis.
    The corpus-side work is the ordinary hash aggregate; the gap filling
    is a sequence() explode over the bucket frame's [min, max] span
    (|buckets| rows), then one left join back. The bucket frame is
    cache()d because BOTH the span derivation and the join consume it —
    without the cache each subtree would re-run the corpus aggregate
    (ReuseExchange is not guaranteed under AQE)."""
    bucket = F.date_trunc(unit, F.col(ts_col))
    hist = df.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("doc_count")
    ).cache()
    span = hist.agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
    all_buckets = span.select(
        F.explode(
            F.expr(f"sequence(mn, mx, interval 1 {unit})")
        ).alias("bucket")
    )
    return (
        all_buckets.join(hist, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("doc_count", F.lit(0)).cast("bigint").alias("doc_count"),
        )
        .orderBy("bucket")
    )


def terms_agg_missing(
    df: DataFrame,
    col: str,
    missing_label: str,
    top: int = 10,
) -> DataFrame:
    """ES terms agg `missing` parameter [public: ES terms agg docs]: rows
    with a null key are bucketed under an explicit label instead of being
    dropped. One coalesce inside the same hash aggregate — free."""
    return (
        df.groupBy(
            F.coalesce(F.col(col), F.lit(missing_label)).alias("key")
        )
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(top)
    )


def transform_pivot(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """ES transform (entity-centric pivot) [public: ES transforms docs]:
    continuously-maintainable per-entity summary — event count, value
    total/mean, first/last activity. ONE map-side-combining hash aggregate
    keyed on the entity; at scale this is the canonical pivot ES transforms
    checkpoint incrementally, and the streaming variant is the same
    aggregate under `foreachBatch` (J6 machinery)."""
    return (
        df.groupBy(entity_col)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("value_sum"),
            F.round(F.avg(value_col), 4).alias("value_avg"),
            F.min(ts_col).alias("first_seen"),
            F.max(ts_col).alias("last_seen"),
        )
        .orderBy(entity_col)
    )


def random_sampler_agg(
    df, id_col: str, value_col: str, permille: int = 250
) -> "DataFrame":
    """ES `random_sampler` aggregation [public: ES random_sampler docs]:
    metrics over a deterministic random subset, doc_count scaled back up by
    1/probability (ES reports scaled counts). The "randomness" is the same
    SQL-portable multiplicative hash the samplers pin (never rand()), so
    results are reproducible and oracle-checkable; the filter is pure
    codegen on the scan. Returns one row
    (n_sampled, doc_count_scaled, value_avg)."""
    from .sample import portable_hash_expr

    if not 0 < permille <= 1000:
        raise ValueError(f"permille must be in (0, 1000]: {permille}")
    sampled = df.filter((portable_hash_expr(id_col) % 1000) < permille)
    return sampled.agg(
        F.count("*").alias("n_sampled"),
        F.floor(F.count("*") * 1000 / permille).cast("long")
        .alias("doc_count_scaled"),
        F.round(F.avg(value_col), 4).alias("value_avg"),
    )


def histogram_filled_agg(df, col: str, interval: float) -> "DataFrame":
    """E5 histogram with min_doc_count=0 [public: ES histogram
    min_doc_count]: every fixed-interval bucket between the observed min and
    max emitted, zeros included — same gap-fill shape as the date variant
    (E45): hash agg over the corpus, sequence() explode over the BUCKET
    frame's span only, one left join; the fill never rescans the corpus."""
    idx = F.floor(F.col(col) / F.lit(interval)).cast("long")
    counts = df.groupBy(idx.alias("_i")).agg(F.count("*").alias("doc_count"))
    span = counts.agg(
        F.min("_i").alias("lo"), F.max("_i").alias("hi")
    )
    grid = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("_i")
    )
    return (
        grid.join(counts, "_i", "left")
        .select(
            (F.col("_i") * interval).cast("double").alias("bucket"),
            F.coalesce("doc_count", F.lit(0)).cast("long").alias("doc_count"),
        )
        .orderBy("bucket")
    )


def rate_agg(df, ts_col: str, value_col: str | None = None) -> "DataFrame":
    """ES `rate` aggregation inside a date_histogram [public: ES rate agg]:
    per DAY bucket, the count (or field sum) rescaled to a PER-HOUR rate —
    rate = bucket_total / 24 (calendar day → 24h, the unit pair pinned
    here). One hash aggregate + codegen division on the bucket frame."""
    day = F.date_trunc("day", F.col(ts_col)).alias("bucket")
    total = (
        F.count("*") if value_col is None else F.sum(value_col)
    )
    return (
        df.groupBy(day)
        .agg(F.round(total / F.lit(24.0), 4).alias("rate_per_hour"))
        .orderBy("bucket")
    )


def serial_diff_agg(
    ev: DataFrame, ts_col: str, unit: str = "day", lag: int = 7
) -> DataFrame:
    """ES serial_diff pipeline aggregation [public: ES serial differencing
    agg docs]: doc_count minus the doc_count `lag` buckets earlier over a
    date_histogram bucket frame (the classic seasonality-removal lag-7).
    The first `lag` buckets have no predecessor and emit NULL, as ES skips
    them. The window runs over the BUCKET frame (≤ thousands of rows after
    the hash-agg), never the raw events — same single-partition-is-fine
    shape as moving_fn/derivative."""
    from pyspark.sql import Window

    b = ev.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket")).agg(
        F.count("*").alias("doc_count")
    )
    w = Window.orderBy("bucket")
    return (
        b.withColumn(
            "serial_diff", F.col("doc_count") - F.lag("doc_count", lag).over(w)
        )
        .orderBy("bucket")
    )


def variable_width_histogram_agg(
    ev: DataFrame, field: str = "value", buckets: int = 4, tiebreak: str = "event_id"
) -> DataFrame:
    """ES variable_width_histogram [public: ES variable_width_histogram agg]
    — pinned DETERMINISTIC variant. ES clusters values with a one-pass
    online algorithm whose buckets depend on shard doc order; that is not
    replayable, so the pinned semantics here are equal-depth buckets:
    ntile(buckets) over (value, tiebreak) order, then min/max/avg/count per
    bucket — the same "bucket widths follow data density" contract with a
    deterministic assignment both engines compute identically.

    Scale note: ntile needs a global ordering (one-partition window). At
    100 TB swap the window for precomputed quantile edges (approx or the
    pack.py range-bucket prefix-sum shape) and a CASE assignment — the
    fixture-scale form keeps the exact equal-depth tie handling the DuckDB
    twin replays."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(field).asc(), F.col(tiebreak).asc())
    return (
        ev.withColumn("bucket", F.ntile(buckets).over(w))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("doc_count"),
            F.round(F.min(field), 4).alias("min_v"),
            F.round(F.max(field), 4).alias("max_v"),
            F.round(F.avg(field), 4).alias("avg_v"),
        )
        .orderBy("bucket")
    )


def change_point_agg(
    ev: DataFrame, ts_col: str, unit: str = "day", value_col: str | None = None
) -> DataFrame:
    """ES `change_point` pipeline aggregation [public: ES change_point agg
    docs] — pinned DETERMINISTIC variant. ES fits several candidate models
    (step_change, spike, dip, trend_change) and reports the best p-value;
    that model search is not replayable, so the pinned semantics here are
    the classic CUSUM estimator for a mean shift: over the date_histogram
    bucket frame, S_t = cumsum(x_t - mean(x)); the change point is the
    bucket maximizing |S_t| (ties -> earliest bucket; the last bucket has
    no right side and is excluded), reported with the mean up to and after
    the split and the shift direction.

    Scale shape: one hash-agg over the raw events, then three windows over
    the BUCKET frame (<= thousands of rows), the same
    single-partition-is-fine shape as moving_fn/serial_diff. The raw table
    is never windowed."""
    from pyspark.sql import Window

    x = (F.count("*") if value_col is None else F.sum(value_col)).alias("x")
    b = ev.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("bucket")).agg(x)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_after = Window.orderBy("bucket").rowsBetween(1, Window.unboundedFollowing)
    s = (
        b.withColumn(
            "cusum", F.sum(F.col("x") - F.avg("x").over(w_all)).over(w_cum)
        )
        .withColumn("mean_before", F.avg("x").over(w_cum))
        .withColumn("mean_after", F.avg("x").over(w_after))
        .where(F.col("mean_after").isNotNull())
    )
    return (
        s.orderBy(F.abs(F.col("cusum")).desc(), F.col("bucket").asc())
        .limit(1)
        .select(
            F.col("bucket").alias("change_point"),
            F.round("cusum", 4).alias("cusum"),
            F.round("mean_before", 4).alias("mean_before"),
            F.round("mean_after", 4).alias("mean_after"),
            F.when(F.col("mean_after") > F.col("mean_before"), F.lit("increase"))
            .otherwise(F.lit("decrease"))
            .alias("direction"),
        )
    )


def bucket_correlation_agg(
    ev: DataFrame, field: str = "value", interval: float = 10.0
) -> DataFrame:
    """ES `bucket_correlation` pipeline aggregation with the
    `count_correlation` function [public: ES bucket_correlation agg docs] —
    Pearson correlation between per-bucket doc counts of a histogram and an
    indicator vector. The indicator pinned here is the linear ramp
    1..n_buckets (the canonical "is the metric trending with the buckets"
    probe); ES takes the vector verbatim, the ramp keeps the query
    self-contained. One hash-agg to the bucket frame, one window for the
    ramp index, one corr() aggregate — the raw table is scanned once."""
    from pyspark.sql import Window

    b = ev.groupBy(
        (F.floor(F.col(field) / F.lit(interval)) * F.lit(interval)).alias(
            "bucket"
        )
    ).agg(F.count("*").alias("doc_count"))
    idx = F.row_number().over(Window.orderBy("bucket"))
    return b.withColumn("indicator", idx.cast("double")).agg(
        F.round(F.corr("doc_count", "indicator"), 4).alias("correlation"),
        F.count("*").alias("n_buckets"),
    )


def terms_ordered_by_metric_agg(
    df: DataFrame, field: str, metric_col: str, size: int = 10
) -> DataFrame:
    """ES `terms` aggregation ordered by a sub-aggregation metric
    [public: ES terms agg `order` param]: buckets ranked by avg(metric)
    instead of doc_count (order: {"avg_m": "desc"}), ties on the key.
    Same one-shuffle hash-agg as terms_agg; the ordering runs on the bucket
    frame so the top-k is a coordinator-sized TakeOrdered."""
    return (
        df.groupBy(field)
        .agg(
            F.count("*").alias("doc_count"),
            F.round(F.avg(metric_col), 4).alias("avg_metric"),
        )
        .orderBy(F.col("avg_metric").desc(), F.col(field).asc())
        .limit(size)
    )


def reverse_nested_agg(
    items: DataFrame,
    parent_key: str,
    bucket_field: str,
    predicate,
    size: int = 10,
) -> DataFrame:
    """ES `reverse_nested` aggregation [public: ES reverse_nested agg docs]:
    inside a nested context (one row per nested item), bucket by an item
    field and report BOTH the nested doc_count and the count of distinct
    PARENT documents per bucket — the join back to the parent level that
    reverse_nested exists for. Our nested representation is the items table
    keyed by parent_key (registry search_nested pins the same
    lineitem-under-orders shape). One hash-agg with a distinct count; Spark
    rewrites count(DISTINCT) into a two-stage partial aggregate, no shuffle
    beyond the groupBy key exchange."""
    return (
        items.where(predicate)
        .groupBy(bucket_field)
        .agg(
            F.count("*").alias("doc_count"),
            F.countDistinct(parent_key).alias("parent_count"),
        )
        .orderBy(F.col("doc_count").desc(), F.col(bucket_field).asc())
        .limit(size)
    )


def transform_latest(
    df: DataFrame, unique_key: str, sort_col: str, tiebreak: str
) -> DataFrame:
    """ES transform `latest` mode [public: ES transforms docs]: the most
    recent document per unique key, deterministic via an id tiebreak (ES
    breaks ties by internal doc order — unreplayable, so the tiebreak column
    is pinned). KEYED window (partitioned by the unique key) — one shuffle
    on the key, no global window, scales like any groupBy."""
    from pyspark.sql import Window

    w = Window.partitionBy(unique_key).orderBy(
        F.col(sort_col).desc(), F.col(tiebreak).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def terms_sum_other_agg(df: DataFrame, field: str, size: int = 5) -> DataFrame:
    """ES `terms` agg `sum_other_doc_count` semantic [public: ES terms agg
    response body]: the top-`size` buckets PLUS one `__other__` row holding
    the doc count that fell outside them — the field ES reports so users
    know how much the truncated bucket list hides (here computed exactly;
    ES's per-shard approximation error is 0 in a single hash-agg). One
    hash agg; the top-k split happens on the bucket frame."""
    from pyspark.sql import Window

    b = df.groupBy(field).agg(F.count("*").alias("doc_count"))
    w = Window.orderBy(F.col("doc_count").desc(), F.col(field).asc())
    ranked = b.withColumn("_rn", F.row_number().over(w))
    top = ranked.where(F.col("_rn") <= size).drop("_rn")
    other = (
        ranked.where(F.col("_rn") > size)
        .agg(F.coalesce(F.sum("doc_count"), F.lit(0)).alias("doc_count"))
        .select(F.lit("__other__").alias(field), "doc_count")
    )
    return top.unionByName(other).orderBy(
        F.col("doc_count").desc(), F.col(field).asc()
    )
