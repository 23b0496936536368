"""Aggregation operators: conditional counts, guarded ratios, overall
rollups, avg-of-daily-ratios.

Reference parity (SURVEY.md §2.4): the reference hand-rolled partial/final
aggregation with per-chunk dict accumulators and HLL sketches
(scripts/ads_passenger_travel_info_mi.py:244-344). On Spark, partial→final
hash aggregation is built in; these helpers capture the *semantics* layer:
  * A2/A4 conditional counts/sums (one pass, no self-join),
  * A5 approx_count_distinct == reference's HyperLogLog(0.01),
  * A9 'overall' rollup (grouping-sets, not a second scan),
  * A11 avg-of-daily-ratios (the reference's hardest metric),
  * A12 zero-guarded ratios.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ad_data_pipelines_spark.sources.local import local_frame


def count_if(cond: Column) -> Column:
    """Conditional count in one aggregation pass (A2).

    Reference computed journey vs transfer counts by filtering twice and
    joining (scripts/ads_ridership_…py:91-99); this is the single-pass
    map-side-combinable form.
    """
    return F.sum(F.when(cond, 1).otherwise(0))


def sum_if(cond: Column, value: Column) -> Column:
    """Conditional sum (A4): reference's ``sum(qty * is_csc)``
    (scripts/ads_csc_sales_revenue_region_mi.R:41)."""
    return F.sum(F.when(cond, value).otherwise(F.lit(0)))


def approx_users(col: str, rsd: float = 0.01) -> Column:
    """Distinct-user estimate (A5): Spark HLL++ at the reference's 1% rsd
    (scripts/ads_passenger_travel_info_mi.py:266)."""
    return F.approx_count_distinct(col, rsd)


def guarded_ratio(num: Column, den: Column) -> Column:
    """num/den with den<=0 → 0 (A12):
    reference scripts/ads_passenger_travel_info_mi.py:442-445."""
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def rollup_overall(
    df: DataFrame,
    group_cols: Sequence[str],
    rollup_col: str,
    aggs: Sequence[Column],
    overall_label: str = "overall",
) -> DataFrame:
    """Aggregate by group_cols+rollup_col AND group_cols alone, with the
    collapsed grain labeled `overall_label` (A9).

    One shuffle via grouping sets — the reference recomputed the overall
    grain in a second pass and unioned
    (scripts/ads_passenger_travel_info_mi.py:469-516); Catalyst's Expand
    produces both grains from a single scan.
    """
    sets = [tuple([*group_cols, rollup_col]), tuple(group_cols)]
    gs = df.groupingSets(sets, *[F.col(c) for c in [*group_cols, rollup_col]])
    # grouping() (not NULL-coalesce) identifies the collapsed grain, so
    # detail rows whose rollup_col is genuinely NULL are never relabeled
    # into — and double-counted under — the overall bucket.
    out = gs.agg(*aggs, F.grouping(rollup_col).alias("__is_rollup"))
    return out.withColumn(
        rollup_col,
        F.when(F.col("__is_rollup") == 1, F.lit(overall_label)).otherwise(
            F.col(rollup_col)
        ),
    ).drop("__is_rollup")


def avg_daily_ratio_per_month(
    df: DataFrame,
    date_col: str,
    month_col: str,
    group_cols: Sequence[str],
    num_agg: Column,
    den_agg: Column,
    out_col: str,
) -> DataFrame:
    """A11 avg-of-daily-ratios: Σ_days(daily_num/daily_den) ÷ calendar
    days-in-month. Days with den==0 contribute 0; the divisor is calendar
    days, NOT active days (reference semantics,
    scripts/ads_passenger_travel_info_mi.py:415-436).

    Two chained aggregations: daily grain first, then monthly. Both are
    shuffle-partitioned on their group keys; the daily→monthly shuffle is
    tiny (one row per day×group).
    """
    daily = df.groupBy(month_col, date_col, *group_cols).agg(
        num_agg.alias("__num"), den_agg.alias("__den")
    )
    ratio = F.when(F.col("__den") > 0, F.col("__num") / F.col("__den")).otherwise(0.0)
    monthly = (
        daily.withColumn("__ratio", ratio)
        .groupBy(month_col, *group_cols)
        .agg(
            (
                F.sum("__ratio")
                / F.dayofmonth(F.last_day(F.to_date(F.concat(F.col(month_col), F.lit("-01")))))
            ).alias(out_col)
        )
    )
    return monthly


def sketch_distinct(
    df: DataFrame,
    value_col: str,
    grain_cols: Sequence[str],
    lg_k: int = 12,
) -> DataFrame:
    """Per-grain Datasketches HLL sketches: (grain_cols..., sketch).

    The 100 TB distinct-count pattern that `approx_count_distinct`
    alone can't give you: a COUNT(DISTINCT user) per day can never be
    re-aggregated to months (distincts don't sum), so every new grain
    means a full rescan. Sketches are MERGEABLE state — materialize the
    fine grain once, then `merge_sketches` rolls up to any coarser
    grain (or a what-if region grouping) by unioning kilobyte-sized
    binaries instead of rescanning the fact table. The reference kept
    per-chunk HLL accumulators in memory for exactly this reason
    (scripts/ads_passenger_travel_info_mi.py:244-344); Spark's
    `hll_sketch_agg` is the distributed, persistable form.
    """
    return df.groupBy(*grain_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    )


def merge_sketches(
    sketches: DataFrame, rollup_cols: Sequence[str]
) -> DataFrame:
    """Roll sketches up to a coarser grain: (rollup_cols...,
    distinct_est). Input is `sketch_distinct` output (or a table of it
    read back from parquet — sketches are plain binary columns)."""
    return sketches.groupBy(*rollup_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_est")
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lower: float = 0.05,
    upper: float = 0.95,
    exact: bool = False,
    round_dp: int = 4,
) -> DataFrame:
    """Per-group winsorization report: clamp `value_col` to its own
    group's [lower, upper] quantiles and compare means before/after —
    the quantile generalization of the reference's fixed-bound outlier
    clamp (P14, `scripts/ads_passenger_travel_time_di.R` 240-minute
    cap), for feeds where sane bounds differ per group.

    Output: (group..., n, q_lo, q_hi, avg_raw, avg_winsorized).

    Scale shape: one per-group quantile aggregate, whose result (one
    row per group — small by construction) broadcast-joins back onto
    the facts for the clamp, then one re-aggregate: the fact table
    never shuffles for the enrichment, only for the two combinable
    aggregations. `exact=True` uses `percentile` (sort-based within
    the agg — needed for the DuckDB quantile_cont oracle); production
    default is `approx_percentile` (mergeable sketch, one pass at any
    scale, same plan shape).
    """
    gcols = list(group_cols)
    v = F.col(value_col)
    if exact:
        q_lo, q_hi = (
            F.percentile(v, F.lit(lower)),
            F.percentile(v, F.lit(upper)),
        )
    else:
        q_lo, q_hi = (
            F.approx_percentile(v, F.lit(lower), F.lit(10_000)),
            F.approx_percentile(v, F.lit(upper), F.lit(10_000)),
        )
    bounds = df.groupBy(*gcols).agg(
        q_lo.alias("__q_lo"), q_hi.alias("__q_hi")
    )
    clamped = df.join(F.broadcast(bounds), gcols).select(
        *gcols,
        v.alias("__raw"),
        F.least(F.greatest(v, F.col("__q_lo")), F.col("__q_hi")).alias(
            "__w"
        ),
        "__q_lo",
        "__q_hi",
    )
    return clamped.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.first("__q_lo"), round_dp).alias("q_lo"),
        F.round(F.first("__q_hi"), round_dp).alias("q_hi"),
        F.round(F.avg("__raw"), round_dp).alias("avg_raw"),
        F.round(F.avg("__w"), round_dp).alias("avg_winsorized"),
    )


def winsorized_stats_sql(
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    lower: float = 0.05,
    upper: float = 0.95,
    round_dp: int = 4,
) -> str:
    """DuckDB twin of `winsorized_stats(exact=True)` — quantile_cont
    matches Spark's `percentile` (linear interpolation at rank
    p·(n−1))."""
    g = ", ".join(group_cols)
    return f"""
        WITH bounds AS (
            SELECT {g},
                   quantile_cont({value_col}, {lower}) AS q_lo,
                   quantile_cont({value_col}, {upper}) AS q_hi
            FROM {table} GROUP BY {g}
        )
        SELECT t.{g.replace(', ', ', t.')},
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(ANY_VALUE(q_lo), {round_dp}) AS q_lo,
               ROUND(ANY_VALUE(q_hi), {round_dp}) AS q_hi,
               ROUND(AVG({value_col}), {round_dp}) AS avg_raw,
               ROUND(AVG(LEAST(GREATEST({value_col}, q_lo), q_hi)),
                     {round_dp}) AS avg_winsorized
        FROM {table} t JOIN bounds USING ({g})
        GROUP BY t.{g.replace(', ', ', t.')}
    """


def robust_outlier_stats(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: float = 3.5,
    round_dp: int = 4,
) -> DataFrame:
    """Per-group robust outlier report via median/MAD — the
    resistant sibling of `winsorized_stats` (a mean/σ z-score is
    itself dragged by the outliers it hunts; median and MAD have a 50%
    breakdown point). Output: (group..., n, med, mad, n_outliers)
    where outliers are |x − med| > k·MAD (k≈3.5 ≙ the classic robust
    z cutoff with the 1.4826 consistency factor folded in by choice
    of k).

    Scale shape: two grouped exact-median aggregates (value, then
    absolute deviation) with the 1-row-per-group results broadcast
    back — the facts never shuffle for enrichment, mirroring
    `winsorized_stats`; production swaps `percentile` for the
    mergeable `approx_percentile` sketch exactly as there.
    """
    gcols = list(group_cols)
    v = F.col(value_col)
    med = df.groupBy(*gcols).agg(
        F.percentile(v, F.lit(0.5)).alias("__med")
    )
    dev = df.join(F.broadcast(med), gcols).select(
        *gcols, v.alias("__v"), F.abs(v - F.col("__med")).alias("__d"),
        "__med",
    )
    mad = dev.groupBy(*gcols).agg(
        F.percentile(F.col("__d"), F.lit(0.5)).alias("__mad")
    )
    flagged = dev.join(F.broadcast(mad), gcols)
    return flagged.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.first("__med"), round_dp).alias("med"),
        F.round(F.first("__mad"), round_dp).alias("mad"),
        F.count_if(
            F.abs(F.col("__v") - F.col("__med"))
            > F.lit(k) * F.col("__mad")
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


def robust_outlier_stats_sql(
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    k: float = 3.5,
    round_dp: int = 4,
) -> str:
    """DuckDB twin of `robust_outlier_stats` (quantile_cont ≙ Spark
    percentile interpolation)."""
    g = ", ".join(group_cols)
    return f"""
        WITH med AS (
            SELECT {g}, quantile_cont({value_col}, 0.5) AS med
            FROM {table} GROUP BY {g}
        ),
        dev AS (
            SELECT t.*, med, ABS({value_col} - med) AS d
            FROM {table} t JOIN med USING ({g})
        ),
        mad AS (
            SELECT {g}, quantile_cont(d, 0.5) AS mad
            FROM dev GROUP BY {g}
        )
        SELECT {g},
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(ANY_VALUE(med), {round_dp}) AS med,
               ROUND(ANY_VALUE(mad), {round_dp}) AS mad,
               CAST(COUNT(*) FILTER (
                   WHERE ABS({value_col} - med) > {k} * mad
               ) AS BIGINT) AS n_outliers
        FROM dev JOIN mad USING ({g})
        GROUP BY {g}
    """


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    sample_flag: Column,
    round_dp: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per group:
    D = max |ECDF_a(v) − ECDF_b(v)| between the rows where
    `sample_flag` is true (sample a) and false (sample b) — the
    standard "did this week's distribution move vs last week's"
    monitor for numeric feeds, complementing `embedding_group_stats`
    (vector drift) and `a19`'s robust outliers (point anomalies).

    Output: (group..., n_a, n_b, ks_stat).

    Scale shape: one (group, value) count aggregate (combinable)
    carries per-sample counts as two conditional sums, then ONE
    cumulative window per group ordered by value turns counts into
    ECDFs — the same single-shuffle discipline as the W-family; totals
    ride the same window (partition frame), no second pass or join.
    Groups are assumed plentiful relative to executors (the usual
    monitoring shape: many slices); a single giant group would need
    the packing-style sharded prefix sum, documented not implemented.
    Rows where the flag is NULL are excluded (neither sample), as are
    NULL values (an ECDF over NULLs is undefined, and the engines
    disagree on NULL sort order — Spark nulls-first, SQL nulls-last).
    """
    gcols = list(group_cols)
    tagged = df.filter(
        sample_flag.isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *gcols,
        F.col(value_col).alias("__v"),
        F.when(sample_flag, 1).otherwise(0).alias("__a"),
    )
    counts = tagged.groupBy(*gcols, "__v").agg(
        F.sum("__a").alias("n_a"),
        F.sum(1 - F.col("__a")).alias("n_b"),
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gcols)
    ecdf_gap = F.abs(
        F.sum("n_a").over(w_cum) / F.sum("n_a").over(w_all)
        - F.sum("n_b").over(w_cum) / F.sum("n_b").over(w_all)
    )
    stepped = counts.select(
        *gcols,
        F.sum("n_a").over(w_all).cast("bigint").alias("__ta"),
        F.sum("n_b").over(w_all).cast("bigint").alias("__tb"),
        ecdf_gap.alias("__gap"),
    )
    return stepped.groupBy(*gcols).agg(
        F.first("__ta").alias("n_a"),
        F.first("__tb").alias("n_b"),
        F.round(F.max("__gap"), round_dp).alias("ks_stat"),
    )


def ks_drift_sql(
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    flag_sql: str,
    round_dp: int = 6,
) -> str:
    """DuckDB twin of `ks_drift` (`flag_sql` a boolean expression)."""
    g = ", ".join(group_cols)
    return f"""
        WITH tagged AS (
            SELECT {g}, {value_col} AS v,
                   CASE WHEN {flag_sql} THEN 1 ELSE 0 END AS a
            FROM {table}
            WHERE ({flag_sql}) IS NOT NULL AND {value_col} IS NOT NULL
        ),
        counts AS (
            SELECT {g}, v, SUM(a) AS n_a, SUM(1 - a) AS n_b
            FROM tagged GROUP BY {g}, v
        ),
        stepped AS (
            SELECT {g},
                   SUM(n_a) OVER (PARTITION BY {g}) AS ta,
                   SUM(n_b) OVER (PARTITION BY {g}) AS tb,
                   ABS(SUM(n_a) OVER (PARTITION BY {g} ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
                       / SUM(n_a) OVER (PARTITION BY {g})
                     - SUM(n_b) OVER (PARTITION BY {g} ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
                       / SUM(n_b) OVER (PARTITION BY {g})) AS gap
            FROM counts
        )
        SELECT {g},
               CAST(ANY_VALUE(ta) AS BIGINT) AS n_a,
               CAST(ANY_VALUE(tb) AS BIGINT) AS n_b,
               ROUND(MAX(gap), {round_dp}) AS ks_stat
        FROM stepped
        GROUP BY {g}
    """


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    sample_flag: Column,
    lo: float,
    hi: float,
    n_bins: int = 10,
    eps: float = 1e-4,
    round_dp: int = 6,
) -> DataFrame:
    """Population Stability Index per group — the binned sibling of
    `ks_drift` and the industry-standard model-monitoring drift score:
    PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b) over `n_bins` equal-width
    bins spanning [lo, hi] (values outside clamp into the edge bins).
    Rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.

    Output: (group..., n_a, n_b, psi).

    Scale shape: binning is a map-only width computation, then ONE
    (group, bin) combinable count and one per-group aggregate — no
    windows at all, so unlike the KS statistic this scales to a
    single giant group without a prefix-sum rewrite. Fixed [lo, hi]
    keeps bins comparable ACROSS runs (the monitoring contract: bin
    edges must not move with the data); empty-bin proportions floor
    at `eps` — the standard PSI guard, since ln(p/0) is infinite.
    NULL flags/values are excluded as in `ks_drift`.
    """
    gcols = list(group_cols)
    width = (hi - lo) / n_bins
    v = F.col(value_col)
    bin_ = F.least(
        F.greatest(
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    tagged = df.filter(sample_flag.isNotNull() & v.isNotNull()).select(
        *gcols,
        bin_.alias("__bin"),
        F.when(sample_flag, 1).otherwise(0).alias("__a"),
    )
    binned = tagged.groupBy(*gcols, "__bin").agg(
        F.sum("__a").alias("n_a"),
        F.sum(1 - F.col("__a")).alias("n_b"),
    )
    w_all = Window.partitionBy(*gcols)
    p_a = F.greatest(
        F.col("n_a") / F.sum("n_a").over(w_all), F.lit(eps)
    )
    p_b = F.greatest(
        F.col("n_b") / F.sum("n_b").over(w_all), F.lit(eps)
    )
    terms = binned.select(
        *gcols,
        F.sum("n_a").over(w_all).cast("bigint").alias("__ta"),
        F.sum("n_b").over(w_all).cast("bigint").alias("__tb"),
        ((p_a - p_b) * F.log(p_a / p_b)).alias("__term"),
    )
    return terms.groupBy(*gcols).agg(
        F.first("__ta").alias("n_a"),
        F.first("__tb").alias("n_b"),
        F.round(F.sum("__term"), round_dp).alias("psi"),
    )


def psi_drift_sql(
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    flag_sql: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    eps: float = 1e-4,
    round_dp: int = 6,
) -> str:
    """DuckDB twin of `psi_drift`."""
    g = ", ".join(group_cols)
    width = (hi - lo) / n_bins
    bin_ = (
        f"LEAST(GREATEST(CAST(FLOOR(({value_col} - {lo!r}) / {width!r}) "
        f"AS INTEGER), 0), {n_bins - 1})"
    )
    return f"""
        WITH tagged AS (
            SELECT {g}, {bin_} AS bin,
                   CASE WHEN {flag_sql} THEN 1 ELSE 0 END AS a
            FROM {table}
            WHERE ({flag_sql}) IS NOT NULL AND {value_col} IS NOT NULL
        ),
        binned AS (
            SELECT {g}, bin, SUM(a) AS n_a, SUM(1 - a) AS n_b
            FROM tagged GROUP BY {g}, bin
        ),
        terms AS (
            SELECT {g},
                   SUM(n_a) OVER (PARTITION BY {g}) AS ta,
                   SUM(n_b) OVER (PARTITION BY {g}) AS tb,
                   (GREATEST(n_a / SUM(n_a) OVER (PARTITION BY {g}),
                             {eps!r})
                    - GREATEST(n_b / SUM(n_b) OVER (PARTITION BY {g}),
                               {eps!r}))
                   * ln(GREATEST(n_a / SUM(n_a) OVER (PARTITION BY {g}),
                                 {eps!r})
                        / GREATEST(n_b / SUM(n_b) OVER (PARTITION BY {g}),
                                   {eps!r})) AS term
            FROM binned
        )
        SELECT {g},
               CAST(ANY_VALUE(ta) AS BIGINT) AS n_a,
               CAST(ANY_VALUE(tb) AS BIGINT) AS n_b,
               ROUND(SUM(term), {round_dp}) AS psi
        FROM terms
        GROUP BY {g}
    """


def psi_vs_reference(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    ref_props: Sequence[float],
    lo: float,
    hi: float,
    eps: float = 1e-4,
    round_dp: int = 6,
) -> DataFrame:
    """PSI of each group's `value_col` distribution against a FIXED
    reference histogram — the production monitoring form of
    `psi_drift`: the reference proportions (one per equal-width bin on
    [lo, hi], e.g. the training-period distribution) are pinned
    constants, so any single sample — a day's partition, a streaming
    micro-batch — scores alone, without re-reading the baseline data.

    Output: (group..., n_values, psi).

    Scale shape: map-only binning, ONE (group, bin) combinable count,
    then a broadcast join against the n_bins-row reference spine (all
    bins present — an EMPTY bin still contributes (eps − r)·ln(eps/r),
    which the two-sample form's shared-eps cancellation hides), and a
    final per-group aggregate. No windows anywhere, so one giant group
    costs the same as many small ones.
    """
    n_bins = len(ref_props)
    if n_bins == 0:
        raise ValueError("ref_props must carry at least one bin")
    if any(p < 0 for p in ref_props):
        raise ValueError("reference proportions must be non-negative")
    total = sum(ref_props)
    if abs(total - 1.0) > 1e-6:
        raise ValueError(
            f"reference proportions must sum to 1 (got {total}) — "
            "normalize upstream so PSI magnitudes stay comparable"
        )
    if hi <= lo:
        raise ValueError(f"empty value range [{lo}, {hi})")
    gcols = list(group_cols)
    width = (hi - lo) / n_bins
    v = F.col(value_col)
    bin_ = F.least(
        F.greatest(
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    counts = (
        df.filter(v.isNotNull())
        .select(*gcols, bin_.alias("__bin"))
        .groupBy(*gcols, "__bin")
        .agg(F.count("*").alias("__n"))
    )
    totals = counts.groupBy(*gcols).agg(
        F.sum("__n").cast("bigint").alias("n_values")
    )
    spark = df.sparkSession
    spine = spark.range(n_bins).select(
        F.col("id").cast("int").alias("__bin"),
        F.element_at(
            F.array(*[F.lit(float(p)) for p in ref_props]),
            F.col("id").cast("int") + 1,
        ).alias("__r"),
    )
    full = (
        totals.crossJoin(F.broadcast(spine))
        .join(counts, [*gcols, "__bin"], "left")
        .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0)))
    )
    p = F.greatest(F.col("__n") / F.col("n_values"), F.lit(eps))
    r = F.greatest(F.col("__r"), F.lit(eps))
    return (
        full.withColumn("__term", (p - r) * F.log(p / r))
        .groupBy(*gcols, "n_values")
        .agg(F.round(F.sum("__term"), round_dp).alias("psi"))
    )


def psi_vs_reference_sql(
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    ref_props: Sequence[float],
    lo: float,
    hi: float,
    eps: float = 1e-4,
    round_dp: int = 6,
) -> str:
    """DuckDB twin of `psi_vs_reference`."""
    n_bins = len(ref_props)
    g = ", ".join(group_cols)
    width = (hi - lo) / n_bins
    bin_ = (
        f"LEAST(GREATEST(CAST(FLOOR(({value_col} - {lo!r}) / {width!r}) "
        f"AS INTEGER), 0), {n_bins - 1})"
    )
    props = ", ".join(repr(float(p)) for p in ref_props)
    return f"""
        WITH counts AS (
            SELECT {g}, {bin_} AS bin, COUNT(*) AS n
            FROM {table} WHERE {value_col} IS NOT NULL
            GROUP BY {g}, bin
        ),
        totals AS (
            SELECT {g}, CAST(SUM(n) AS BIGINT) AS n_values
            FROM counts GROUP BY {g}
        ),
        spine AS (
            SELECT CAST(i AS INTEGER) AS bin, r
            FROM (SELECT unnest(range({n_bins})) AS i,
                         unnest([{props}]) AS r)
        ),
        filled AS (
            SELECT t.*, s.bin, s.r, COALESCE(c.n, 0) AS n
            FROM totals t CROSS JOIN spine s
            LEFT JOIN counts c USING ({g}, bin)
        )
        SELECT {g}, n_values,
               ROUND(SUM(
                   (GREATEST(n * 1.0 / n_values, {eps!r}) - GREATEST(r, {eps!r}))
                   * ln(GREATEST(n * 1.0 / n_values, {eps!r})
                        / GREATEST(r, {eps!r}))), {round_dp}) AS psi
        FROM filled
        GROUP BY {g}, n_values
    """


def group_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (OLS y = a·x + b) as ONE
    combinable aggregate — the grouped trend-fit primitive (price vs
    quantity elasticity, daily-volume trend per route, token-count
    drift per source) that needs no window and no second pass.

    Output: (group..., n, slope, intercept) with
      slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²),
      intercept = (Σy − slope·Σx) / n;
    degenerate groups (constant x, so the denominator is 0) report
    NULL slope/intercept rather than ±inf.

    Scale + determinism shape: the five moments (n, Σx, Σy, Σxy, Σx²)
    are partial/final combinable sums — Catalyst pushes them map-side,
    so the shuffle carries 5 numbers per group. They accumulate in
    DECIMAL, not DOUBLE: float sums are order-dependent across
    partitions (and engines), while decimal sums are exact, so the
    closed-form arithmetic — done in IEEE double AFTER the exact sums,
    identical operation order in the DuckDB twin — is bit-reproducible
    under any partitioning. Inputs are snapped to 2 decimal places on
    the way in (exact for currency/quantity feeds; a measured-double
    feed loses sub-cent noise, not ranking).
    """
    xd = F.col(x_col).cast("decimal(14,2)")
    yd = F.col(y_col).cast("decimal(14,2)")
    agg = df.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    intercept = (sy - slope * sx) / n
    return agg.select(
        *group_cols,
        "n",
        F.round(slope, round_dp).alias("slope"),
        F.round(intercept, round_dp).alias("intercept"),
    )


def group_ols_sql(
    table: str,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> str:
    """DuckDB twin of `group_ols` — same decimal-exact moments, same
    double-arithmetic closed form in the same operation order."""
    g = ", ".join(group_cols)
    return f"""
        WITH m AS (
            SELECT {g},
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST({x_col} AS DECIMAL(14,2))) AS sx,
                   SUM(CAST({y_col} AS DECIMAL(14,2))) AS sy,
                   SUM(CAST({x_col} AS DECIMAL(14,2))
                       * CAST({y_col} AS DECIMAL(14,2))) AS sxy,
                   SUM(CAST({x_col} AS DECIMAL(14,2))
                       * CAST({x_col} AS DECIMAL(14,2))) AS sxx
            FROM {table}
            GROUP BY {g}
        ),
        d AS (
            SELECT {g}, n,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(sx AS DOUBLE) AS sxd,
                   CAST(sy AS DOUBLE) AS syd,
                   CAST(sxy AS DOUBLE) AS sxyd,
                   CAST(sxx AS DOUBLE) AS sxxd
            FROM m
        )
        SELECT {g}, n,
               ROUND(CASE WHEN nd * sxxd - sxd * sxd <> 0 THEN
                   (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
               END, {round_dp}) AS slope,
               ROUND((syd - (CASE WHEN nd * sxxd - sxd * sxd <> 0 THEN
                   (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
               END) * sxd) / nd, {round_dp}) AS intercept
        FROM d
    """


def _monotone_double(col: Column, dtype: str) -> Column:
    """Deterministic, order-preserving (non-decreasing) map of a column
    into double, used ONLY as shard-boundary material (rows are never
    RANKED on it, so collisions merely co-locate rows in a shard).

    Strings map to the big-endian value of their first 8 bytes, hex
    right-padded to 16 nibbles — without the pad, ``"az" (0x617A)``
    would encode above ``"b" (0x62)`` and break monotonicity in the
    binary (UTF-8) collation Spark sorts strings by."""
    if dtype == "string":
        return F.conv(
            F.rpad(F.hex(F.substring(col.cast("binary"), 1, 8)), 16, "0"),
            16,
            10,
        ).cast("double")
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        return col.cast("timestamp").cast("double")
    if dtype == "boolean":
        return col.cast("int").cast("double")
    return col.cast("double")


def _ntile_shards(
    df: DataFrame,
    order_by: Sequence[str],
    lo: float,
    hi: float,
    shard_buckets: int,
    sub_buckets: int,
) -> tuple[DataFrame, list[tuple[int, int]], int]:
    """Shard assignment for `distributed_ntile`, with the one-level
    skew fallback: returns (df + ``__shard``, [(shard, count)], total).

    Range-shards on the first order column's value; the per-shard
    count/boundary probe (≤ shard_buckets rows, collected driver-side)
    detects shards holding > 2× the mean and re-shards them into
    ``sub_buckets`` sub-shards at the shard's own ``percentile_approx``
    edges — balanced by CONSTRUCTION for any distribution (a linear
    sub-range is not: digit-string byte encodings cluster all mass in
    two cells). A multi-value shard splits on the first column's own
    quantile edges, a single-value shard (the 90%-constant-column
    degeneracy) on quantile edges of a monotone double encoding of the
    SECOND order column. Both splits are monotone in the shard's sort
    order, so ``shard * sub_buckets + sub`` preserves global order;
    edge placement (and percentile_approx's approximation) can only
    affect BALANCE, never ranks — sub assignment is the same collected
    literal array in the count job and the rank job."""
    first = order_by[0]
    first_d = F.col(first).cast("double")
    span = (hi - lo) or 1.0
    shard = F.least(
        F.floor((first_d - lo) / span * shard_buckets),
        F.lit(shard_buckets - 1),
    ).cast("bigint")
    sharded = df.withColumn("__shard", shard)

    dtypes = dict(df.dtypes)
    second = order_by[1] if len(order_by) > 1 else None
    mono2 = (
        _monotone_double(F.col(second), dtypes[second])
        if second is not None
        else first_d
    )
    # Probe pass: counts + min/max only (cheap combinable aggregates —
    # no quantile sketches). The t-digest-sized percentile_approx
    # sketches are built in a SECOND aggregate restricted to the shards
    # that actually exceed the skew threshold — on the common
    # (non-skewed) path no sketch is ever computed, and the second
    # column's min/max is skipped entirely when there IS no second
    # order column (it would just duplicate the first's).
    probe_aggs = [
        F.count("*").alias("c"),
        F.min(first_d).alias("f_lo"),
        F.max(first_d).alias("f_hi"),
    ]
    if second is not None:
        probe_aggs += [F.min(mono2).alias("s_lo"), F.max(mono2).alias("s_hi")]
    stats = sharded.groupBy("__shard").agg(*probe_aggs).collect()
    total = sum(r["c"] for r in stats)
    threshold = max(2.0 * total / shard_buckets, 1.0)

    def _split_source(r) -> str | None:
        """Which column a hot shard splits on: 'f' = its own sub-range
        of the first column (multi-value shard), 's' = the second
        column's monotone double (single-first-value shard), None =
        keep (under threshold, or constant on both columns)."""
        if r["c"] <= threshold or r["c"] <= 1:
            return None
        if r["f_lo"] is not None and r["f_lo"] < r["f_hi"]:
            return "f"
        if (
            second is not None
            and r["s_lo"] is not None
            and r["s_hi"] is not None
            and r["s_lo"] < r["s_hi"]
        ):
            return "s"
        return None  # constant on both columns: unsplittable

    split_src = {r["__shard"]: _split_source(r) for r in stats}
    hot = [s for s, src in split_src.items() if src is not None]
    if not hot:
        return sharded, [(r["__shard"], r["c"]) for r in stats], total

    # Sketch pass, hot shards only: the quantile edges that define the
    # sub-shards. The second-column sketch is computed only if some hot
    # shard splits on it.
    qs = [i / sub_buckets for i in range(1, sub_buckets)]
    sketch_aggs = [F.percentile_approx(first_d, qs, 10_000).alias("f_edges")]
    if any(split_src[s] == "s" for s in hot):
        sketch_aggs.append(
            F.percentile_approx(mono2, qs, 10_000).alias("s_edges")
        )
    qstats = (
        sharded.filter(F.col("__shard").isin([int(s) for s in hot]))
        .groupBy("__shard")
        .agg(*sketch_aggs)
        .collect()
    )
    edges = {
        r["__shard"]: [
            float(e)
            for e in (
                r["f_edges"]
                if split_src[r["__shard"]] == "f"
                else r["s_edges"]
            )
        ]
        for r in qstats
    }
    edges.update({s: [] for s, src in split_src.items() if src is None})

    # which source column each split shard cuts on: a multi-value
    # shard cuts on the first column, a single-value shard on the
    # second's monotone double
    on_second = {s: src == "s" for s, src in split_src.items()}
    bounds = local_frame(
        df.sparkSession,
        [(s, bool(on_second[s]), e) for s, e in edges.items()],
        "__shard bigint, __on_second boolean, __edges array<double>",
    )
    src = F.when(F.col("__on_second"), mono2).otherwise(first_d)
    # sub = number of edges strictly below src: monotone non-decreasing
    # in src, so order within the shard is preserved; NULL src (NULLs
    # sort first) filters to an empty array → sub 0, the smallest
    sub = F.coalesce(
        F.size(F.filter("__edges", lambda e: e < src)), F.lit(0)
    )
    sharded = (
        sharded.join(F.broadcast(bounds), "__shard")
        .withColumn(
            "__shard",
            (F.col("__shard") * sub_buckets + sub).cast("bigint"),
        )
        .drop("__on_second", "__edges")
    )
    counts = [
        (r["__shard"], r["c"])
        for r in sharded.groupBy("__shard")
        .agg(F.count("*").alias("c"))
        .collect()
    ]
    return sharded, counts, total


def distributed_ntile(
    df: DataFrame,
    n: int,
    order_by: Sequence[str],
    out_col: str = "ntile",
    shard_buckets: int = 64,
    sub_buckets: int = 16,
) -> DataFrame:
    """Exact global ``NTILE(n)`` without a single-partition sort — the
    scale-safe form of the rank-bucket report (W8).

    ``Window.orderBy(...)`` with no partitionBy collapses the whole
    input onto ONE task — the canonical 100×-scale killer. This is the
    same global-order problem the packing prefix sums solve
    (operators/packing.py), restated for ranks:

      1. range-shard on the FIRST order column's value (shard index
         monotone in the sort order, so shard order preserves global
         order; equal values share a shard, so later tiebreak columns
         order entirely within shards),
      2. skew fallback — the per-shard count/boundary probe is
         kilobytes (≤ ``shard_buckets`` rows), collected driver-side;
         any shard holding > 2× the mean re-shards deterministically
         into ``sub_buckets`` sub-shards: a shard spanning multiple
         first-column values splits on the first column's own
         sub-range, a single-value shard (the 90%-constant-column
         degeneracy) splits on a monotone encoding of the SECOND order
         column — both monotone in the shard's sort order, so global
         order is preserved and results never depend on the split,
      3. within-shard ``row_number`` (bounded window partitions);
         exclusive shard offsets and the global total are pure integer
         algebra over the collected kilobyte count table — no global
         window at all,
      4. broadcast-join offsets back: global rank = offset + within,
         and the standard NTILE split (first ``N mod n`` buckets get
         one extra row) is pure integer algebra on (rank, total).

    Shard boundaries never affect results (ranks are exact integers
    regardless of where a shard splits), so the min/max probe needs no
    cross-engine parity. `order_by` must order rows uniquely (the
    windows-on-unique-keys rule, SURVEY §4.4-6) and its first column
    must be numeric and NULL-free — NULLs are unrankable and rejected
    loudly, like `budget_select`.

    Output: the input columns plus ``out_col`` (bigint, 1-based),
    identical row-for-row to ``NTILE(n) OVER (ORDER BY order_by)``.
    """
    if n < 1:
        raise ValueError(f"distributed_ntile: n must be ≥ 1, got {n}")
    first = order_by[0]
    n_null = df.filter(F.col(first).isNull()).limit(1).count()
    if n_null:
        raise ValueError(
            f"distributed_ntile: {first} contains NULLs — impute or "
            "filter them before ranking (a NULL cannot be ordered)"
        )
    lo, hi = df.agg(
        F.min(F.col(first).cast("double")),
        F.max(F.col(first).cast("double")),
    ).first()
    if lo is None:  # empty input: keep the (empty) frame, schema intact
        return df.withColumn(out_col, F.lit(None).cast("bigint")).limit(0)
    sharded, counts, total = _ntile_shards(
        df, order_by, lo, hi, shard_buckets, sub_buckets
    )

    # exclusive offsets: integer algebra over the kilobyte count table
    off, rows = 0, []
    for s, c in sorted(counts):
        rows.append((s, off, total))
        off += c
    offsets = local_frame(
        df.sparkSession,
        rows,
        "__shard bigint, __sh_off bigint, __n_total bigint",
    )
    w_in = Window.partitionBy("__shard").orderBy(*order_by)
    ranked = (
        sharded.withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "__shard")
        .withColumn("__rank", F.col("__sh_off") + F.col("__rn"))
    )
    # standard SQL NTILE split: q = total DIV n rows per bucket, the
    # first rem = total MOD n buckets take one extra; integer ceil is
    # (a + b - 1) DIV b, with GREATEST(q, 1) guarding the (unreachable
    # when q = 0) second branch against ANSI division-by-zero
    q = f"(__n_total DIV {n})"
    rem = f"(__n_total % {n})"
    cut = f"({rem} * ({q} + 1))"
    ntile = F.expr(
        f"CASE WHEN __rank <= {cut} THEN (__rank + {q}) DIV ({q} + 1) "
        f"ELSE {rem} + (__rank - {cut} + GREATEST({q}, 1) - 1) "
        f"DIV GREATEST({q}, 1) END"
    )
    return ranked.withColumn(out_col, ntile.cast("bigint")).drop(
        "__shard", "__rn", "__sh_off", "__n_total", "__rank"
    )


def quantile_bin_edges(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    exact: bool = False,
    relative_error: float = 1e-4,
) -> list[float]:
    """TRAINED histogram boundaries: the n_bins-quantile edges of
    `value_col` (n_bins - 1 interior cut points), for binning a skewed
    monitored metric where equal-width bins would starve the tails —
    the same boundary-broadcast idea as `distributed_ntile`, reduced
    to its aggregate form: the cut points are a ≤(n_bins-1)-scalar
    summary, computed in ONE aggregate pass and shipped as literals.

    `exact=False` (production) uses `approx_percentile` (mergeable
    t-digest — one combinable pass at any scale); True uses exact
    `percentile` for oracle-comparable edges (exact percentile
    concentrates per-group state; fine for training samples, not for
    a 100 TB full scan). Returned edges are rounded to 9 dp so
    downstream bin predicates are stable literals."""
    if n_bins < 2:
        raise ValueError(f"need ≥ 2 bins to have interior edges, got {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    fn = "percentile" if exact else "approx_percentile"
    err = "" if exact else f", {int(1 / relative_error)}"
    row = df.agg(
        F.expr(
            f"{fn}({value_col}, array({', '.join(map(repr, probs))}){err})"
        ).alias("qs")
    ).first()
    if row.qs is None:
        raise ValueError(f"{value_col} has no non-NULL values to train on")
    return [round(float(q), 9) for q in row.qs]


def psi_vs_reference_edges(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    ref_props: Sequence[float],
    edges: Sequence[float],
    eps: float = 1e-4,
    round_dp: int = 6,
) -> DataFrame:
    """`psi_vs_reference` with ARBITRARY trained bin boundaries
    instead of equal-width [lo, hi) bins: bin i covers
    [edges[i-1], edges[i]) with unbounded first/last bins, so
    len(ref_props) must equal len(edges) + 1. Edges typically come
    from `quantile_bin_edges` on the training period, making the
    reference proportions ~uniform and every bin informative even on
    heavy-tailed metrics. Same scale shape as the equal-width form:
    map-only binning (a JVM-side array filter over ≤n_bins-1
    literals), one combinable (group, bin) count, broadcast spine."""
    n_bins = len(ref_props)
    if n_bins != len(edges) + 1:
        raise ValueError(
            f"{n_bins} proportions need {n_bins - 1} edges, "
            f"got {len(edges)}"
        )
    if list(edges) != sorted(edges):
        raise ValueError("edges must be non-decreasing")
    total = sum(ref_props)
    if abs(total - 1.0) > 1e-6:
        raise ValueError(
            f"reference proportions must sum to 1 (got {total})"
        )
    gcols = list(group_cols)
    v = F.col(value_col)
    # bin = number of edges ≤ v: a higher-order filter over a literal
    # array — JVM-side higher-order function, no Python UDF, no join
    edge_arr = F.array(*[F.lit(float(e)) for e in edges])
    bin_ = F.size(F.filter(edge_arr, lambda e: e <= v)).cast("int")
    counts = (
        df.filter(v.isNotNull())
        .select(*gcols, bin_.alias("__bin"))
        .groupBy(*gcols, "__bin")
        .agg(F.count("*").alias("__n"))
    )
    totals = counts.groupBy(*gcols).agg(
        F.sum("__n").cast("bigint").alias("n_values")
    )
    spark = df.sparkSession
    spine = spark.range(n_bins).select(
        F.col("id").cast("int").alias("__bin"),
        F.element_at(
            F.array(*[F.lit(float(p)) for p in ref_props]),
            F.col("id").cast("int") + 1,
        ).alias("__r"),
    )
    full = (
        totals.crossJoin(F.broadcast(spine))
        .join(counts, [*gcols, "__bin"], "left")
        .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0)))
    )
    p = F.greatest(F.col("__n") / F.col("n_values"), F.lit(eps))
    r = F.greatest(F.col("__r"), F.lit(eps))
    return (
        full.withColumn("__term", (p - r) * F.log(p / r))
        .groupBy(*gcols, "n_values")
        .agg(F.round(F.sum("__term"), round_dp).alias("psi"))
    )


def psi_vs_reference_edges_sql(
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    ref_props: Sequence[float],
    edges: Sequence[float],
    eps: float = 1e-4,
    round_dp: int = 6,
) -> str:
    """DuckDB twin of `psi_vs_reference_edges` (same literal edges)."""
    n_bins = len(ref_props)
    g = ", ".join(group_cols)
    edge_list = ", ".join(repr(float(e)) for e in edges)
    bin_ = (
        f"CAST(len(list_filter([{edge_list}], e -> e <= {value_col})) "
        f"AS INTEGER)"
    )
    props = ", ".join(repr(float(p)) for p in ref_props)
    return f"""
        WITH counts AS (
            SELECT {g}, {bin_} AS bin, COUNT(*) AS n
            FROM {table} WHERE {value_col} IS NOT NULL
            GROUP BY {g}, bin
        ),
        totals AS (
            SELECT {g}, CAST(SUM(n) AS BIGINT) AS n_values
            FROM counts GROUP BY {g}
        ),
        spine AS (
            SELECT CAST(i AS INTEGER) AS bin, r
            FROM (SELECT unnest(range({n_bins})) AS i,
                         unnest([{props}]) AS r)
        ),
        filled AS (
            SELECT t.*, s.bin, s.r, COALESCE(c.n, 0) AS n
            FROM totals t CROSS JOIN spine s
            LEFT JOIN counts c USING ({g}, bin)
        )
        SELECT {g}, n_values,
               ROUND(SUM(
                   (GREATEST(n * 1.0 / n_values, {eps!r}) - GREATEST(r, {eps!r}))
                   * ln(GREATEST(n * 1.0 / n_values, {eps!r})
                        / GREATEST(r, {eps!r}))), {round_dp}) AS psi
        FROM filled
        GROUP BY {g}, n_values
    """
