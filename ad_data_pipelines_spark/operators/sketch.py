"""Mergeable frequency sketches for hot-key / boilerplate monitoring.

The exact heavy-hitter queries (registry `llm_boilerplate_ngrams`, the
`o14` join-skew report) are correct but cost a full COUNT aggregate
over the key universe — at 100 TB that is a second full shuffle just
for monitoring. This module gives the one-pass / tiny-shuffle
monitoring twins:

  * `count_min_table` — a Count-Min sketch (Cormode & Muthukrishnan
    2005) materialized as a (depth × width) counter table. Fixed size
    regardless of key cardinality, MERGEABLE by bucket-wise addition
    (`cms_merge`) — per-partition, per-day, per-source sketches add
    into corpus totals without re-touching data. Estimates are
    OVERESTIMATES only: true_count ≤ est ≤ true_count + εN with
    ε = e/width at confidence 1 − e^−depth.
  * `approx_top_keys` — heavy hitters by deterministic sample →
    candidate → exact-verify: a hash-sample of rows nominates
    `candidate_factor × k` keys (any key with frequency ≥ n/k appears
    in a sample of m rows with probability ≥ 1 − (1 − 1/k)^m — for
    m = 20k·ln k the miss probability is k^−20k/k… effectively zero),
    then ONE filtered aggregate computes exact counts for candidates
    only. Both passes shuffle bounded key sets, never the universe.

All hashing uses the md5-portable path (functions/hashing.py) so the
DuckDB oracle reproduces sketches bit-for-bit (swap `fast=True`
xxhash64 in production).

Beyond-reference (SURVEY.md §2 north star): the reference's pipelines
count exactly at pandas scale; these are the operators that keep the
same monitoring questions answerable at corpus scale.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ad_data_pipelines_spark.functions.hashing import portable_hash64
from ad_data_pipelines_spark.sources.local import local_frame


def _bucket(key: F.Column, row: int, width: int) -> F.Column:
    """Row-salted md5 bucket in [0, width) — the portable CMS hash."""
    return F.pmod(
        portable_hash64(F.concat(key, F.lit(f"#cms{row}"))), F.lit(width)
    )


def count_min_table(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """(row, bucket, cnt): the Count-Min counter table of `key_col`
    occurrences. Each input row increments one bucket per hash row —
    a narrow depth-× explode, then ONE partial-aggregated count
    shuffle of at most depth×width groups (fixed memory at any input
    size; this is the whole point vs exact counting)."""
    key = F.col(key_col).cast("string")
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    _bucket(key, r, width).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("rb")
    return (
        df.select(rows)
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(tables: list[DataFrame]) -> DataFrame:
    """Bucket-wise sum of Count-Min tables built with the SAME
    width/depth — the mergeability that lets per-shard / per-day
    sketches add into totals without revisiting data."""
    return (
        reduce(DataFrame.unionByName, tables)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimates(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """(key_col, est): Count-Min point estimates for each distinct key
    in `keys` — min over the depth rows of the key's bucket counters
    (width/depth must match the table's build parameters). The sketch
    side is ≤ depth×width rows (broadcast); absent buckets count 0.
    Estimates NEVER undercount."""
    k = keys.select(F.col(key_col)).distinct()
    probes = k.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(
                            F.col(key_col).cast("string"), r, width
                        ).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(key_col, "rb.row", "rb.bucket")
    return (
        probes.join(F.broadcast(cms), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def approx_top_keys(
    df: DataFrame,
    key_col: str,
    id_col: str,
    k: int,
    sample_pct: int = 20,
    candidate_factor: int = 4,
) -> DataFrame:
    """(key_col, n, rank): the top-k keys by row count, found WITHOUT
    aggregating the full key universe:

      1. deterministic hash-sample of rows (`id_col` md5-bucketed,
         keeping `sample_pct`% — layout-independent, re-runs
         identical),
      2. exact counts WITHIN the sample, top candidate_factor×k
         candidate keys (ties broken on the key for determinism),
      3. exact counts over the FULL data for candidates only — the
         aggregate's key set is ≤ candidate_factor×k, so map-side
         combine reduces every partition to at most that many rows.

    Returned counts are EXACT for the returned keys; a true top-k key
    is missed only if the sample under-represents it (probability
    vanishing in sample size for keys above the n/k heavy-hitter
    threshold — see module docstring). For the exact-always answer at
    full-shuffle cost, use a plain groupBy count."""
    sampled = df.filter(
        F.pmod(
            portable_hash64(F.col(id_col).cast("string")), F.lit(100)
        )
        < sample_pct
    )
    cand = (
        sampled.groupBy(key_col)
        .agg(F.count("*").alias("n_sample"))
        .orderBy(F.desc("n_sample"), key_col)
        .limit(candidate_factor * k)
        .select(key_col)
    )
    counts = (
        df.join(F.broadcast(cand), key_col)
        .groupBy(key_col)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), key_col)
        .limit(k)
    )
    # global window over ≤ k rows (post-limit) — trivially single-task
    w = F.row_number().over(Window.orderBy(F.desc("n"), key_col))
    return counts.withColumn("rank", w)


def hll_shard_table(
    df: DataFrame,
    key_col: str,
    shard_cols: Sequence[str],
    lg_k: int = 12,
) -> DataFrame:
    """(shard_cols…, hll): one Apache DataSketches HLL sketch of
    `key_col`'s distinct values per shard (day / source / partition) —
    the MERGEABLE distinct-count artifact. Each sketch is a fixed
    ~2^lg_k-byte binary; `hll_union_estimate` answers "distinct over
    ANY shard subset" without re-touching data, which an
    approx_count_distinct NUMBER cannot (numbers don't union). The
    one-shot exact/HLL count twins live in the registry as
    a5_distinct_exact / a5_distinct_approx; this is the incremental
    variant a 100 TB daily pipeline actually stores."""
    return df.groupBy(*shard_cols).agg(
        F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(lg_k)).alias(
            "hll"
        )
    )


def hll_union_estimate(
    shards: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Union the per-shard sketches (optionally regrouped to a coarser
    grain) and return the distinct-count estimate per group — sketch
    algebra only, no data re-scan. With no `group_cols`: one global
    row."""
    agg = F.hll_sketch_estimate(
        F.hll_union_agg(F.col("hll"))
    ).alias("n_distinct_est")
    if group_cols:
        return shards.groupBy(*group_cols).agg(agg)
    return shards.agg(agg)


def histogram_shard_table(
    df: DataFrame,
    value_col: str,
    bounds: Sequence[float],
    shard_cols: Sequence[str],
) -> DataFrame:
    """(shard_cols…, bin, n): exact counts of `value_col` per TRAINED
    bin per shard — the mergeable QUANTILE artifact, completing the
    family (HLL shards = distinct counts, CMS = frequencies, this =
    quantiles): histograms over the SAME bounds merge by adding
    counts, so any-grain/any-subset quantile estimates need zero data
    re-scan. Bounds typically come from `agg.quantile_bin_edges` on a
    training period plus explicit outer limits.

    `bounds` = [b0 … bK], strictly increasing, defining K bins
    [b_i, b_i+1); values outside [b0, bK) clamp into bins 0 / K-1 so
    mass is never lost (the estimate just saturates at the outer
    bounds). bin id = count of interior edges ≤ v — a JVM-side
    filter over ≤K-1 literals, same kernel as the trained-edges PSI.
    NULLs drop. ONE combinable aggregate of ≤ shards×K groups."""
    bs = [float(b) for b in bounds]
    if len(bs) < 2 or bs != sorted(set(bs)):
        raise ValueError("bounds must be >= 2 strictly increasing values")
    v = F.col(value_col)
    interior = F.array(*[F.lit(b) for b in bs[1:-1]])
    bin_ = F.size(F.filter(interior, lambda e: e <= v)).cast("int")
    return (
        df.filter(v.isNotNull())
        .select(*shard_cols, bin_.alias("bin"))
        .groupBy(*shard_cols, "bin")
        .agg(F.count("*").alias("n"))
    )


def histogram_union_quantiles(
    shards: DataFrame,
    bounds: Sequence[float],
    probs: Sequence[float],
    group_cols: Sequence[str] = (),
    round_dp: int = 6,
) -> DataFrame:
    """(group…, prob, n_values, q_est): merge shard histograms to the
    `group_cols` grain (SUM of counts — the merge operation) and
    estimate each quantile by linear interpolation inside the
    containing bin: q = lo + (hi − lo)·(target − cum_below)/n_bin with
    target = prob·n_values — worst-case error one bin width, zero at
    bin boundaries. Probs must lie in (0, 1] (p→0 is the left edge of
    the first non-empty bin's predecessor boundary, undefined here).

    Everything after the count merge runs on ≤ groups×K rows: the
    cumulative window orders ≤K bins per group (bounded state), the
    prob spine broadcasts. Deterministic: counts are exact integers
    and the interpolation is the same double expression both engines
    evaluate, rounded to `round_dp`."""
    bs = [float(b) for b in bounds]
    if len(bs) < 2 or bs != sorted(set(bs)):
        raise ValueError("bounds must be >= 2 strictly increasing values")
    ps = [float(p) for p in probs]
    if not ps or any(not 0.0 < p <= 1.0 for p in ps):
        raise ValueError(f"probs must lie in (0, 1], got {probs}")
    gcols = list(group_cols)
    merged = shards.groupBy(*gcols, "bin").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w_cum = w_tot.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.select(
        *gcols,
        "bin",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).cast("bigint").alias("n_values"),
    )
    spine = local_frame(shards.sparkSession, [(p,) for p in ps], "prob double")
    lo = F.element_at(F.array(*[F.lit(b) for b in bs[:-1]]), F.col("bin") + 1)
    hi = F.element_at(F.array(*[F.lit(b) for b in bs[1:]]), F.col("bin") + 1)
    target = F.col("prob") * F.col("n_values")
    hit = (
        cum.crossJoin(F.broadcast(spine))
        # target ∈ (cum − n, cum]: exactly one bin per (group, prob)
        .filter((F.col("cum") >= target) & ((F.col("cum") - F.col("n")) < target))
    )
    frac = (target - (F.col("cum") - F.col("n"))) / F.col("n")
    return hit.select(
        *gcols,
        "prob",
        "n_values",
        F.round(lo + (hi - lo) * frac, round_dp).alias("q_est"),
    )


def histogram_quantiles_sql(
    table: str,
    value_col: str,
    bounds: Sequence[float],
    probs: Sequence[float],
    group_cols: Sequence[str],
    round_dp: int = 6,
) -> str:
    """DuckDB twin of histogram_shard_table → histogram_union_quantiles
    at the `group_cols` grain. Merging exact per-shard counts equals
    counting at the group grain directly, so the oracle skips the
    shard step by algebra — which is exactly the property that makes
    the artifact trustworthy."""
    bs = [float(b) for b in bounds]
    g = ", ".join(group_cols)
    interior = ", ".join(repr(b) for b in bs[1:-1])
    lo_arr = ", ".join(repr(b) for b in bs[:-1])
    hi_arr = ", ".join(repr(b) for b in bs[1:])
    ps = ", ".join(repr(float(p)) for p in probs)
    bin_ = (
        f"CAST(len(list_filter([{interior}], e -> e <= {value_col}))"
        " AS INTEGER)"
    )
    return f"""
        WITH counts AS (
            SELECT {g}, {bin_} AS bin, CAST(COUNT(*) AS BIGINT) AS n
            FROM {table} WHERE {value_col} IS NOT NULL
            GROUP BY {g}, bin
        ),
        cum AS (
            SELECT {g}, bin, n,
                   SUM(n) OVER (PARTITION BY {g} ORDER BY bin) AS cum,
                   CAST(SUM(n) OVER (PARTITION BY {g}) AS BIGINT)
                       AS n_values
            FROM counts
        ),
        spine AS (SELECT CAST(unnest([{ps}]) AS DOUBLE) AS prob)
        SELECT {g}, prob, n_values,
               ROUND(
                   list_extract([{lo_arr}], bin + 1)
                   + (list_extract([{hi_arr}], bin + 1)
                      - list_extract([{lo_arr}], bin + 1))
                   * ((prob * n_values - (cum - n)) / n),
                   {round_dp}) AS q_est
        FROM cum CROSS JOIN spine
        WHERE cum >= prob * n_values AND (cum - n) < prob * n_values
    """
