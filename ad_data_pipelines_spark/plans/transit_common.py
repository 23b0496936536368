"""Shared transforms for the transit (reference-parity) pipelines:
AFC⋈VDV enrichment chain, region mapping, audit columns.

Reference parity: the join chain AFC ⟕ LINE ⟕ OPERATING_DEPARTMENT with
deep-cleaned keys and prefix→region mapping is duplicated in three
reference scripts (scripts/ads_passenger_travel_info_mi.py:121-172,
ads_passenger_transfer_count_di.py:96-146,
ads_passenger_travel_distance_di.py:137-176); here it is one function.

Scale: LINE and OPERATING_DEPARTMENT are KB-sized → both joins broadcast;
the fact table is never shuffled by enrichment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ad_data_pipelines_spark.functions import deep_clean, prefix_map

#: OP_DEP_ABBR prefix → region label
#: (reference scripts/ads_passenger_travel_info_mi.py:121-132)
REGION_PREFIXES = {"AD": "Abu Dhabi", "ER": "Al Ain", "WR": "Al Dhafra"}

#: abs(OP_DEP_NO) first digit → region
#: (reference scripts/ads_passenger_travel_time_di.R:104-108)
REGION_DIGITS = {"1": "Abu Dhabi", "2": "Al Ain", "3": "Al Dhafra"}


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Marker for join sides that are small at TEST scale but grow
    linearly with the data (TPC-H customer / orders / part / supplier).

    Deliberately returns ``df`` unchanged — NO broadcast hint. An
    explicit ``F.broadcast()`` pins the join strategy and AQE cannot
    override it, so on a 100 TB run a hint on a scaled relation is a
    forced driver/executor OOM. Unhinted, Spark's
    ``autoBroadcastJoinThreshold`` + AQE broadcast the side when (and
    only when) its runtime size fits, and fall back to a shuffled hash
    join when it doesn't — the physical plan at test SFs is identical
    to the hinted one.

    Use ``F.broadcast()`` only for frames bounded by the SCHEMA
    (nation/region, 1-row scalars, boundary/offset tables, VDV-style
    dims), never frames bounded only by the current scale factor.
    tests/test_plan_hygiene.py enforces this mechanically. The
    driver-parsed dims (VDV, Excel, GeoJSON; `sources.local.local_frame`)
    are ``LocalRelation``s with exact size statistics, so static
    planning and AQE see their true size with or without a hint.
    """
    return df


def dedup_line(line: DataFrame) -> DataFrame:
    """Keep one row per cleaned LINE_ABBR — deterministic keep-first by
    (OP_DEP_NO, LINE_NO) order. Replaces the reference's file-order
    drop_duplicates(keep='first')
    (scripts/ads_passenger_travel_info_mi.py:142; SURVEY.md §4.4-6)."""
    w = Window.partitionBy("line_key").orderBy("OP_DEP_NO", "LINE_NO")
    return (
        line.withColumn("line_key", deep_clean("LINE_ABBR"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def enrich_with_region(
    afc: DataFrame, line: DataFrame, opdep: DataFrame
) -> DataFrame:
    """AFC ⟕ LINE (cleaned route key) ⟕ OPERATING_DEPARTMENT → region_id.

    J1+J2+P7+P8 in one broadcast chain; rows with no match get region_id
    'Unknown' (filtered or kept by callers per-pipeline, matching each
    reference script's own policy)."""
    line_d = dedup_line(line).select("line_key", "OP_DEP_NO", "LINE_NO", "LINE_ABBR")
    op = opdep.select(
        F.col("OP_DEP_NO").alias("__op_no"),
        prefix_map("OP_DEP_ABBR", REGION_PREFIXES).alias("region_id"),
    )
    return (
        afc.withColumn("route_key", deep_clean("route"))
        .join(F.broadcast(line_d), F.col("route_key") == F.col("line_key"), "left")
        .join(F.broadcast(op), F.col("OP_DEP_NO") == F.col("__op_no"), "left")
        .drop("line_key", "__op_no")
        .na.fill({"region_id": "Unknown"})
    )


def with_audit(
    df: DataFrame, create_by: str = "system", update_by: str = "system"
) -> DataFrame:
    """Standard audit quartet (P22): reference
    scripts/ads_passenger_travel_info_mi.py:462-465."""
    now = F.current_timestamp()
    return (
        df.withColumn("create_by", F.lit(create_by))
        .withColumn("update_by", F.lit(update_by))
        .withColumn("create_time", now)
        .withColumn("update_time", now)
    )


def afc_legs_from_events(events: DataFrame) -> DataFrame:
    """Reshape the synthetic `events` table into AFC journey legs — the
    adapter that lets the transit pipelines (ads_travel_info /
    ads_travel_time, the reference's flagship DAGs) run end-to-end at
    any testdata SF: user sessions become journeys (30-minute gap
    rule), events become legs, event ids map onto a small route set.
    Shared by the volume tests (tests/test_pipelines_scale.py) and
    bench.py's pipeline timings so both exercise the same derivation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ) / 60.0
    new_j = F.when(gap_min.isNull() | (gap_min > 30), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("jid", F.sum(new_j).over(run))
        .withColumn(
            "leg_id",
            F.row_number().over(
                Window.partitionBy("user_id", "jid").orderBy("ts", "event_id")
            ),
        )
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.concat_ws("-", "user_id", "jid").alias("journey_id"),
            F.col("leg_id").cast("byte").alias("leg_id"),
            F.col("ts").alias("start_time"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_time"),
            F.concat(
                F.lit("R"), (F.col("event_id") % 4).cast("string")
            ).alias("route"),
            (F.coalesce("value", F.lit(0.0)) * 100)
            .cast("float")
            .alias("distance"),
            (F.col("event_id") % 2).cast("int").alias("tripdir"),
            (F.col("event_id") % 50).cast("string").alias("start_station_no"),
            ((F.col("event_id") + 1) % 50)
            .cast("string")
            .alias("end_station_no"),
            F.lit(1).alias("boarding"),
            F.when(
                F.count("*").over(Window.partitionBy("user_id", "jid")) > 1, 1
            )
            .otherwise(0)
            .alias("is_multi_leg_journey_leg"),
        )
    )


def sales_from_events(events: DataFrame) -> DataFrame:
    """Reshape the synthetic `events` table into the ticket-sales form
    ads_revenue consumes (V_MONTH, PRODUCT, QTY, AMOUNT, REGION) — the
    sales sibling of :func:`afc_legs_from_events`, so the revenue
    pipeline can be volume-tested and benched at any testdata SF.
    Pure column maps, no shuffle: the adapter adds nothing to the
    measured DAG beyond the scan."""
    return events.select(
        F.date_format("ts", "yyyyMM").alias("V_MONTH"),
        F.element_at(
            F.array(
                F.lit("CSC Card"), F.lit("Paper Ticket"), F.lit("CSC Topup")
            ),
            (F.col("event_id") % 3 + 1).cast("int"),
        ).alias("PRODUCT"),
        F.lit(1).cast("int").alias("QTY"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)), 2).alias("AMOUNT"),
        F.element_at(
            F.array(
                F.lit("Abu Dhabi"), F.lit("Al Ain"), F.lit("Al Dhafra")
            ),
            (F.col("user_id") % 3 + 1).cast("int"),
        ).alias("REGION"),
    )
