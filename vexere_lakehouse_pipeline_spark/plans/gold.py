"""The 8 gold analytical queries (cau_1..cau_8) as DataFrame builders.

Semantics re-expressed from `convert/to_gold.py:28-218` (SURVEY.md
§3.3), DataFrame-first so Catalyst sees a fully declarative plan.
Deliberate parity notes:

- cau_2: RANK (not row_number) — ties all pass the ``rank = 1`` filter,
  so a (date, route) group can return multiple operators (SURVEY §2.5).
- cau_6: groups by bus_name but projects only the aggregate
  (to_gold.py:141-145) — reproduced as-is.
- cau_1: collect_set order is nondeterministic in the reference; we
  canonicalize with sort_array before concat_ws (SURVEY §7.4).

Scale notes: dimension sides of every join are broadcast; the
densification grids (cau_7/cau_8) build the small side (24 / 21 rows ×
distinct operators) and broadcast it against the fact-derived flags, so
no shuffle grows with fact size beyond the distinct() aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vexere_lakehouse_pipeline_spark.functions.cleaning import daypart


def cau_1_route_operator_stats(ticket: DataFrame) -> DataFrame:
    """Trips + avg price per (route, operator) with departure-daypart
    tags (to_gold.py:28-45)."""
    hour = F.hour(F.to_timestamp("Departure_Time", "HH:mm"))
    return (
        ticket.groupBy("Route", "Bus_Name")
        .agg(
            F.count("*").alias("Total_Trips"),
            F.round(F.avg("Price"), 0).alias("Avg_Price_Per_Day"),
            F.concat_ws(", ", F.sort_array(F.collect_set(daypart(hour)))).alias(
                "depart_time_ranges"
            ),
        )
        .orderBy("Route", F.desc("Total_Trips"))
    )


def cau_2_cheapest_good_operator(
    ticket: DataFrame, review_vi: DataFrame, review_en: DataFrame
) -> DataFrame:
    """Cheapest good-rated operator per (date, route) (to_gold.py:47-96)."""
    cheapest = ticket.groupBy("Start_Date", "Route").agg(
        F.min("Price").alias("min_price")
    )
    all_reviews = review_vi.select("Bus_Id", "POS").unionByName(
        review_en.select("Bus_Id", "POS")
    )
    review_score = all_reviews.groupBy("Bus_Id").agg(
        F.round(F.avg("POS"), 2).alias("avg_positive")
    )
    candidates = (
        ticket.join(
            cheapest,
            on=[
                ticket.Start_Date == cheapest.Start_Date,
                ticket.Route == cheapest.Route,
                ticket.Price == cheapest.min_price,
            ],
        )
        .drop(cheapest.Start_Date)
        .drop(cheapest.Route)
        .join(review_score, on="Bus_Id", how="left")  # per-operator agg:
        # small HERE, but fact-derived — let AQE decide, don't hint
        .select(
            "Start_Date",
            "Route",
            "Bus_Name",
            "Bus_Id",
            "Price",
            F.coalesce("avg_positive", F.lit(0.0)).alias("avg_positive"),
            F.when(F.coalesce("avg_positive", F.lit(0.0)) > 0.5, 1)
            .otherwise(0)
            .alias("is_good"),
        )
        .distinct()
    )
    w = Window.partitionBy("Start_Date", "Route").orderBy(F.desc("is_good"))
    return (
        candidates.withColumn("rank_in_group", F.rank().over(w))
        .filter(F.col("rank_in_group") == 1)
        .select("Start_Date", "Route", "Bus_Name", "Price")
        .orderBy("Start_Date", "Route", "Bus_Name")
    )


def cau_3_operators_per_route(ticket: DataFrame) -> DataFrame:
    return (
        ticket.groupBy("Route")
        .agg(F.countDistinct("Bus_Name").alias("total_bus_operators"))
        .orderBy(F.desc("total_bus_operators"))
    )


def cau_4_daily_avg_price(ticket: DataFrame) -> DataFrame:
    return (
        ticket.groupBy("Start_Date")
        .agg(F.round(F.avg("Price"), 0).alias("avg_price_per_day"))
        .orderBy("Start_Date")
    )


def cau_5_review_volume(review_vi: DataFrame) -> DataFrame:
    return (
        review_vi.groupBy("Bus_Name")
        .agg(F.count("*").alias("total_reviews"))
        .orderBy(F.desc("total_reviews"))
    )


def cau_6_satisfaction_10pt(review_vi: DataFrame, review_en: DataFrame) -> DataFrame:
    """10-pt satisfaction per operator with >=50 reviews.  Parity quirk
    kept: groups by bus_name but projects only the aggregate
    (to_gold.py:141-145)."""
    combined = review_vi.select(
        F.col("Bus_Name").cast("string").alias("bus_name"), "NEG", "POS"
    ).unionByName(
        review_en.select(
            F.col("Bus_Name").cast("string").alias("bus_name"), "NEG", "POS"
        )
    )
    return (
        combined.groupBy("bus_name")
        .agg(
            F.round(F.avg(F.col("NEG") * 5 + F.col("POS") * 10), 2).alias(
                "avg_rating_10pt"
            ),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") >= 50)
        .select("avg_rating_10pt")
        .orderBy(F.desc("avg_rating_10pt"))
    )


def cau_7_hourly_coverage(ticket: DataFrame) -> DataFrame:
    """Operator × 24h departure coverage grid (to_gold.py:149-179)."""
    spark = ticket.sparkSession
    hours = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")
    )
    bus_hours = ticket.filter(F.col("Departure_Time").isNotNull()).select(
        F.col("Bus_Name").cast("string").alias("bus_name"),
        F.substring("Departure_Time", 1, 2).cast("int").alias("hour"),
    )
    flags = bus_hours.distinct().withColumn("has_departure", F.lit(1))
    bus_names = bus_hours.select("bus_name").distinct()
    return (
        bus_names.crossJoin(F.broadcast(hours))
        .join(flags, on=["bus_name", "hour"], how="left")
        .select(
            "bus_name",
            "hour",
            F.coalesce("has_departure", F.lit(0)).alias("has_departure"),
        )
        .orderBy("bus_name", "hour")
    )


def cau_8_facility_coverage(
    facility: DataFrame, facility_name: DataFrame
) -> DataFrame:
    """Operator × facility coverage grid with MIN-dedup of names
    (to_gold.py:181-218).  The grid is 1..|facility_name| wide (at least
    1), sized inside the plan: the reference's literal 21 drops ids
    above it and emits phantom ids below it when a crawl's facility
    lists cover fewer names."""
    source = facility.filter(
        F.col("Bus_Name").isNotNull() & F.col("Facility_Id").isNotNull()
    ).select(
        F.col("Bus_Name").cast("string").alias("bus_name"),
        F.col("Facility_Id").cast("int").alias("facility_id"),
    )
    grid_ids = facility_name.agg(
        F.greatest(F.count("*"), F.lit(1)).cast("int").alias("n")
    ).select(F.explode(F.sequence(F.lit(1), F.col("n"))).alias("facility_id"))
    flags = source.distinct().withColumn("has_facility", F.lit(1))
    names_dedup = (
        facility_name.filter(F.col("Facility_Name").isNotNull())
        .groupBy(F.col("Facility_Id").cast("int").alias("facility_id"))
        .agg(F.min("Facility_Name").alias("facility_name"))
    )
    return (
        source.select("bus_name")
        .distinct()
        .crossJoin(F.broadcast(grid_ids))
        .join(flags, on=["bus_name", "facility_id"], how="left")
        .join(F.broadcast(names_dedup), on="facility_id", how="left")
        .select(
            "bus_name",
            "facility_id",
            F.coalesce("has_facility", F.lit(0)).alias("has_facility"),
            "facility_name",
        )
        .orderBy("bus_name", "facility_id")
    )
