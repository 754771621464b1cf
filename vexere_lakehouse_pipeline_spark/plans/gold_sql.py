"""SQL parity mode for the 8 gold analytics.

The reference runs these as ``spark.sql`` over temp views
(convert/to_gold.py:21-218).  The engine's canonical form is the
DataFrame builders in plans/gold.py; this module preserves the SQL
surface — same view names, same query texts (normalized only where the
rebuild canonicalizes nondeterminism: sorted collect_set in cau_1; and
cau_8's grid is as wide as the facility_name dim, not a literal 21) —
so SQL-first users keep their workflow.  ``test_gold_sql_parity``
pins DataFrame-mode ≡ SQL-mode row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# silver table name -> reference view name (convert/to_gold.py:21-26)
SILVER_VIEWS = {
    "bus_ids": "bus_ids",
    "ticket": "ticket",
    "facility": "facility",
    "facility_name": "facility_name",
    "bus_reviews_vi": "bus_review_vi",
    "bus_reviews_en": "bus_review_en",
}

GOLD_SQL: dict[str, str] = {
    "cau_1": """
    SELECT
        t.Route,
        t.Bus_Name,
        COUNT(*) AS Total_Trips,
        ROUND(AVG(t.Price), 0) AS Avg_Price_Per_Day,
        concat_ws(', ', sort_array(collect_set(
            CASE
                WHEN HOUR(TO_TIMESTAMP(t.Departure_Time, 'HH:mm')) BETWEEN 0 AND 5 THEN '00h-05h'
                WHEN HOUR(TO_TIMESTAMP(t.Departure_Time, 'HH:mm')) BETWEEN 6 AND 11 THEN '06h-11h'
                WHEN HOUR(TO_TIMESTAMP(t.Departure_Time, 'HH:mm')) BETWEEN 12 AND 17 THEN '12h-17h'
                WHEN HOUR(TO_TIMESTAMP(t.Departure_Time, 'HH:mm')) BETWEEN 18 AND 23 THEN '18h-23h'
            END
        ))) AS depart_time_ranges
    FROM ticket t
    GROUP BY t.Route, t.Bus_Name
    ORDER BY t.Route, Total_Trips DESC
    """,
    "cau_2": """
    WITH cheapest_price AS (
        SELECT start_date, route, MIN(price) AS min_price
        FROM ticket GROUP BY start_date, route
    ),
    review_score AS (
        SELECT bus_id, ROUND(AVG(pos), 2) AS avg_positive
        FROM (
            SELECT bus_id, pos FROM bus_review_vi
            UNION ALL
            SELECT bus_id, pos FROM bus_review_en
        ) AS all_reviews
        GROUP BY bus_id
    ),
    candidates AS (
        SELECT DISTINCT
            t.start_date, t.route, t.bus_name, t.bus_id, t.price,
            COALESCE(r.avg_positive, 0) AS avg_positive,
            CASE WHEN COALESCE(r.avg_positive, 0) > 0.5 THEN 1 ELSE 0 END AS is_good
        FROM ticket t
        JOIN cheapest_price c ON
            t.start_date = c.start_date AND
            t.route = c.route AND
            t.price = c.min_price
        LEFT JOIN review_score r ON t.bus_id = r.bus_id
    ),
    ranked AS (
        SELECT *,
               RANK() OVER (PARTITION BY start_date, route ORDER BY is_good DESC) AS rank_in_group
        FROM candidates
    )
    SELECT start_date, route, bus_name, price
    FROM ranked WHERE rank_in_group = 1
    ORDER BY start_date, route, bus_name
    """,
    "cau_3": """
    SELECT t.Route, COUNT(DISTINCT t.Bus_Name) AS total_bus_operators
    FROM ticket t GROUP BY t.Route ORDER BY total_bus_operators DESC
    """,
    "cau_4": """
    SELECT t.Start_Date, ROUND(AVG(t.Price), 0) AS avg_price_per_day
    FROM ticket t GROUP BY t.Start_Date ORDER BY t.Start_Date
    """,
    "cau_5": """
    SELECT t.Bus_Name, COUNT(*) AS total_reviews
    FROM bus_review_vi t GROUP BY t.Bus_Name ORDER BY total_reviews DESC
    """,
    "cau_6": """
    WITH combined AS (
        SELECT CAST(Bus_Name AS STRING) AS bus_name, NEG, POS FROM bus_review_vi
        UNION ALL
        SELECT CAST(Bus_Name AS STRING) AS bus_name, NEG, POS FROM bus_review_en
    )
    SELECT ROUND(AVG(NEG * 5 + POS * 10), 2) AS avg_rating_10pt
    FROM combined
    GROUP BY bus_name
    HAVING COUNT(*) >= 50
    ORDER BY avg_rating_10pt DESC
    """,
    "cau_7": """
    WITH hours AS (
        SELECT explode(sequence(0, 23)) AS hour
    ),
    bus_hours AS (
        SELECT CAST(Bus_Name AS STRING) AS bus_name,
               CAST(SUBSTRING(departure_time, 1, 2) AS INT) AS hour
        FROM ticket WHERE departure_time IS NOT NULL
    ),
    bus_hour_flags AS (
        SELECT DISTINCT bus_name, hour, 1 AS has_departure FROM bus_hours
    ),
    bus_names AS (SELECT DISTINCT bus_name FROM bus_hours)
    SELECT b.bus_name, h.hour, COALESCE(f.has_departure, 0) AS has_departure
    FROM bus_names b
    CROSS JOIN hours h
    LEFT JOIN bus_hour_flags f ON b.bus_name = f.bus_name AND h.hour = f.hour
    ORDER BY b.bus_name, h.hour
    """,
    "cau_8": """
    WITH source AS (
        SELECT CAST(bus_name AS STRING) AS bus_name,
               CAST(facility_id AS INT) AS facility_id
        FROM facility
        WHERE bus_name IS NOT NULL AND facility_id IS NOT NULL
    ),
    facilities AS (
        SELECT explode(sequence(1, n)) AS facility_id
        FROM (SELECT CAST(GREATEST(COUNT(*), 1) AS INT) AS n FROM facility_name)
    ),
    bus_names AS (SELECT DISTINCT bus_name FROM source),
    bus_facility_flag AS (
        SELECT DISTINCT bus_name, facility_id, 1 AS has_facility FROM source
    ),
    facility_name_dedup AS (
        SELECT facility_id, MIN(facility_name) AS facility_name
        FROM facility_name
        WHERE facility_name IS NOT NULL
        GROUP BY facility_id
    )
    SELECT b.bus_name, f.facility_id,
           COALESCE(bff.has_facility, 0) AS has_facility,
           fnd.facility_name
    FROM bus_names b
    CROSS JOIN facilities f
    LEFT JOIN bus_facility_flag bff
        ON b.bus_name = bff.bus_name AND f.facility_id = bff.facility_id
    LEFT JOIN facility_name_dedup fnd
        ON f.facility_id = fnd.facility_id
    ORDER BY b.bus_name, f.facility_id
    """,
}


def register_silver_views(spark: SparkSession,
                          silver: dict[str, DataFrame]) -> None:
    """S10: temp-view registration with the reference's view names
    (ticket / facility / facility_name / bus_review_vi / bus_review_en /
    bus_ids — convert/to_gold.py:21-26)."""
    for table, view in SILVER_VIEWS.items():
        if table in silver:
            silver[table].createOrReplaceTempView(view)


def run_gold_sql(spark: SparkSession) -> dict[str, DataFrame]:
    """Execute all 8 gold queries in SQL mode (views must be registered)."""
    return {name: spark.sql(sql) for name, sql in GOLD_SQL.items()}
