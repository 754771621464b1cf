"""DataFrame-mode and SQL-mode gold queries must agree row-for-row
(SURVEY.md §7.1: analytics exposed 'as parameterized DataFrame builders
AND as SQL')."""

from __future__ import annotations

import pytest

from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
from vexere_lakehouse_pipeline_spark.plans import gold_sql
from vexere_lakehouse_pipeline_spark.plans.pipeline import (
    facility_to_silver,
    run_full_pipeline,
    run_gold,
)
from vexere_lakehouse_pipeline_spark.sources import fixtures


@pytest.fixture(scope="module")
def silver(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("zones_sql"))
    zones = ZoneCatalog(base, fmt="parquet")
    run_full_pipeline(
        spark,
        zones,
        fixtures.raw_tickets(spark, days=("01-05-2025", "02-05-2025")),
        fixtures.raw_facilities(spark),
        fixtures.raw_reviews(spark),
        fixtures.bus_ids(spark),
    )
    return {
        name: zones.read(spark, "silver", name)
        for name in ("ticket", "facility", "facility_name",
                     "bus_reviews_vi", "bus_reviews_en", "bus_ids")
    }


@pytest.mark.parametrize("name", sorted(gold_sql.GOLD_SQL))
def test_sql_matches_dataframe_mode(spark, silver, name):
    gold_sql.register_silver_views(spark, silver)
    sql_df = gold_sql.run_gold_sql(spark)[name]
    df_df = run_gold(silver)[name]
    assert [c.lower() for c in sql_df.columns] == [
        c.lower() for c in df_df.columns
    ]
    # Compare values only — SQL mode may differ in identifier case.
    a = sorted(str(tuple(r)) for r in sql_df.collect())
    b = sorted(str(tuple(r)) for r in df_df.collect())
    assert a == b


def test_cau8_grid_follows_facility_dim_in_both_modes(spark, silver):
    """Seed 104's facility lists cover 18 of the 21 names: both modes
    size the grid to the dim, with no phantom ids above it."""
    fac = facility_to_silver(fixtures.raw_facilities(spark, seed=104),
                             silver["bus_ids"])
    narrow = dict(silver, **fac)
    n_names = fac["facility_name"].count()
    assert n_names < 21
    gold_sql.register_silver_views(spark, narrow)
    sql_rows = sorted(str(tuple(r)) for r in gold_sql.run_gold_sql(spark)["cau_8"].collect())
    df_rows = run_gold(narrow)["cau_8"].collect()
    assert sql_rows == sorted(str(tuple(r)) for r in df_rows)
    n_ops = len({r.bus_name for r in df_rows})
    assert len(df_rows) == n_ops * n_names
    assert max(r.facility_id for r in df_rows) == n_names


def test_catalog_register_views_sql_matches_dataframe(spark):
    """S10: catalog.register_views exposes the star tables to spark.sql
    under the same names the DuckDB oracle uses."""
    from vexere_lakehouse_pipeline_spark.catalog import register_views
    from vexere_lakehouse_pipeline_spark.plans import star

    register_views(spark, "/root/testdata/sf0.001")
    via_sql = spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    ).collect()
    via_df = (
        star.QUERIES["tpch_q1_pricing_summary"](spark, "/root/testdata/sf0.001")
        .select("l_returnflag")  # same grouping keys exist
        .collect()
    )
    assert {r.l_returnflag for r in via_sql} == {r.l_returnflag for r in via_df}
    assert sum(r.n for r in via_sql) == spark.table("lineitem").count()
