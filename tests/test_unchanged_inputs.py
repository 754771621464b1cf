"""A warm daily pass skips work whose inputs did not change: zone reads
reuse the schema the catalog already knows (no schema-inference job),
and a gold table is rebuilt only when its input files or its plan
changed."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
from vexere_lakehouse_pipeline_spark.plans import gold, pipeline
from vexere_lakehouse_pipeline_spark.sources import fixtures

SILVER = ("ticket", "facility", "facility_name", "bus_reviews_vi",
          "bus_reviews_en")
GOLD = tuple(f"cau_{i}" for i in range(1, 9))
_probe_ids = itertools.count()


def _inputs(spark, days=("01-05-2025",), reviews=None):
    return dict(
        raw_tickets=fixtures.raw_tickets(spark, days=days),
        raw_facilities=fixtures.raw_facilities(spark),
        raw_reviews=reviews if reviews is not None else fixtures.raw_reviews(spark),
        bus_ids=fixtures.bus_ids(spark),
    )


def _parts(zones, table):
    """part file name → mtime of one gold table."""
    path = zones.path("gold", table)
    return {f: os.stat(os.path.join(path, f)).st_mtime_ns
            for f in os.listdir(path) if f.startswith("part-")}


def _rows(df):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.collect())


def _assert_gold_is_oracle(spark, zones):
    """Every stored gold table equals run_gold over the current silver."""
    silver = {n: spark.read.parquet(zones.path("silver", n)) for n in SILVER}
    for name, want in pipeline.run_gold(silver).items():
        got = spark.read.parquet(zones.path("gold", name))
        assert _rows(got) == _rows(want), name


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = f"read-probe-{next(_probe_ids)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _new_review(spark, reviews, name):
    return reviews.unionByName(spark.createDataFrame(
        [(fixtures.OPERATORS[1], name, 4, "Xe đi đúng giờ, nhân viên nhiệt tình",
          "02/05/2025 10:00")],
        reviews.schema))


def test_unchanged_review_and_facility_golds_are_not_rewritten(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    before = {t: _parts(zones, t) for t in GOLD}
    # a new ticket day; facilities and reviews are the same as yesterday
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark, days=("02-05-2025",)))
    after = {t: _parts(zones, t) for t in GOLD}
    for t in ("cau_5", "cau_6", "cau_8"):
        assert after[t] == before[t], t
    assert set(after["cau_1"]).isdisjoint(before["cau_1"])
    # a replay appends nothing anywhere: no gold table is rewritten
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark, days=("02-05-2025",)))
    assert {t: _parts(zones, t) for t in GOLD} == after
    _assert_gold_is_oracle(spark, zones)


def test_day_sequence_keeps_every_gold_equal_to_run_gold(spark, tmp_path, monkeypatch):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    reviews = fixtures.raw_reviews(spark)
    more_reviews = _new_review(spark, reviews, "Trần D")
    newest = _new_review(spark, more_reviews, "Phạm E")

    def run(**inputs):
        """Run one day; return the gold tables it rewrote."""
        before = {t: _parts(zones, t) for t in GOLD
                  if os.path.isdir(zones.path("gold", t))}
        pipeline.run_full_pipeline(spark, zones, **_inputs(spark, **inputs))
        _assert_gold_is_oracle(spark, zones)
        return {t for t in GOLD if _parts(zones, t) != before.get(t)}

    tickets = {"cau_1", "cau_2", "cau_3", "cau_4", "cau_7"}
    assert run() == set(GOLD)
    assert run(days=("02-05-2025",)) == tickets                      # new ticket day
    assert run(days=("03-05-2025",), reviews=more_reviews) == (
        tickets | {"cau_5", "cau_6"})                                # new reviews
    assert run(days=("03-05-2025",), reviews=more_reviews) == set()  # replay
    assert run(days=("28-04-2025",), reviews=more_reviews) == tickets  # late, earlier date

    # a new review, and cau_5's write fails mid-job after the overwrite
    # deleted the table: the retry fails too, and the run propagates it
    @F.udf("int")
    def boom(_):
        raise RuntimeError("injected write failure")

    real = gold.cau_5_review_volume
    monkeypatch.setattr(gold, "cau_5_review_volume",
                        lambda vi: real(vi).withColumn("boom", boom(F.lit(1))))
    with pytest.raises(Exception, match="injected write failure"):
        pipeline.run_full_pipeline(
            spark, zones, **_inputs(spark, days=("28-04-2025",), reviews=newest))
    assert not os.path.exists(os.path.join(zones.path("gold", "cau_5"), "_inputs"))
    monkeypatch.setattr(gold, "cau_5_review_volume", real)

    # unchanged inputs append nothing, yet the failed cau_5 is rebuilt
    assert run(days=("28-04-2025",), reviews=newest) == {"cau_5"}


def test_changed_gold_code_rebuilds_with_unchanged_inputs(spark, tmp_path, monkeypatch):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    before = {t: _parts(zones, t) for t in GOLD}
    monkeypatch.setattr(
        gold, "cau_5_review_volume",
        lambda vi: vi.groupBy("Bus_Name").agg(F.max("Stars").alias("top_stars")))
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    after = {t: _parts(zones, t) for t in GOLD}
    assert set(after.pop("cau_5")).isdisjoint(before.pop("cau_5"))
    assert after == before  # inputs unchanged: no other table is rewritten
    assert spark.read.parquet(zones.path("gold", "cau_5")).columns == [
        "Bus_Name", "top_stars"]
    _assert_gold_is_oracle(spark, zones)


def test_overwrite_if_changed_keys_on_input_files(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    zones.overwrite(spark.createDataFrame([(1,), (2,)], "v int"), "silver", "src")

    def derived():
        return zones.read(spark, "silver", "src").agg(F.sum("v").alias("s"))

    assert zones.overwrite_if_changed(derived(), "gold", "sum")
    assert not zones.overwrite_if_changed(derived(), "gold", "sum")
    zones.merge(spark.createDataFrame([(3,)], "v int"), "silver", "src", ["v"])
    assert zones.overwrite_if_changed(derived(), "gold", "sum")
    assert spark.read.parquet(zones.path("gold", "sum")).first().s == 6


def test_frame_without_input_files_is_always_written(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    assert zones.overwrite_if_changed(
        spark.createDataFrame([(1,)], "v int"), "gold", "mem")
    first = _parts(zones, "mem")
    assert zones.overwrite_if_changed(
        spark.createDataFrame([(2,)], "v int"), "gold", "mem")
    assert set(_parts(zones, "mem")).isdisjoint(first)
    assert [r.v for r in spark.read.parquet(zones.path("gold", "mem")).collect()] == [2]


def test_memoized_schemas_equal_fresh_inference(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    for _ in range(2):  # the second run reads through the memo
        pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    tables = [(z, t) for z in ("bronze", "silver", "gold", "audit")
              for t in sorted(os.listdir(tmp_path / z))]
    assert ("bronze", "ticket") in tables and len(tables) == 18
    for zone, table in tables:
        fresh = spark.read.parquet(zones.path(zone, table)).schema
        assert zones.read(spark, zone, table).schema == fresh, (zone, table)
    assert zones.read(spark, "bronze", "ticket").columns[-1] == "ingest_date"


def test_repeated_read_starts_no_spark_job(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    zones.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"),
                    "silver", "t")
    assert _jobs_started(spark, lambda: zones.read(spark, "silver", "t"))
    assert _jobs_started(spark, lambda: zones.read(spark, "silver", "t")) == []


def test_write_with_new_columns_drops_the_memo(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    zones.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"),
                    "silver", "t")
    zones.read(spark, "silver", "t")
    # an append with the same columns keeps the memo
    zones.merge(spark.createDataFrame([(2, "b")], "k int, v string"),
                "silver", "t", ["k"])
    assert _jobs_started(spark, lambda: zones.read(spark, "silver", "t")) == []
    # an append that adds a column: the next read infers again
    zones.merge(spark.createDataFrame([(3, "c", 1.5)], "k int, v string, x double"),
                "silver", "t", ["k"])
    assert _jobs_started(spark, lambda: zones.read(spark, "silver", "t"))
    # an overwrite with other columns is read with them
    zones.overwrite(spark.createDataFrame([(1, 2.0)], "k int, y double"),
                    "silver", "t")
    assert zones.read(spark, "silver", "t").columns == ["k", "y"]
