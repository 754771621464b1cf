"""A warm daily pass does only the day's new work: generated code stays
compiled across runs, the keyed merge keys only rows it appends, and
silver scores only reviews it does not hold yet."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from vexere_lakehouse_pipeline_spark.operators.incremental import (
    ZoneCatalog,
    merge_append,
    read_table,
)
from vexere_lakehouse_pipeline_spark.plans import pipeline
from vexere_lakehouse_pipeline_spark.sources import fixtures


def _inputs(spark, **overrides):
    inputs = dict(
        raw_tickets=fixtures.raw_tickets(spark, days=("01-05-2025",)),
        raw_facilities=fixtures.raw_facilities(spark),
        raw_reviews=fixtures.raw_reviews(spark),
        bus_ids=fixtures.bus_ids(spark),
    )
    inputs.update(overrides)
    return inputs


# Three identical daily runs in a JVM of their own: the codegen cache is
# per JVM, and the test session's is already warm from other tests.
_THREE_RUNS = """
import json, sys
from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
from vexere_lakehouse_pipeline_spark.plans.pipeline import run_full_pipeline
from vexere_lakehouse_pipeline_spark.session import build_session
from vexere_lakehouse_pipeline_spark.sources import fixtures

spark = build_session("codegen-cache", master="local[2]",
                      extra_conf={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
inputs = dict(
    raw_tickets=fixtures.raw_tickets(spark, days=("01-05-2025",)),
    raw_facilities=fixtures.raw_facilities(spark),
    raw_reviews=fixtures.raw_reviews(spark),
    bus_ids=fixtures.bus_ids(spark),
)
zones = ZoneCatalog(sys.argv[1], fmt="parquet")
compiled = []
for _ in range(3):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run_full_pipeline(spark, zones, **inputs)
    compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
spark.stop()
print(json.dumps(compiled))
"""


def test_warm_run_recompiles_nothing(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _THREE_RUNS, str(tmp_path / "zones")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first, _second, third = json.loads(out.stdout.strip().splitlines()[-1])
    assert first > 100  # a cold run generates a few hundred classes
    assert third < 0.1 * first, (first, third)


def test_gold_frames_read_back_with_writer_schema(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    gold = pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    assert set(gold) == {f"cau_{i}" for i in range(1, 9)}
    for name, df in gold.items():
        stored = zones.read(spark, "gold", name)
        assert df.schema == stored.schema, name
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, stored.collect())), name


def test_keyed_merge_keys_only_appended_rows(spark, tmp_path):
    path = str(tmp_path / "keyed")
    spark.createDataFrame([(5, "a"), (9, "b")], "k long, v string").write.parquet(path)
    batch = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "v string")
    assert merge_append(batch, path, ["v"], fmt="parquet", key_col="k") == 3
    got = read_table(spark, path, "parquet")
    assert got.columns == ["k", "v"]
    rows = sorted((r.v, r.k) for r in got.collect())
    assert rows[:2] == [("a", 5), ("b", 9)]
    assert sorted(k for v, k in rows[2:]) == [10, 11, 12]
    files = sorted(os.listdir(path))
    assert merge_append(batch, path, ["v"], fmt="parquet", key_col="k") == 0
    assert sorted(os.listdir(path)) == files
    assert read_table(spark, path, "parquet").count() == 5


def test_keyed_merge_creates_table_with_dense_keys(spark, tmp_path):
    path = str(tmp_path / "fresh")
    batch = spark.createDataFrame([("x",), ("y",), ("z",)], "v string")
    assert merge_append(batch, path, ["v"], fmt="parquet", key_col="k") == 3
    got = read_table(spark, path, "parquet")
    assert got.columns == ["k", "v"]
    assert sorted(r.k for r in got.collect()) == [1, 2, 3]


def test_silver_scores_only_novel_reviews(spark, tmp_path, monkeypatch):
    scored = []
    real = pipeline.review_to_silver

    def spy(raw, bus_ids, *args, **kwargs):
        scored.append(raw.count())
        return real(raw, bus_ids, *args, **kwargs)

    monkeypatch.setattr(pipeline, "review_to_silver", spy)
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    reviews = fixtures.raw_reviews(spark)
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    assert scored == [reviews.count()]

    def silver_reviews():
        vi = zones.read(spark, "silver", "bus_reviews_vi")
        en = zones.read(spark, "silver", "bus_reviews_en")
        return vi.select("Review_Key", "Comment").unionByName(
            en.select("Review_Key", "Comment")).collect(), vi, en

    before, vi, en = silver_reviews()
    max_vi = vi.agg(F.max("Review_Key")).first()[0]

    # replay day: the same reviews are not scored again, nothing written
    pipeline.run_full_pipeline(spark, zones, **_inputs(spark))
    assert len(scored) == 1
    assert sorted(map(tuple, silver_reviews()[0])) == sorted(map(tuple, before))

    # one new (Vietnamese) review: exactly one row is scored and keyed
    new = spark.createDataFrame(
        [(fixtures.OPERATORS[0], "Lê C", 5, "Xe rất sạch sẽ, tài xế thân thiện",
          "30/04/2025 09:00")],
        reviews.schema,
    )
    pipeline.run_full_pipeline(
        spark, zones, **_inputs(spark, raw_reviews=reviews.unionByName(new)))
    assert scored == [reviews.count(), 1]
    after, vi, _ = silver_reviews()
    assert len(after) == len(before) + 1
    added = vi.filter(F.col("Customer_Name") == "Lê C")
    assert [r.Review_Key for r in added.collect()] == [max_vi + 1]
