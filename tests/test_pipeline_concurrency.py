"""The daily DAG's overlapped levels: `concurrently`, the runner's audit
buffer under concurrent tasks, job-group inheritance on pool threads,
and dynamic partition overwrite without session-conf mutation."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from vexere_lakehouse_pipeline_spark.operators.incremental import (
    ZoneCatalog,
    _overwrite_touched_partitions,
    incremental_rollup,
    read_table,
)
from vexere_lakehouse_pipeline_spark.plans.pipeline import (
    PipelineRunner,
    concurrently,
    run_full_pipeline,
)
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


def test_concurrently_runs_all_then_raises_first_failure(spark):
    width = spark.sparkContext.defaultParallelism
    active, peak, done = [0], [0], []
    lock = threading.Lock()

    def work(i):
        with lock:
            active[0] += 1
            peak[0] = max(peak[0], active[0])
        time.sleep(0.05)
        with lock:
            active[0] -= 1
            done.append(i)
        if i in (3, 1):
            raise ValueError(f"fail {i}")
        return i * i

    n = width + 3
    assert concurrently(spark, *(lambda i=i: i * i for i in range(n))) == [
        i * i for i in range(n)
    ]
    with pytest.raises(ValueError, match="fail 1"):
        concurrently(spark, *(lambda i=i: work(i) for i in range(n)))
    assert sorted(done) == list(range(n))  # siblings of a failure finish
    assert peak[0] <= width
    assert concurrently(spark) == []


def test_dynamic_overwrites_leave_session_conf_alone(spark, tmp_path, monkeypatch):
    key = "spark.sql.sources.partitionOverwriteMode"
    conf_sets = []
    orig_set = RuntimeConfig.set

    def spy(self, k, v):
        conf_sets.append(k)
        return orig_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    zones = ZoneCatalog(str(tmp_path / "zones"))
    d1 = spark.createDataFrame([("a", "2025-05-01")], "v string, ingest_date string")
    d2 = spark.createDataFrame([("b", "2025-05-02")], "v string, ingest_date string")
    facts = spark.createDataFrame([("x", 1, 2)], "k string, day int, n int")
    rollup = str(tmp_path / "rollup")
    measures = {"total": ("sum", "n")}
    touched = str(tmp_path / "touched")
    d1.write.partitionBy("ingest_date").parquet(touched)
    calls = {
        "overwrite_partitions": lambda: zones.overwrite_partitions(
            d2, "bronze", "ticket", ("ingest_date",)),
        "incremental_rollup": lambda: incremental_rollup(
            facts, rollup, ["k", "day"], measures, "day"),
        "_overwrite_touched_partitions": lambda: _overwrite_touched_partitions(
            spark, touched, "parquet", ("ingest_date",), d2,
            d2.select(F.col("ingest_date").alias("__p_ingest_date"))),
    }
    zones.overwrite_partitions(d1, "bronze", "ticket", ("ingest_date",))
    incremental_rollup(facts, rollup, ["k", "day"], measures, "day")
    for name, call in calls.items():
        before = spark.conf.getAll.get(key)  # None while never set
        call()
        assert spark.conf.getAll.get(key) == before, name
    assert key not in conf_sets
    # still dynamic: each write replaced only the partitions it carried
    got = {str(r.ingest_date) for r in zones.read(spark, "bronze", "ticket").collect()}
    assert got == {"2025-05-01", "2025-05-02"}
    got = {str(r.ingest_date) for r in spark.read.parquet(touched).collect()}
    assert got == {"2025-05-01", "2025-05-02"}
    assert [tuple(r) for r in spark.read.parquet(rollup).collect()] == [("x", 4, 1)]


def test_concurrent_task_failures_audit_each_attempt_once(spark, tmp_path):
    flushing = threading.Event()

    class Runner(PipelineRunner):
        def flush_audit(self):
            flushing.set()
            super().flush_audit()

    zones = ZoneCatalog(str(tmp_path))
    runner = Runner(spark, zones, dag_id="overlap_dag")

    def failing(msg):
        def fn():
            time.sleep(0.05)
            raise RuntimeError(msg)
        return fn

    def succeeding():
        # finish while a failed sibling's flush is writing the audit
        assert flushing.wait(timeout=120)

    with pytest.raises(RuntimeError, match="first"):
        concurrently(
            spark,
            lambda: runner.run_task("fail_a", failing("first"), retries=1),
            lambda: runner.run_task("fail_b", failing("second"), retries=1),
            lambda: runner.run_task("ok", succeeding),
        )
    runner.flush_audit()
    rows = read_table(spark, zones.path("audit", "audit")).collect()
    got = sorted((r.task_id, r.try_number, r.state) for r in rows)
    assert got == [
        ("fail_a", 1, "failed"), ("fail_a", 2, "failed"),
        ("fail_b", 1, "failed"), ("fail_b", 2, "failed"),
        ("ok", 1, "success"),
    ]


def test_silver_failure_lets_siblings_finish_and_skips_gold(spark, tmp_path):
    zones = ZoneCatalog(str(tmp_path), fmt="parquet")
    broken_reviews = fixtures.raw_reviews(spark).drop("Comment")
    with pytest.raises(Exception, match="Comment"):
        run_full_pipeline(spark, zones, **_inputs(spark, raw_reviews=broken_reviews))
    audit = read_table(spark, zones.path("audit", "audit"), "parquet").collect()
    got = sorted((r.task_id, r.try_number, r.state) for r in audit)
    assert got == [
        ("facility_to_silver", 1, "success"),
        ("review_to_silver", 1, "failed"), ("review_to_silver", 2, "failed"),
        ("ticket_to_silver", 1, "success"),
        ("to_bronze", 1, "success"),
    ]
    assert zones.read(spark, "silver", "ticket").count() > 0
    assert zones.read(spark, "silver", "facility_name").count() > 0
    assert zones.read(spark, "gold", "cau_1") is None


def test_pipeline_jobs_inherit_caller_job_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker() -> int:
        sc.setJobGroup("marker", "marker")
        sc.parallelize([1], 1).count()
        return max(tracker.getJobIdsForGroup("marker"))

    try:
        first = marker()
        sc.setJobGroup("dag", "daily DAG under test")
        run_full_pipeline(spark, ZoneCatalog(str(tmp_path), fmt="parquet"),
                          **_inputs(spark))
        last = marker()
        dag = set(tracker.getJobIdsForGroup("dag"))
        null_group = set(tracker.getJobIdsForGroup(None))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    run = {j for j in range(first + 1, last) if tracker.getJobInfo(j) is not None}
    assert run, "the pipeline submitted no jobs"
    assert run <= dag, sorted(run - dag)
    assert not run & null_group
