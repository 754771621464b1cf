"""The medallion pipeline: bronze → silver → gold.

Re-expresses the reference's three silver jobs
(`convert/to_silver.py:92-210`) and gold refresh
(`convert/to_gold.py:4-228`) as pure DataFrame transforms over a
:class:`ZoneCatalog`, with the anti-patterns replaced:

- Python row UDFs → native Column chains (functions/cleaning.py)
- global-window surrogate keys → distributed assignment
  (operators/surrogate_keys.py)
- blind append → idempotent merge (operators/incremental.py)
- swallowed exceptions (to_silver.py:137-140) → fail fast; the runner
  records an audit row per task instead (audit/audit_logger.py schema).
- one table at a time → each DAG level's independent tasks and table
  writes overlap on driver threads (:func:`concurrently`).
"""

from __future__ import annotations

import socket
import threading
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from functools import partial
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vexere_lakehouse_pipeline_spark.catalog import AUDIT_SCHEMA
from vexere_lakehouse_pipeline_spark.functions.cleaning import (
    conform_ticket_columns,
)
from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
from vexere_lakehouse_pipeline_spark.operators.nlp import (
    fake_score_batch,
    language_column,
    sentiment_udf,
)
from vexere_lakehouse_pipeline_spark.operators.surrogate_keys import (
    assign_keys_distributed,
    assign_keys_range_ordered,
    max_existing_key,
)
from vexere_lakehouse_pipeline_spark.plans import gold

T = TypeVar("T")


def concurrently(spark: SparkSession, *fns: Callable[[], T]) -> list[T]:
    """Run ``fns`` on driver threads; return their results in order.

    Each thread inherits the caller's Spark local properties and tags
    (job group, scheduler pool), so its jobs stay attributable to the
    caller.  At most ``defaultParallelism`` threads run at once: a wider
    pool only queues more jobs for the same task slots while their plans
    and write buffers add to driver memory.  Every function runs to the
    end; the first failure in argument order is then re-raised."""
    if not fns:
        return []
    width = min(len(fns), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=max(width, 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn))
                   for fn in fns]
    for f in futures:
        if f.exception() is not None:
            raise f.exception()
    return [f.result() for f in futures]


def _with_bus_id(df: DataFrame, bus_ids: DataFrame, first_cols: list[str]) -> DataFrame:
    """Left join to the conformance dim with key columns first
    (add_bus_id* helpers, to_silver.py:77-90); dim is tiny → broadcast."""
    joined = df.join(
        F.broadcast(bus_ids.select("Bus_Name", "Bus_Id")), on="Bus_Name", how="left"
    )
    ordered = first_cols + [c for c in joined.columns if c not in first_cols]
    return joined.select(*ordered)


def ticket_to_silver(raw: DataFrame, bus_ids: DataFrame, base_key: int = 0) -> DataFrame:
    """Bronze ticket rows → typed, conformed silver rows
    (to_silver.py:110-134 semantics, UDF-free)."""
    cleaned = conform_ticket_columns(raw).drop("Bus_Key")
    keyed = assign_keys_distributed(cleaned, "Bus_Key", base=base_key)
    return _with_bus_id(keyed, bus_ids, ["Bus_Key", "Bus_Id", "Bus_Name"])


def conform_facilities(raw: DataFrame) -> DataFrame:
    """Dual-schema tolerance (to_silver.py:147-152): accept Facilities
    as array<string> OR stringified list; normalize to array<string>
    and drop empty/[""] rows."""
    dt = dict(raw.dtypes)["Facilities"]
    if dt.startswith("array"):
        arr = raw
    else:
        arr = raw.withColumn(
            "Facilities",
            # both repr-style ('[\'wifi\']') and JSON-style ('["wifi"]')
            # stringified lists appear (catalog.py:120-122) — strip BOTH
            # quote kinds or JSON payloads keep embedded double quotes
            # and split the facility dimension.
            F.split(F.regexp_replace("Facilities", r"[\[\]'\"]", ""), ", "),
        )
    return arr.filter(
        (F.size("Facilities") > 0) & ~F.array_contains("Facilities", "")
    )


def facility_to_silver(raw: DataFrame, bus_ids: DataFrame,
                       existing_names: DataFrame | None = None,
                       keyer: str = "range_ordered") -> dict[str, DataFrame]:
    """→ {facility: bridge(Bus_Id, Bus_Name, Facility_Id),
    facility_name: dim(Facility_Name, Facility_Id)}
    (to_silver.py:142-164).  The bridge join broadcasts the name dim.

    ``existing_names`` (the current silver dim) makes reruns id-STABLE:
    already-assigned names keep their Facility_Id and only genuinely
    new names get fresh ids above the existing max — without this, a
    rerun whose batch contains a new name would re-number the
    assignment and corrupt the dim/bridge (two names sharing one id).

    ``keyer`` picks how NEW names get ids (all yield contiguous keys
    continuing above the existing max — the dim's actual contract):

    - ``"range_ordered"`` (default): surrogate_keys.assign_keys_range_
      ordered — ids follow global sorted Facility_Name order (IDENTICAL
      first-run name→id mapping to the reference's sorted row_number,
      to_silver.py:130-131) but computed via range partitioning + a
      driver prefix-sum, so no Exchange SinglePartition.  Deterministic
      AND distributed; the default since round 4 (round 3 briefly
      defaulted to ``"distributed"``, whose first assignment was
      physical-order-dependent — flagged by review as a silent
      behavior change vs the reference).
    - ``"distributed"``: surrogate_keys.assign_keys_distributed —
      per-partition ranks + a driver prefix-sum.  Cheapest (no sort/
      range exchange) but first-run name→id mapping is physical-order-
      dependent (stable thereafter via ``existing_names``).
    - ``"ordered"``: the reference's literal sorted-by-name row_number
      — single-partition window; kept as the compat mode.
    """
    if keyer not in ("range_ordered", "distributed", "ordered"):
        raise ValueError(
            f"keyer must be range_ordered|distributed|ordered, got {keyer!r}"
        )
    conformed = _with_bus_id(
        conform_facilities(raw), bus_ids, ["Id", "Bus_Id", "Bus_Name"]
    )
    batch_names = conformed.select(
        F.explode("Facilities").alias("Facility_Name")
    ).distinct()

    def _key(df: DataFrame, base: int) -> DataFrame:
        if keyer == "range_ordered":
            return assign_keys_range_ordered(
                df, "Facility_Id", ["Facility_Name"], base=base
            )
        if keyer == "distributed":
            return assign_keys_distributed(df, "Facility_Id", base=base)
        return df.withColumn(
            "Facility_Id",
            (F.row_number().over(Window.orderBy("Facility_Name"))
             + F.lit(base)).cast("long"),
        )

    if existing_names is not None:
        base = max_existing_key(existing_names, "Facility_Id")
        fresh = _key(
            batch_names.join(
                F.broadcast(existing_names.select("Facility_Name")),
                on="Facility_Name", how="left_anti",
            ),
            base,
        )
        names = existing_names.select(
            F.col("Facility_Name"), F.col("Facility_Id").cast("long")
        ).unionByName(fresh)
    else:
        names = _key(batch_names, 0)
    bridge = (
        conformed.select(
            "Bus_Id", "Bus_Name", F.explode("Facilities").alias("Facility_Name")
        )
        .join(F.broadcast(names), on="Facility_Name")
        .select("Bus_Id", "Bus_Name", "Facility_Id")
        .distinct()
    )
    return {"facility": bridge, "facility_name": names}


def review_to_silver(raw: DataFrame, bus_ids: DataFrame,
                     score_batch=fake_score_batch,
                     base_key_vi: int = 0, base_key_en: int = 0) -> dict[str, DataFrame]:
    """Reviews → language-routed, sentiment-scored silver tables
    (predict/sentiment_analysis.py + to_silver.py:171-205).

    vi rows carry POS/NEG/NEU; en rows POS/NEG only (reference parity:
    3-class vi model, 2-class en model)."""
    # localCheckpoint: the vi/en branches below are two filters over
    # this frame — without materialization each branch re-runs language
    # detection AND the sentiment UDF over the full review set.
    scored = raw.withColumn("lang", language_column("Comment")).withColumn(
        "s", sentiment_udf(score_batch)("Comment")
    ).localCheckpoint(eager=True)
    vi = scored.filter(F.col("lang") == "vi").select(
        "Bus_Name", "Customer_Name", "Stars", "Comment", "Date",
        F.round(F.col("s.pos"), 4).alias("POS"),
        F.round(F.col("s.neg"), 4).alias("NEG"),
        F.round(F.col("s.neu"), 4).alias("NEU"),
    )
    en = scored.filter(F.col("lang") != "vi").select(
        "Bus_Name", "Customer_Name", "Stars", "Comment", "Date",
        F.round(F.col("s.pos"), 4).alias("POS"),
        F.round(F.col("s.neg"), 4).alias("NEG"),
    )
    vi = assign_keys_distributed(vi, "Review_Key", base=base_key_vi)
    en = assign_keys_distributed(en, "Review_Key", base=base_key_en)
    return {
        "bus_reviews_vi": _with_bus_id(vi, bus_ids, ["Review_Key", "Bus_Id", "Bus_Name"]),
        "bus_reviews_en": _with_bus_id(en, bus_ids, ["Review_Key", "Bus_Id", "Bus_Name"]),
    }


def run_gold(silver: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All 8 gold analytics from silver tables (to_gold.py:28-218)."""
    t = silver["ticket"]
    vi, en = silver["bus_reviews_vi"], silver["bus_reviews_en"]
    fac, fname = silver["facility"], silver["facility_name"]
    return {
        "cau_1": gold.cau_1_route_operator_stats(t),
        "cau_2": gold.cau_2_cheapest_good_operator(t, vi, en),
        "cau_3": gold.cau_3_operators_per_route(t),
        "cau_4": gold.cau_4_daily_avg_price(t),
        "cau_5": gold.cau_5_review_volume(vi),
        "cau_6": gold.cau_6_satisfaction_10pt(vi, en),
        "cau_7": gold.cau_7_hourly_coverage(t),
        # grid width follows the ACTUAL dim (hardcoding 21 would drop
        # ids above it / emit phantom rows below it); the dim is tiny.
        "cau_8": gold.cau_8_facility_coverage(
            fac, fname, n_facilities=max(fname.count(), 1)
        ),
    }


class PipelineRunner:
    """Minimal DAG runner with audit emission (kltn.dag.py +
    audit/audit_logger.py semantics, minus Airflow).  Failures
    PROPAGATE after the audit row is written — no silent except.

    Tasks may run on several driver threads at once.
    :func:`run_full_pipeline` runs the three silver groups side by side
    (the reference runs them one after another, kltn.dag.py:116) on at
    most ``defaultParallelism`` threads; a failing task lets its
    siblings finish, then gold is skipped and the failure propagates.
    The audit buffer and its flush share one lock, so every attempt row
    is written exactly once and only one flush creates the audit table."""

    def __init__(self, spark: SparkSession, zones: ZoneCatalog,
                 dag_id: str = "vexere_pipeline"):
        self.spark = spark
        self.zones = zones
        self.dag_id = dag_id
        self._audit_rows: list[tuple] = []
        self._audit_lock = threading.Lock()

    def run_task(self, task_id: str, fn: Callable[[], None],
                 retries: int = 1, retry_delay_s: float = 0.0) -> None:
        """Run a task with the reference's retry policy (kltn.dag.py:18-22 —
        1 retry, delay between attempts) and one audit row PER ATTEMPT
        with an honest try_number.  The task fails only after the final
        attempt; intermediate failures are audited, not swallowed."""
        err: Exception | None = None
        for attempt in range(1, retries + 2):
            start = time.time()
            state, err = "success", None
            try:
                fn()
            except Exception as e:  # noqa: BLE001
                state, err = "failed", e
                traceback.print_exc()
            end = time.time()
            now = datetime.now(timezone.utc).isoformat()
            with self._audit_lock:
                self._audit_rows.append(
                    (
                        now, self.dag_id, task_id, state,
                        datetime.fromtimestamp(start, timezone.utc).isoformat(),
                        datetime.fromtimestamp(end, timezone.utc).isoformat(),
                        round(end - start, 3), attempt, socket.gethostname(),
                    )
                )
            if err is None:
                return
            if attempt <= retries and retry_delay_s:
                time.sleep(retry_delay_s)
        try:
            self.flush_audit()
        except Exception as flush_err:  # pragma: no cover - env-dependent
            # the task's root cause must surface, not the audit IO
            # error; chain it so neither is lost.
            raise err from flush_err
        raise err

    def flush_audit(self) -> None:
        """Write the buffered audit rows.  The lock is held from taking
        the rows to clearing them, so a row appended meanwhile waits for
        the next flush, and a failed write keeps the rows buffered."""
        from vexere_lakehouse_pipeline_spark.operators.incremental import (
            read_table,
            write_overwrite,
        )

        with self._audit_lock:
            if not self._audit_rows:
                return
            df = self.spark.createDataFrame(self._audit_rows, AUDIT_SCHEMA)
            path = self.zones.path("audit", "audit")
            if read_table(self.spark, path, self.zones.fmt) is None:
                write_overwrite(df, path, self.zones.fmt)
            else:
                df.write.format(self.zones.fmt).mode("append").save(path)
            self._audit_rows = []


def run_full_pipeline(spark: SparkSession, zones: ZoneCatalog,
                      raw_tickets: DataFrame, raw_facilities: DataFrame,
                      raw_reviews: DataFrame, bus_ids: DataFrame,
                      ingest_date: str = "2025-05-01") -> dict[str, DataFrame]:
    """End-to-end: raw → bronze (parquet/delta zones, date-partitioned)
    → silver (merge-append) → gold (overwrite).  Returns the gold DFs.

    Each level's independent work overlaps (:func:`concurrently`): the
    four bronze writes, the three silver tasks (the reference runs them
    one after another, kltn.dag.py:116) and the eight gold refreshes.
    A failed silver task lets its siblings finish, then skips gold and
    propagates."""
    runner = PipelineRunner(spark, zones)

    def to_bronze():
        concurrently(
            spark,
            # Dynamic overwrite: re-running a day replaces THAT day's
            # partition only; prior ingest dates stay (the reference's
            # daily overwrite kept one day ever — SURVEY §2.1 S5 upgraded).
            lambda: zones.overwrite_partitions(
                raw_tickets.withColumn("ingest_date", F.lit(ingest_date)),
                "bronze", "ticket", partition_by=("ingest_date",),
            ),
            lambda: zones.overwrite(raw_facilities, "bronze", "facility"),
            lambda: zones.overwrite(raw_reviews, "bronze", "review"),
            lambda: zones.overwrite(bus_ids, "silver", "bus_ids"),
        )

    runner.run_task("to_bronze", to_bronze)

    def ticket_silver():
        # Prune to TODAY's partition: bronze retains all ingest dates,
        # and reprocessing the full history each run would grow O(history).
        bronze = zones.read(spark, "bronze", "ticket").filter(
            F.col("ingest_date") == ingest_date
        )
        existing = zones.read(spark, "silver", "ticket")
        base = max_existing_key(existing, "Bus_Key")
        silver = ticket_to_silver(
            bronze.drop("ingest_date"), zones.read(spark, "silver", "bus_ids"),
            base_key=base,
        )
        zones.merge(
            silver, "silver", "ticket",
            merge_keys=["Bus_Name", "Start_Date", "Route", "Departure_Time",
                        "Departure_Place", "Price"],
        )

    def facility_silver():
        out = facility_to_silver(
            zones.read(spark, "bronze", "facility"),
            zones.read(spark, "silver", "bus_ids"),
            existing_names=zones.read(spark, "silver", "facility_name"),
        )
        zones.merge(out["facility"], "silver", "facility",
                    merge_keys=["Bus_Id", "Bus_Name", "Facility_Id"])
        zones.merge(out["facility_name"], "silver", "facility_name",
                    merge_keys=["Facility_Name"])

    def review_silver():
        vi_base = max_existing_key(
            zones.read(spark, "silver", "bus_reviews_vi"), "Review_Key"
        )
        en_base = max_existing_key(
            zones.read(spark, "silver", "bus_reviews_en"), "Review_Key"
        )
        out = review_to_silver(
            zones.read(spark, "bronze", "review"),
            zones.read(spark, "silver", "bus_ids"),
            base_key_vi=vi_base, base_key_en=en_base,
        )
        for name in ("bus_reviews_vi", "bus_reviews_en"):
            zones.merge(out[name], "silver", name,
                        merge_keys=["Bus_Name", "Customer_Name", "Comment", "Date"])

    try:
        concurrently(
            spark,
            partial(runner.run_task, "ticket_to_silver", ticket_silver),
            partial(runner.run_task, "facility_to_silver", facility_silver),
            partial(runner.run_task, "review_to_silver", review_silver),
        )
    except Exception as err:
        # a failed task flushed the audit before its siblings finished;
        # their rows go out too before the failure propagates
        try:
            runner.flush_audit()
        except Exception as flush_err:  # pragma: no cover - env-dependent
            raise err from flush_err
        raise

    gold_out: dict[str, DataFrame] = {}

    def refresh(name: str, df: DataFrame) -> tuple[str, DataFrame]:
        zones.overwrite(df, "gold", name)
        return name, zones.read(spark, "gold", name)

    def gold_refresh():
        silver = {
            name: zones.read(spark, "silver", name)
            for name in ("ticket", "facility", "facility_name",
                         "bus_reviews_vi", "bus_reviews_en")
        }
        gold_out.update(concurrently(
            spark, *(partial(refresh, name, df)
                     for name, df in run_gold(silver).items())))

    runner.run_task("update_charts", gold_refresh)
    runner.flush_audit()
    return gold_out
