"""The benchmark's workloads.

A workload has ``setup()`` (inputs and history, untimed as a pass but
part of ``setup_s``), ``run_pass(i)`` (one timed unit of work, returning
``(unit, completed)`` pairs), and ``check()`` (untimed correctness
checks, returning ``{check: passed}``).  ``units_ok`` maps each unit to
whether its correctness check passed.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
import traceback
from contextlib import contextmanager
from datetime import date, timedelta

from vexere_lakehouse_pipeline_spark.catalog import TESTDATA_TABLES


# The oracle hash of tools/check_oracle.py, restated here: importing that
# script would put its hard-coded repository path first on sys.path.
def canon(v) -> str:
    """Value canonicalisation of ``tools/check_oracle._canon``."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive result hash of ``tools/check_oracle.table_hash``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def force(df) -> None:
    """Evaluate every row and column of ``df`` without writing output."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing: the session, the run's scratch directory, the
    tracer (``None`` when untraced) and the seconds spent on the
    benchmark's own oracle and hash work (excluded from ``setup_s``)."""

    name = ""
    max_warmup = 0
    zone_base: str | None = None

    def __init__(self, spark, run_dir: str, seed: int, opts) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.opts = opts
        self.tracer = None
        self.own_s = 0.0
        self.history_s = 0.0
        self.units_ok: dict[str, bool] = {}
        self.appended: list[tuple[str, str, int]] = []

    def reset(self) -> None:
        """Untimed, before every pass."""

    def check_pass(self) -> None:
        """Untimed-for-checks first warm-up pass; none by default."""

    @contextmanager
    def job_group(self, name: str):
        """Run Spark jobs under group ``p<pass>:<name>``, then return to
        the pass's own group."""
        sc, tracer = self.spark.sparkContext, self.tracer
        gid = f"p{tracer.pass_id}:{name}"
        tracer.groups.setdefault(name, []).append(gid)
        sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            outer = f"p{tracer.pass_id}:pass"
            sc.setJobGroup(outer, outer)


# ---------------------------------------------------------------------------
# pipeline_daily
# ---------------------------------------------------------------------------

DAG_TASKS = ("to_bronze", "ticket_to_silver", "facility_to_silver",
             "review_to_silver", "update_charts")
FIRST_DAY = date(2025, 1, 1)


class PipelineDaily(Workload):
    """The daily medallion DAG (``plans.pipeline.run_full_pipeline``):
    set-up bulk-loads ``history_days`` crawl days from the
    ``vexere_tickets`` source; each pass ingests one new crawl day."""

    name = "pipeline_daily"

    def setup(self) -> None:
        from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
        from vexere_lakehouse_pipeline_spark.sources import fixtures
        from vexere_lakehouse_pipeline_spark.sources.ticket_source import TicketDataSource

        spark = self.spark
        spark.dataSource.register(TicketDataSource)
        self.zone_base = os.path.join(self.run_dir, "zones")
        self.zones = ZoneCatalog(self.zone_base, fmt="parquet")
        self.side = dict(
            raw_facilities=fixtures.raw_facilities(spark, seed=self.seed),
            raw_reviews=fixtures.raw_reviews(spark, seed=self.seed),
            bus_ids=fixtures.bus_ids(spark),
        )
        self._count_merges()
        self.dag_runs = 0
        self.last_day: int | None = None
        t = time.perf_counter()
        self._run_day(list(range(self.opts.history_days)),
                      (FIRST_DAY - timedelta(days=1)).isoformat())
        self.history_s = time.perf_counter() - t

    def _count_merges(self) -> None:
        """Record every ``ZoneCatalog.merge`` return value (rows appended)."""
        from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog

        orig = ZoneCatalog.merge
        appended = self.appended

        def merge(zc, df, zone, table, *args, **kwargs):
            n = orig(zc, df, zone, table, *args, **kwargs)
            appended.append((zone, table, n))
            return n

        ZoneCatalog.merge = merge

    def _tickets(self, days: list[int]):
        names = ",".join((FIRST_DAY + timedelta(days=d)).strftime("%d-%m-%Y") for d in days)
        return (self.spark.read.format("vexere_tickets").option("days", names)
                .option("rows_per_day", self.opts.rows_per_day)
                .option("seed", self.seed).load())

    def _run_day(self, days: list[int], ingest_date: str) -> None:
        from vexere_lakehouse_pipeline_spark.plans.pipeline import run_full_pipeline

        run_full_pipeline(self.spark, self.zones, self._tickets(days),
                          ingest_date=ingest_date, **self.side)
        self.dag_runs += 1

    def run_pass(self, i: int) -> list[tuple[str, bool]]:
        day = self.opts.history_days + i
        try:
            self._run_day([day], (FIRST_DAY + timedelta(days=day)).isoformat())
        except Exception:  # noqa: BLE001 - a failed pass lowers ok_ratio
            traceback.print_exc()
            return [(f"day{day}", False)]
        self.last_day = day
        self.units_ok[f"day{day}"] = True
        return [(f"day{day}", True)]

    def raw_bytes(self, n_days: int) -> int:
        """UTF-8 bytes of the raw rows generated for ``n_days`` crawl
        days plus the facility, review and bus-id inputs."""
        from vexere_lakehouse_pipeline_spark.sources.ticket_source import TicketReader

        names = ",".join((FIRST_DAY + timedelta(days=d)).strftime("%d-%m-%Y")
                         for d in range(n_days))
        reader = TicketReader({"days": names, "rows_per_day": self.opts.rows_per_day,
                               "seed": self.seed})
        total = sum(len(str(v).encode()) for p in reader.partitions()
                    for row in reader.read(p) for v in row if v is not None)
        side = sum(len(str(v).encode()) for df in self.side.values()
                   for row in df.collect() for v in row if v is not None)
        return total + side

    def check(self, replay: bool) -> dict[str, bool]:
        try:
            return self._check(replay)
        except Exception:  # noqa: BLE001 - a broken zone fails the checks, not the run
            traceback.print_exc()
            return {"checks_ran": False}

    def _check(self, replay: bool) -> dict[str, bool]:
        from pyspark.sql import functions as F

        spark, zones = self.spark, self.zones
        silver = zones.read(spark, "silver", "ticket")
        n_silver = silver.count()
        appended = sum(n for z, t, n in self.appended if (z, t) == ("silver", "ticket"))
        audit = zones.read(spark, "audit", "audit")
        c8 = zones.read(spark, "gold", "cau_8")
        ops8 = c8.select("bus_name").distinct().count()
        # cau_8's grid is operators × the facility dim; the dim has all 21
        # names only when the seed's facility lists cover them.
        n_fac = zones.read(spark, "silver", "facility_name").count()
        out = {
            "silver_rows_equal_appended": n_silver == appended and n_silver > 0,
            "bus_key_unique": silver.select("Bus_Key").distinct().count() == n_silver,
            "audit_all_success": (
                audit.filter(F.col("state") != "success").count() == 0
                and audit.count() == len(DAG_TASKS) * self.dag_runs),
            "cau8_operators_x_facilities": ops8 > 0 and c8.count() == ops8 * n_fac,
        }
        if replay and self.last_day is not None:
            mark = len(self.appended)
            day = self.last_day
            self._run_day([day], (FIRST_DAY + timedelta(days=day)).isoformat())
            out["replay_appends_zero"] = all(n == 0 for _z, _t, n in self.appended[mark:])
        return out


# ---------------------------------------------------------------------------
# read_mix
# ---------------------------------------------------------------------------

# Relational registered queries (catalog scans, planning, joins, windows,
# shuffles) and corpus/ML operators (LSH banding, the k-means driver loop,
# ANN artifacts, localCheckpoint pins).
RELATIONAL = ("tpch_q3_shipping_priority", "events_sessionization")
CORPUS = ("dedup_minhash_lsh_pairs", "sim_topk_ivf")


class ReadMix(Workload):
    """The analyst read path: each pass runs every unit once through the
    noop sink, in an order permuted by the seed, over star tables
    generated from the seed."""

    name = "read_mix"
    max_warmup = 2

    def setup(self) -> None:
        from inputs import write_star_tables

        import __spark_entry__ as entry

        self.data = os.path.join(self.run_dir, "data")
        write_star_tables(self.data, self.seed, self.opts.scale)
        self.queries = entry.queries()
        self.units = list(RELATIONAL + CORPUS)
        random.Random(self.seed).shuffle(self.units)

    def reset(self) -> None:
        """Drop caches between passes so each pass recomputes its units."""
        from vexere_lakehouse_pipeline_spark.plans import star_ml

        self.spark.catalog.clearCache()
        star_ml.reset_shared_arms(keep_names=())

    def check_pass(self) -> None:
        """First warm-up pass: collect each unit once and compare its
        hash with the DuckDB oracle (hash and oracle time is excluded
        from ``setup_s``)."""
        import duckdb

        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data, t)}.parquet'")
        for name in self.units:
            self.reset()
            try:
                df = self.queries[name](self.spark, self.data)
                rows = [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - a failed unit lowers ok_ratio
                traceback.print_exc()
                self.units_ok[name] = False
                continue
            t = time.perf_counter()
            cur = con.execute(oracle[name])
            ocols = [d[0] for d in cur.description]
            self.units_ok[name] = table_hash(df.columns, rows) == table_hash(ocols, cur.fetchall())
            self.own_s += time.perf_counter() - t
        con.close()

    def run_pass(self, i: int) -> list[tuple[str, bool]]:
        out = []
        for name in self.units:
            self.reset()
            ok = True
            try:
                if self.tracer is None:
                    force(self.queries[name](self.spark, self.data))
                else:
                    self._traced_unit(name)
            except Exception:  # noqa: BLE001 - a failed unit lowers ok_ratio
                traceback.print_exc()
                ok = False
            out.append((name, ok))
        return out

    def _traced_unit(self, name: str) -> None:
        tracer = self.tracer
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001
        with self.job_group(name):
            if name in CORPUS:
                with tracer.span(f"op.{name}.call_s"):
                    df = self.queries[name](self.spark, self.data)
                with tracer.span(f"op.{name}.force_s"):
                    force(df)
            else:
                with tracer.span(f"q.{name}_s"):
                    force(self.queries[name](self.spark, self.data))
        leaked = self.spark.sparkContext._jsc.getPersistentRDDs().size() - rdds  # noqa: SLF001
        tracer.leaked[name] = tracer.leaked.get(name, 0) + max(leaked, 0)

    def check(self, replay: bool) -> dict[str, bool]:
        # per-unit oracle results are in ``units_ok`` (set by check_pass)
        return {}


WORKLOADS = {w.name: w for w in (PipelineDaily, ReadMix)}
