"""Lakehouse benchmark: one warm local[4] session, median of timed passes.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run builds one Spark session,
sets up the workload's inputs from ``--seed``, runs untimed warm-up
passes until the pass time levels off, then times passes for
``--seconds`` seconds (at least one) and reports the median.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a separate traced
section, whose spans are written to ``.perfbench/traces/``.  The line
before it is a detail record with the per-pass series and every check.

Every file the run writes (zones, inputs, Spark local and warehouse
dirs, ANN artifacts, temp files) lives in a fresh directory under
``.perfbench/runs/`` that is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
LEVEL_OFF = 0.05  # warm-up stops once a pass is within 5 % of the one before


def declared(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--history-days", type=int, default=30)
    ap.add_argument("--rows-per-day", type=int, default=2000)
    ap.add_argument("--scale", type=float, default=0.005,
                    help="read_mix star-table scale (1.0 = TPC-H sf1 row counts)")
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every writer at ``run_dir`` and give Python workers the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "VLPS_ANN_INDEX_DIR": os.path.join(run_dir, "ann"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_DRIVER_MEMORY": "2g",
        # no hsperfdata files in /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def build_spark(run_dir: str):
    from vexere_lakehouse_pipeline_spark.session import build_session

    spark = build_session("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from tracing import process_tree

    children = process_tree()[1:]
    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def timed_pass(wl, i: int) -> tuple[float, list[tuple[str, bool]]]:
    wl.reset()
    t = time.perf_counter()
    units = wl.run_pass(i)
    return time.perf_counter() - t, units


def traced_section(wl, first: int, n: int) -> tuple[list[float], list[dict]]:
    """``n`` passes with every layer wrapped; returns pass times and the
    per-pass layer metrics."""
    from tracing import SparkMetrics, Tracer, snapshot_files
    from vexere_lakehouse_pipeline_spark import catalog
    from vexere_lakehouse_pipeline_spark.operators.incremental import ZoneCatalog
    from vexere_lakehouse_pipeline_spark.plans.pipeline import PipelineRunner

    tracer = Tracer()
    wl.tracer = tracer
    sm = SparkMetrics(wl.spark)
    sc = wl.spark.sparkContext
    tracer.wrap(PipelineRunner, "run_task", lambda a, k: f"pipeline.{a[1]}_s",
                around=lambda a, k: wl.job_group(a[1]))
    tracer.wrap(PipelineRunner, "flush_audit", lambda a, k: "pipeline.flush_audit_s",
                around=lambda a, k: wl.job_group("flush_audit"))
    for verb, metric in (("merge", "merge"), ("overwrite", "overwrite"),
                         ("overwrite_partitions", "overwrite"), ("read", "read")):
        tracer.wrap(ZoneCatalog, verb, lambda a, k, m=metric: f"incremental.{m}_s")
    for mod in [m for n, m in sys.modules.items()
                if n.startswith("vexere_lakehouse_pipeline_spark.plans.")]:
        if getattr(mod, "load_table", None) is catalog.load_table:
            tracer.wrap(mod, "load_table", lambda a, k: "catalog.load_table_s")
    zone_base = wl.zone_base
    times, layers = [], []
    try:
        for i in range(first, first + n):
            tracer.pass_id = i
            tracer.groups = {}
            tracer.leaked = {}
            mark = len(wl.appended)
            before = snapshot_files(zone_base) if zone_base else {}
            sc.setJobGroup(f"p{i}:pass", f"p{i}:pass")
            dt, _units = timed_pass(wl, i)
            sc.setLocalProperty("spark.jobGroup.id", None)
            times.append(dt)
            after = snapshot_files(zone_base) if zone_base else {}
            layers.append(pass_layers(wl, tracer, sm, i, dt, mark, before, after))
    finally:
        tracer.unwrap()
        wl.tracer = None
    tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                             f"{wl.name}-seed{wl.seed}-{os.getpid()}.json"))
    return times, layers


def pass_layers(wl, tracer, sm, i, dt, mark, before, after) -> dict[str, float]:
    from tracing import zone_writes

    from workloads import CORPUS, DAG_TASKS, RELATIONAL

    groups = dict(tracer.groups)
    groups["pass"] = [f"p{i}:pass"] + [g for gs in tracer.groups.values() for g in gs]
    spark_by_unit = sm.collect(groups)
    whole = spark_by_unit.pop("pass")
    own = tracer.self_times(i)
    wall = tracer.totals(i)
    out: dict[str, float] = {
        "spark.jobs": whole["jobs"], "spark.stages": whole["stages"],
        "spark.tasks": whole["tasks"], "spark.exec_s": whole["exec_s"],
        "spark.driver_s": max(dt - whole["exec_s"], 0.0),
        "spark.shuffle_bytes": whole["shuffle_bytes"],
        "spark.spill_bytes": whole["spill_bytes"],
        "spark.scan_rows": whole["scan_rows"],
        "spark.scan_rows.silver": whole.get("scan_rows.silver", 0.0),
        "spark.py_bytes": whole["py_bytes"],
        "catalog.load_table_s": wall.get("catalog.load_table_s", 0.0),
        "caching.persisted_rdds_leaked": sum(tracer.leaked.values()),
    }
    for t in DAG_TASKS + ("flush_audit",):
        out[f"pipeline.{t}_s"] = wall.get(f"pipeline.{t}_s", 0.0)
    for m in ("merge", "overwrite", "read"):
        out[f"incremental.{m}_s"] = own.get(f"incremental.{m}_s", 0.0)
    out["incremental.rows_appended"] = sum(
        max(n, 0) for _z, _t, n in wl.appended[mark:])
    out.update(zone_writes(wl.zone_base or "", before, after))
    for q in RELATIONAL:
        out[f"q.{q}_s"] = wall.get(f"q.{q}_s", 0.0)
    for op in CORPUS:
        out[f"op.{op}.call_s"] = wall.get(f"op.{op}.call_s", 0.0)
        out[f"op.{op}.force_s"] = wall.get(f"op.{op}.force_s", 0.0)
        unit = spark_by_unit.get(op, {})
        out[f"op.{op}.jobs"] = unit.get("jobs", 0)
        out[f"op.{op}.py_bytes"] = unit.get("py_bytes", 0.0)
    return out


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    from tracing import peak_rss_mb, process_tree

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    t = time.perf_counter()
    spark = build_spark(run_dir)
    session_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, args)
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t

        t = time.perf_counter()
        own0 = wl.own_s
        wl.check_pass()
        warm: list[float] = []
        i = 0
        while len(warm) < wl.max_warmup:
            dt, _ = timed_pass(wl, i)
            i += 1
            warm.append(dt)
            if len(warm) >= 2 and warm[-1] > warm[-2] * (1 - LEVEL_OFF):
                break
        warmup_s = time.perf_counter() - t - (wl.own_s - own0)
        setup_s = time.perf_counter() - T0 - wl.own_s

        passes: list[float] = []
        units: list[tuple[str, bool]] = []
        end = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < end:
            dt, got = timed_pass(wl, i)
            i += 1
            passes.append(dt)
            units.extend(got)

        layers: list[dict] = []
        traced: list[float] = []
        if args.trace:
            traced, layers = traced_section(wl, i, min(len(passes), 3))
        checks = wl.check(replay=bool(args.trace))
        rss = peak_rss_mb(process_tree())
        if args.trace and wl.zone_base:
            stored = sum(os.path.getsize(os.path.join(r, f))
                         for r, _d, fs in os.walk(wl.zone_base) for f in fs)
            ratio = stored / wl.raw_bytes(args.history_days + i + len(traced))
        else:
            ratio = 0.0
    finally:
        stop_spark(spark)

    ok = [u for u, done in units
          if done and wl.units_ok.get(u, False) and all(checks.values())]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "setup": {"session_s": session_s, "inputs_s": inputs_s,
                                  "history_s": wl.history_s, "warmup_s": warmup_s},
        "warmup_pass_s": warm, "pass_s": passes, "traced_pass_s": traced,
        "units": [u for u, _ in units], "checks": checks, "units_ok": wl.units_ok,
        "peak_rss_mb": rss,
    }
    metrics = {
        "setup_s": setup_s, "pass_s": statistics.median(passes),
        "ok_ratio": len(ok) / len(units), "peak_rss_mb": sum(rss.values()),
    }
    if args.trace:
        layer = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
        layer.update({
            "setup.session_s": session_s, "setup.inputs_s": inputs_s,
            "setup.warmup_s": warmup_s, "setup.warmup_passes": len(warm),
            "trace.pass_s": statistics.median(traced),
            "trace.untraced_pass_s": metrics["pass_s"],
            "trace.overhead_pct": 100.0 * (statistics.median(traced) / metrics["pass_s"] - 1),
            "zone.stored_bytes_per_input_byte": ratio,
        })
        metrics = layer
    unit_of = declared("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(unit_of):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(unit_of))}")
    result = {"correct": len(ok) == len(units) and all(checks.values()),
              "attempted": len(units), "failed": len(units) - len(ok),
              "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()}}
    return detail, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds through the finally blocks: the JVM, its workers
    # and the run directory go with the benchmark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "vexere_lakehouse_pipeline_spark")):
        print(f"no vexere_lakehouse_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        isolate(run_dir)
        detail, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
