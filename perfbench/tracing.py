"""Spans, Spark execution metrics, zone file diffs and process memory.

Everything here is measurement: it wraps public entry points of the
package from the outside, keeps spans in memory, and reads Spark's own
job, stage and SQL metrics (``statusTracker`` and the UI REST API on
the loopback interface).  Nothing here runs inside a timed pass unless
the run was started with ``--trace 1``.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """In-memory span recorder plus method wrapping.

    A span is ``{name, start, end, parent, pass}``; a layer's self time
    is its duration minus the time its child spans cover.  ``wrap``
    replaces an attribute with a spanning wrapper and ``unwrap`` puts
    every original back.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.pass_id: int | None = None
        # unit name -> Spark job group ids, and unit name -> RDDs left
        # persisted after the unit returned
        self.groups: dict[str, list[str]] = {}
        self.leaked: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "start": time.perf_counter(), "end": None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name_of, around=None) -> None:
        """Span every call of ``owner.attr``; ``name_of(args, kwargs)``
        names the span and ``around(args, kwargs)`` is an optional extra
        context (e.g. a Spark job group) entered inside the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = name_of(args, kwargs)
            with self.span(name):
                if around is None:
                    return orig(*args, **kwargs)
                with around(args, kwargs):
                    return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Seconds of self time per span name within one pass."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["pass"] == pass_id and s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["pass"] == pass_id:
                own = s["end"] - s["start"] - child.get(i, 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def totals(self, pass_id: int) -> dict[str, float]:
        """Seconds of wall time per span name within one pass."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] == pass_id:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark metrics
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
               "TiB": 1024 ** 4}


def parse_metric(value: str) -> float:
    """A SQL UI count or size metric as a number: ``"1,000"``,
    ``"12.5 MiB"``, or the ``"total (min, med, max ...)\\n<total> (...)"``
    form, whose total is taken."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    value = value.split(" (", 1)[0].strip().replace(",", "")
    parts = value.split()
    try:
        num = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    if len(parts) > 1:
        num *= _SIZE_UNITS.get(parts[1], 1.0)
    return num


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


_ZONE_RE = re.compile(r"/(bronze|silver|gold|audit)/")


class SparkMetrics:
    """Job, stage and SQL metrics for the jobs of named job groups."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _scan_zones(self, exec_id: int) -> dict[int, str]:
        """nodeId → zone for every scan node of one SQL execution, read
        from the plan graph's node descriptions; scans outside the zones
        (input tables, checkpointed RDDs) map to ``other``."""
        out: dict[int, str] = {}
        nodes = self.store.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name().startswith("Scan"):
                m = _ZONE_RE.search(node.desc())
                out[node.id()] = m.group(1) if m else "other"
        return out

    def collect(self, groups: dict[str, list[str]]) -> dict[str, dict]:
        """``groups`` maps a unit name to its job group ids; returns per
        unit: jobs, stages, tasks, exec_s, shuffle/spill bytes, scan rows
        (total and per zone) and bytes sent to Python workers."""
        stages = {s["stageId"]: s for s in self._get("/stages?details=false")
                  if s["status"] != "SKIPPED"}
        execs = self._get("/sql?details=true&planDescription=false"
                          "&offset=0&length=100000")
        by_job: dict[int, dict] = {}
        for e in execs:
            for j in e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]:
                by_job[j] = e
        out: dict[str, dict] = {}
        for unit, gids in groups.items():
            jobs = sorted({j for g in gids for j in self.tracker.getJobIdsForGroup(g)})
            stage_ids: set[int] = set()
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            st = [stages[s] for s in stage_ids if s in stages]
            ex = {by_job[j]["id"]: by_job[j] for j in jobs if j in by_job}
            rec = {
                "jobs": len(jobs), "stages": len(st),
                "tasks": sum(s["numTasks"] for s in st),
                "shuffle_bytes": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in st),
                "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
                "exec_s": _union_seconds([
                    (_ts(e["submissionTime"]), _ts(e["submissionTime"]) + e["duration"] / 1e3)
                    for e in ex.values()]),
                "scan_rows": 0.0, "py_bytes": 0.0,
            }
            for eid, e in ex.items():
                zones = self._scan_zones(eid) if any(
                    n["nodeName"].startswith("Scan") for n in e["nodes"]) else {}
                for n in e["nodes"]:
                    for m in n["metrics"]:
                        if m["name"] == "data sent to Python workers":
                            rec["py_bytes"] += parse_metric(m["value"])
                        elif (m["name"] == "number of output rows"
                              and n["nodeId"] in zones):
                            rows = parse_metric(m["value"])
                            rec["scan_rows"] += rows
                            key = "scan_rows." + zones[n["nodeId"]]
                            rec[key] = rec.get(key, 0.0) + rows
            out[unit] = rec
        return out


# ---------------------------------------------------------------------------
# Zone storage and process memory
# ---------------------------------------------------------------------------

ZONES = ("bronze", "silver", "gold", "audit")


def snapshot_files(base: str) -> dict[str, tuple[int, int, int]]:
    """path → (inode, mtime_ns, size) for every file under ``base``."""
    out = {}
    for root, _dirs, files in os.walk(base):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def zone_writes(base: str, before: dict, after: dict) -> dict[str, float]:
    """Files and bytes written per zone between two snapshots."""
    out = {f"zone.{z}.{k}": 0.0 for z in ZONES for k in ("files_written", "bytes_written")}
    for p, meta in after.items():
        if before.get(p) == meta:
            continue
        zone = os.path.relpath(p, base).split(os.sep, 1)[0]
        if zone in ZONES:
            out[f"zone.{zone}.files_written"] += 1
            out[f"zone.{zone}.bytes_written"] += meta[2]
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of the given processes, summed per
    role: ``driver`` (this process), ``jvm`` and ``python_workers``."""
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        role = "driver" if p == os.getpid() else "jvm" if comm == "java" else "python_workers"
        out[role] += kb / 1024.0
    return out
