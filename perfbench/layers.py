"""Per-layer tracing for the engine process (`--trace 1` runs only).

Two sources, both kept outside the engine's own code:

- `Tracer.install()` wraps the public functions of each engine module and
  records a span per call, tagged with the benchmark phase that was
  current when the call started. A module that binds a function by name
  (`from .x import f`) is patched at that binding, so the wrapper sees
  the calls the engine really makes.
- `read_event_log()` parses Spark's own JSON event log (enabled through
  `session.get_spark(extra_conf=…)` in traced runs) into per-job-group
  job, stage and task figures.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict


class _Rows:
    """Stand-in DataFrame for `to_influx_series` whose rows were already
    collected, so result shaping can be timed apart from collection."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class Tracer:
    def __init__(self):
        self.phase = "setup"
        self._lock = threading.Lock()
        self.spans: dict[tuple, list[float]] = defaultdict(list)
        self.counts: dict[tuple, float] = defaultdict(float)
        # (phase, kind, job group, start_ms, end_ms) of each Engine.query /
        # write_lines call, for the job-interval arithmetic
        self.ops: list[tuple] = []
        self.plan_nodes: list[int] = []
        self._local = threading.local()
        self._writes = 0

    # -- recording ---------------------------------------------------------
    def add(self, name: str, seconds: float, phase: str | None = None):
        with self._lock:
            self.spans[(phase or self.phase, name)].append(seconds)

    def count(self, name: str, n: float, phase: str | None = None):
        with self._lock:
            self.counts[(phase or self.phase, name)] += n

    def _timed(self, owner, attr: str, name: str):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            phase = tracer.phase
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                tracer.add(name, time.perf_counter() - t0, phase)
        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)

    # -- installation --------------------------------------------------------
    def install(self):
        from influxdb_ha_spark import (http_server, ingest, lineprotocol,
                                       model, planner, server, session)

        self._timed(session, "get_spark", "session.get_spark")
        self._timed(server, "parse_query", "influxql.parse")
        self._timed(planner.Planner, "plan", "planner.plan")
        for show in ("show_databases", "show_measurements", "show_tag_keys",
                     "show_field_keys", "show_tag_values", "show_series"):
            self._timed(model.Catalog, show, "model.show")
        self._timed(lineprotocol, "parse_lines_df", "lineprotocol.parse")
        self._timed(lineprotocol, "pivot_points", "lineprotocol.parse")
        self._timed(ingest, "validate_partition_key", "ingest.validate")
        self._timed(ingest, "check_field_types", "ingest.validate")
        self._timed(ingest, "upsert_points", "ingest.upsert")
        self._wrap_result(server)
        self._wrap_query(server.Engine)
        self._wrap_write(http_server)

    def _wrap_result(self, server_mod):
        orig = server_mod.to_influx_series
        tracer = self

        def to_influx_series(df, *a, **kw):
            phase = tracer.phase
            t0 = time.perf_counter()
            rows = df.collect()
            t1 = time.perf_counter()
            out = orig(_Rows(df.columns, rows), *a, **kw)
            tracer.add("result.collect", t1 - t0, phase)
            tracer.add("result.shape", time.perf_counter() - t1, phase)
            tracer.count("result.rows", len(rows), phase)
            return out
        server_mod.to_influx_series = to_influx_series

    def _wrap_query(self, engine_cls):
        orig_query, orig_df = engine_cls.query, engine_cls.query_df
        tracer = self

        def query_df(eng, *a, **kw):
            # Engine.query has set this thread's job group by now
            tracer._local.group = eng.catalog.spark.sparkContext \
                .getLocalProperty("spark.jobGroup.id")
            return orig_df(eng, *a, **kw)

        def query(eng, *a, **kw):
            phase = tracer.phase
            tracer._local.group = None
            t0, w0 = time.perf_counter(), time.time()
            try:
                return orig_query(eng, *a, **kw)
            finally:
                tracer.add("server.query", time.perf_counter() - t0, phase)
                with tracer._lock:
                    tracer.ops.append((phase, "query", tracer._local.group,
                                       w0 * 1000, time.time() * 1000))
        engine_cls.query_df, engine_cls.query = query_df, query

    def _wrap_write(self, http_mod):
        orig = http_mod.write_lines
        tracer = self

        def write_lines(engine, database, body, *a, **kw):
            phase = tracer.phase
            sc = engine.catalog.spark.sparkContext
            with tracer._lock:
                tracer._writes += 1
                group = f"perfbench-write-{tracer._writes}"
            # the write path sets no job group of its own; tag this thread's
            # jobs so the event log can attribute them to this write
            sc.setJobGroup(group, "perfbench write")
            t0, w0 = time.perf_counter(), time.time()
            try:
                return orig(engine, database, body, *a, **kw)
            finally:
                tracer.add("server.write_lines", time.perf_counter() - t0,
                           phase)
                with tracer._lock:
                    tracer.ops.append((phase, "write", group, w0 * 1000,
                                       time.time() * 1000))
                sc._jsc.clearJobGroup()
                tracer._count_plan_nodes(engine, database, body)
        http_mod.write_lines = write_lines

    def _count_plan_nodes(self, engine, database, body):
        names = {ln.split(",", 1)[0].split(" ", 1)[0]
                 for ln in body.splitlines() if ln.strip()}
        for name in names:
            try:
                m = engine.catalog.get(database, name)
            except KeyError:
                continue
            tree = m.df._jdf.queryExecution().logical().numberedTreeString()
            with self._lock:
                self.plan_nodes.append(
                    len(re.findall(r"(?m)^\d+ ", tree)))


# -- CPU time ------------------------------------------------------------------

def session_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by every process of session `sid`: the engine's interpreter, its JVM
    and their Python workers. On a shared virtual machine this moves far
    less than wall time when other guests take the CPUs away."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid:      # fields 6 and 14-17 of stat, 1-based
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tick


# -- Spark event log ----------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs with their [submit, complete] ms intervals,
    the number of stages submitted, and summed task figures."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "stages": set(), "tasks": 0, "queue_ms": 0.0,
        "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read": 0,
        "shuffle_write": 0, "spill": 0})
    job_group, job_submit, stage_group, stage_submit = {}, {}, {}, {}
    # Spark 4 writes each application's log as a directory of rolled
    # `events_<n>_<app>` files; older layouts write one file
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir)
             for f in files if not f.startswith((".", "appstatus"))]
    paths.sort(key=lambda p: [int(t) if t.isdigit() else t
                              for t in re.split(r"(\d+)", p)])
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") \
                        or ""
                    job_group[ev["Job ID"]] = g
                    job_submit[ev["Job ID"]] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    groups[job_group.get(jid, "")]["jobs"].append(
                        (job_submit.get(jid, 0), ev.get("Completion Time", 0)))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get(
                        "Submission Time", 0)
                    groups[stage_group.get(info["Stage ID"], "")][
                        "stages"].add((info["Stage ID"],
                                       info.get("Stage Attempt ID", 0)))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups[stage_group.get(sid, "")]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["queue_ms"] += max(0, info["Launch Time"]
                                         - stage_submit.get(sid, info["Launch Time"]))
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
                    g["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
    for g in groups.values():
        g["stages"] = len(g["stages"])
    return dict(groups)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def spark_figures(groups: dict, ops: list[tuple]) -> dict:
    """Per-operation means of the event-log figures over `ops`, a list of
    (job group, start_ms, end_ms): one entry per measured query, write or
    analytics key run."""
    n = max(1, len(ops))
    acc = defaultdict(float)
    for group, start, end in ops:
        g = groups.get(group)
        if g is None:
            acc["driver_only_ms"] += end - start
            continue
        acc["jobs"] += len(g["jobs"])
        acc["stages"] += g["stages"]
        acc["tasks"] += g["tasks"]
        acc["job_ms"] += union_ms(g["jobs"], start, end)
        acc["driver_only_ms"] += (end - start) - union_ms(g["jobs"], start, end)
        for k in ("queue_ms", "run_ms", "cpu_ms", "gc_ms", "shuffle_read",
                  "shuffle_write", "spill"):
            acc[k] += g[k]
    return {
        "spark.jobs": acc["jobs"] / n,
        "spark.stages": acc["stages"] / n,
        "spark.tasks": acc["tasks"] / n,
        "spark.job_ms": acc["job_ms"] / n,
        "spark.driver_only_ms": acc["driver_only_ms"] / n,
        "spark.queue_ms": acc["queue_ms"] / n,
        "spark.executor_run_ms": acc["run_ms"] / n,
        "spark.executor_cpu_ms": acc["cpu_ms"] / n,
        "spark.gc_ms": acc["gc_ms"] / n,
        "spark.shuffle_read_bytes": acc["shuffle_read"] / n,
        "spark.shuffle_write_bytes": acc["shuffle_write"] / n,
        "spark.spill_bytes": acc["spill"] / n,
    }
