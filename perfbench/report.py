"""Per-layer metrics of a traced run (`--trace 1`).

Span totals come from the engine process (perfbench/layers.py), over a
measured phase only, and are divided by the number of calls that phase
made into the layer's owning operation: per /query for the read layers,
per /write for the write layers, per key run for analytics. Spark
figures come from the event log, per job group, averaged over the read
phase's operations (all key runs on analytics). A layer the workload
never reaches reports 0.
"""

from __future__ import annotations

import layers

# per_layer metric -> unit, in BENCHMARK.json order (op.<key>.* follow)
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "http_server.overhead_ms": "ms",
    "http_server.resp_bytes": "B",
    "server.query_ms": "ms",
    "server.write_lines_ms": "ms",
    "influxql.parse_ms": "ms",
    "planner.plan_ms": "ms",
    "model.show_ms": "ms",
    "result.collect_ms": "ms",
    "result.shape_ms": "ms",
    "result.rows": "count",
    "lineprotocol.parse_ms": "ms",
    "ingest.validate_ms": "ms",
    "ingest.upsert_ms": "ms",
    "ingest.jobs_per_write": "count",
    "ingest.plan_nodes": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_ms": "ms",
    "spark.driver_only_ms": "ms",
    "spark.queue_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.cached_rdds": "count",
    "operators.driver_only_s": "s",
}
OP_UNITS = {"cold_s": "s", "warm_s": "s", "jobs": "count"}
# end-to-end metrics re-reported from the traced run itself; the
# difference to an untraced run of the same seed is the tracing overhead
TRACED_PREFIX = "traced."


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(run, done: dict, e2e: dict, keys: list[str]) -> dict:
    lay = done["layers"]
    analytics = run.args.workload == "analytics"
    # the phase whose /query calls the read layers are averaged over, and
    # the one whose /write calls the write layers are; `serving` measures
    # its writer after its readers
    read_phase = "setup" if analytics else "measured"
    write_phase = "ingest"
    spans = lay["spans"].get(read_phase, {})
    wspans = lay["spans"].get(write_phase, {})
    groups = lay["groups"]

    def ms(table, name):
        return table.get(name, [0.0, 0])[0] * 1000

    n_query = spans.get("server.query", [0.0, 0])[1]
    n_write = wspans.get("server.write_lines", [0.0, 0])[1]
    ops = [(g, a, b) for p, _, g, a, b in lay["ops"]
           if analytics or p == read_phase]
    client = [s for s in run.samples if s["phase"] == read_phase]
    engine_ms = ms(spans, "server.query") + ms(spans, "server.write_lines")
    write_jobs = sum(len(groups.get(g, {}).get("jobs", []))
                     for p, k, g, _, _ in lay["ops"]
                     if p == write_phase and k == "write")
    out = {
        "session.get_spark_s": lay["spans"].get("setup", {}).get(
            "session.get_spark", [0.0])[0],
        "http_server.overhead_ms": 0.0 if analytics else _per(
            sum(s["s"] for s in client) * 1000 - engine_ms, len(client)),
        "http_server.resp_bytes": _per(sum(s["bytes"] for s in client),
                                       len(client)),
        "server.query_ms": _per(ms(spans, "server.query"), n_query),
        "server.write_lines_ms": _per(ms(wspans, "server.write_lines"),
                                      n_write),
        "influxql.parse_ms": _per(ms(spans, "influxql.parse"), n_query),
        "planner.plan_ms": _per(ms(spans, "planner.plan"), n_query),
        "model.show_ms": _per(ms(spans, "model.show"), n_query),
        "result.collect_ms": _per(ms(spans, "result.collect"), n_query),
        "result.shape_ms": _per(ms(spans, "result.shape"), n_query),
        "result.rows": _per(lay["counts"].get(read_phase, {}).get(
            "result.rows", 0.0), n_query),
        "lineprotocol.parse_ms": _per(ms(wspans, "lineprotocol.parse"),
                                      n_write),
        "ingest.validate_ms": _per(ms(wspans, "ingest.validate"), n_write),
        "ingest.upsert_ms": _per(ms(wspans, "ingest.upsert"), n_write),
        "ingest.jobs_per_write": _per(write_jobs, n_write),
        "ingest.plan_nodes": float(max(lay["plan_nodes"] or [0])),
        **layers.spark_figures(groups, ops),
        "spark.cached_rdds": float(done["cached_rdds"]),
        "operators.driver_only_s": 0.0,
    }
    if analytics:
        out["operators.driver_only_s"] = sum(
            (b - a) - layers.union_ms(groups.get(g, {}).get("jobs", []), a, b)
            for _, _, g, a, b in lay["ops"]) / 1000
    metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in out.items()}
    for key in keys:
        jobs = groups.get(f"perfbench-cold-{key}", {}).get("jobs", [])
        values = {"cold_s": done.get("cold_s", {}).get(key, 0.0),
                  "warm_s": done.get("warm_s", {}).get(key, 0.0),
                  "jobs": float(len(jobs))}
        for suffix, unit in OP_UNITS.items():
            metrics[f"op.{key}.{suffix}"] = {"value": values[suffix],
                                             "unit": unit}
    for name, (value, unit) in e2e.items():
        metrics[TRACED_PREFIX + name] = {"value": value, "unit": unit}
    return metrics
