"""The engine process of a benchmark run.

`run.py` starts this script as its own process, so the load generator and
the engine never share an interpreter. It talks to `run.py` through JSON
lines: it writes `@@perfbench {...}` lines to stdout and reads one command
per line from stdin.

`serving`: build the catalog from the generated parquet, start
`http_server.serve` over `server.Engine`, report `ready` with the port,
then wait. Command `phase <name>` labels the spans that follow; `stop`
ends the run.

`analytics`: run the headline keys of `bench.py` once cold, then in warm
passes, through `__spark_entry__.queries()`, check each against
`oracles.py`, and report.

Either way the last line is `done` with the run's figures: set-up times,
peak RSS of this interpreter plus its JVM, and, in traced runs, the
per-layer figures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

MIN_WARM_PASSES = 3
# set-ups per run, after the cold pass; setup_s is their median. A
# serving set-up costs about 0.1 s and varies by a third from one to the
# next, so serving takes many; an analytics set-up costs about 1.6 s.
SERVING_SETUPS = 25
ANALYTICS_SETUPS = 5


def emit(kind: str, **payload) -> None:
    sys.stdout.write("@@perfbench " + json.dumps({"kind": kind, **payload})
                     + "\n")
    sys.stdout.flush()


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this interpreter plus its JVM, in MiB."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _setup_serving(spark, data_dir: str):
    from influxdb_ha_spark.http_server import serve
    from influxdb_ha_spark.model import events_measurement
    from influxdb_ha_spark.server import Engine

    cat, _ = events_measurement(spark, data_dir)
    engine = Engine(cat)
    srv, port = serve(engine)
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/ping",
                                timeout=60) as resp:
        if resp.status != 204:
            raise RuntimeError(f"/ping answered {resp.status}")
    return srv, port


def serve_workload(spark, args, tracer) -> dict:
    """Serve until `stop`. The first set-up is the one that serves; on
    `setup` (sent after the cold pass, when the JVM has compiled this
    path) the timed set-ups run beside it, each server closed again once
    it answers /ping."""
    t0 = time.perf_counter()
    srv, port = _setup_serving(spark, args.data)
    first = time.perf_counter() - t0
    emit("ready", port=port)
    setups = []
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "phase" and tracer is not None:
            tracer.phase = cmd[1]
        elif cmd[0] == "setup":
            for _ in range(SERVING_SETUPS):
                t0 = time.perf_counter()
                extra, _ = _setup_serving(spark, args.data)
                setups.append(time.perf_counter() - t0)
                extra.shutdown()
                extra.server_close()
            emit("setups")
        elif cmd[0] == "stop":
            break
    srv.shutdown()
    srv.server_close()
    return {"setup_s": setups, "timeline": {"first_setup_s": first}}


def _warm_up(spark):
    """bench.py's infrastructure warm-up: JVM, Python workers for Arrow
    UDFs, and the whole-stage-codegen bootstrap, on synthetic data."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(1000).count()

    def ident(s):
        return s
    ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.range(100).select(pandas_udf(ident, "long")("id")).write \
        .format("noop").mode("overwrite").save()
    synth = (spark.range(20_000)
             .selectExpr("id", "transform(sequence(0, 9), "
                         "x -> xxhash64(x + id)) AS arr")
             .selectExpr("id", "array_min(transform(arr, h -> "
                         "(1234567L * h + 98765L) % "
                         "2305843009213693951L)) AS m")
             .groupBy((F.col("m") % 100).alias("k"))
             .agg(F.collect_list("id").alias("ids"), F.count("*").alias("n")))
    (synth.join(synth.select("k", F.col("n").alias("n2")), "k")
     .withColumn("r", F.row_number().over(
         W.partitionBy(F.col("k") % 7).orderBy("n")))
     .write.format("noop").mode("overwrite").save())


def analytics_workload(spark, args) -> dict:
    import __spark_entry__ as entry
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness as cc

    sc = spark.sparkContext
    mark = time.perf_counter()
    timeline = {}

    def step(name):
        nonlocal mark
        now = time.perf_counter()
        timeline[name] = now - mark
        mark = now

    _warm_up(spark)
    step("warm_up_s")
    keys = gen.analytics_keys()
    qs = entry.queries()
    cold, warm, rows, ops = {}, {k: [] for k in keys}, {}, []

    def run_key(key: str, label: str) -> float:
        group = f"perfbench-{label}-{key}"
        sc.setJobGroup(group, key)
        w0, t0 = time.time(), time.perf_counter()
        df = qs[key](spark, args.data)
        if label == "cold":
            df.write.format("noop").mode("overwrite").save()
        else:
            # warm passes collect, so the rows can be checked below
            # without running every key once more
            rows[key] = (df.columns, [tuple(r) for r in df.collect()])
        dt = time.perf_counter() - t0
        ops.append((label, key, group, w0 * 1000, time.time() * 1000))
        sc._jsc.clearJobGroup()
        return dt

    sid = os.getsid(0)
    cpu0 = layers.session_cpu_s(sid)
    for key in keys:
        cold[key] = run_key(key, "cold")
    cpu1 = layers.session_cpu_s(sid)
    step("cold_s")
    # set-up: the engine's query inventory, then every key's DataFrame
    # built over the input tables (read schema, operator plan), without
    # running it; repeated, and setup_s is the median. It follows the
    # cold pass, so the JVM has compiled this path and each set-up costs
    # about the same
    setups = []
    for _ in range(ANALYTICS_SETUPS):
        t0 = time.perf_counter()
        qs = entry.queries()
        for key in keys:
            qs[key](spark, args.data)
        setups.append(time.perf_counter() - t0)
    step("setups_s")
    cpu1w = layers.session_cpu_s(sid)
    # warm passes repeat until --seconds have passed, at least
    # MIN_WARM_PASSES times, so each key's warm time is a median
    t0 = time.perf_counter()
    pass_s, pass_key_s = [], []
    while (len(pass_s) < MIN_WARM_PASSES
           or time.perf_counter() - t0 < args.seconds):
        p0 = time.perf_counter()
        walls = {key: run_key(key, f"warm{len(pass_s) + 1}") for key in keys}
        pass_s.append(time.perf_counter() - p0)
        pass_key_s.append(walls)
        for key, dt in walls.items():
            warm[key].append(dt)
    cpu2 = layers.session_cpu_s(sid)
    step("warm_s")

    # output check, outside the timed passes
    con = duckdb.connect()
    for t in cc.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(args.data, t + '.parquet')}')")
    oracles = entry.oracle_sql()
    checks = {}
    for key in keys:
        cols, got = rows[key]
        if key not in oracles:
            checks[key] = {"ok": len(got) > 0, "why": "no oracle: rows only"}
            continue
        rel = con.sql(oracles[key])
        want = rel.fetchall()
        ok = (sorted(cols) == sorted(rel.columns) and len(got) == len(want)
              and cc.df_hash(cols, got) == cc.df_hash(rel.columns, want))
        checks[key] = {"ok": ok, "rows": len(got), "want_rows": len(want)}
    con.close()
    step("check_s")
    return {"timeline": timeline, "setup_s": setups, "cold_s": cold,
            "warm_s": {k: statistics.median(v) for k, v in warm.items()},
            "pass_s": pass_s, "pass_key_s": pass_key_s,
            "cold_cpu_s": cpu1 - cpu0, "warm_cpu_s": cpu2 - cpu1w,
            "rows": {k: len(v[1]) for k, v in rows.items()},
            "checks": checks, "ops": ops}


def layer_figures(tracer, log_dir, ops) -> dict:
    """The traced run's raw figures: span totals and counts per phase,
    plan-node counts, event-log figures per job group, and the timed
    operations with their job groups."""
    out = {"spans": {}, "counts": {}, "plan_nodes": tracer.plan_nodes,
           "groups": layers.read_event_log(log_dir), "ops": ops}
    for (phase, name), vals in tracer.spans.items():
        out["spans"].setdefault(phase, {})[name] = [sum(vals), len(vals)]
    for (phase, name), v in tracer.counts.items():
        out["counts"].setdefault(phase, {})[name] = v
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()

    tracer = layers.Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    from influxdb_ha_spark import session

    work = os.path.abspath(args.work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.sql.shuffle.partitions": str(args.cpus),
            "spark.local.dir": tmp,
            # JVM temporary files go to the run directory; no perf-data file
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    log_dir = os.path.join(work, "eventlog")
    if tracer is not None:
        conf.update(layers.event_log_conf(log_dir))
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench",
                              master=f"local[{args.cpus}]", extra_conf=conf)
    jvm = _jvm_pid(spark)
    emit("spark", version=spark.version,
         python=sys.version.split()[0], start_s=time.perf_counter() - t0)

    if args.workload == "analytics":
        result = analytics_workload(spark, args)
    else:
        result = serve_workload(spark, args, tracer)
    result["peak_rss_mb"] = peak_rss_mb(jvm)
    result["cached_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.stop()
    if tracer is not None:
        ops = result.pop("ops", None) or [
            (phase, kind, group, a, b)
            for phase, kind, group, a, b in tracer.ops]
        result["layers"] = layer_figures(tracer, log_dir, ops)
    emit("done", **result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
