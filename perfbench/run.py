"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from the seed,
starts the engine in a process of its own (`perfbench/engine.py`),
drives the workload from this process with at most `nproc` client
threads, checks every output, and prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` they are its per-layer metrics. The line before it stamps
the run (machine, versions, source digest, seed) and lists the
workload's own named metrics and every failure. The exit code is 0 only
when every check passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import queue
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("serving", "analytics")
DASHBOARD_CLIENTS = 4
REQUEST_TIMEOUT_S = 60
ENGINE_START_TIMEOUT_S = 150
RUN_DEADLINE_S = 170
INGEST_BATCHES = 3
# whole cycles of the mix a measured phase sends at the least: 4 cycles of
# the 11-statement dashboard mix are 44 samples, enough for p75 as tail
MIN_CYCLES = 4
# unmeasured cycles of the mix between the timed set-ups and the
# measured phase: without them the first measured cycle runs 30-50%
# slower than the next ones
WARM_CYCLES = 2
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


class EngineError(RuntimeError):
    pass


# -- engine process ----------------------------------------------------------

class EngineProcess:
    """The engine's own process, spoken to through JSON lines."""

    def __init__(self, args, data_dir: str, work_dir: str, cpus: int):
        self.log_path = os.path.join(work_dir, "engine.log")
        self._log = open(self.log_path, "w")
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=os.path.join(
                work_dir, "tmp"), TMPDIR=os.path.join(work_dir, "tmp"))
        os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"),
             "--workload", args.workload, "--data", data_dir,
             "--work", work_dir, "--trace", str(args.trace),
             "--cpus", str(cpus), "--seconds", str(args.seconds)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, bufsize=1, start_new_session=True)
        self._msgs: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@perfbench "):
                self._msgs.put(json.loads(line[len("@@perfbench "):]))
        self._msgs.put(None)

    finished = False          # the engine has sent `done`

    def expect(self, kind: str, timeout: float) -> dict:
        try:
            msg = self._msgs.get(timeout=max(1.0, timeout))
        except queue.Empty:
            raise EngineError(f"engine sent no {kind!r} within {timeout:.0f} s")
        if msg is None:
            raise EngineError(f"engine exited (rc={self.proc.wait()}) before "
                              f"{kind!r}; see {self.log_path}")
        if msg["kind"] != kind:
            raise EngineError(f"engine sent {msg['kind']!r}, wanted {kind!r}")
        self.finished = kind == "done"
        return msg

    def send(self, line: str):
        try:
            self.proc.stdin.write(line + "\n")
            self.proc.stdin.flush()
        except OSError as e:
            raise EngineError(f"engine gone ({e}); see {self.log_path}")

    def close(self):
        """Stop the engine and wait until it, its JVM and every other
        process of its session (Python workers) have ended. An engine that
        has sent `done` gets 30 s to exit by itself; any other is
        terminated at once."""
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=30 if self.finished else 0.1)
            except subprocess.TimeoutExpired:
                pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            for _ in range(100):
                if not _session_alive(self.proc.pid):
                    break
                time.sleep(0.1)
        self.proc.wait()
        self._reader.join(timeout=5)
        self._log.close()


def _session_alive(sid: int) -> bool:
    """Is any process left in session `sid`?"""
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != sid:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:        # field 6 of stat: session id
                return True
    return False


# -- HTTP client -------------------------------------------------------------

class Client:
    """One closed-loop client's view of the server; records every outcome."""

    def __init__(self, port: int, book: "Book"):
        self.port, self.book = port, book

    def call(self, method: str, path: str, params: dict, body: bytes | None,
             expect: int, label: str):
        """Returns (status, body, seconds), or None when the request failed
        (dropped connection, timeout, 5xx, unexpected status)."""
        url = path + "?" + urllib.parse.urlencode(params)
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=REQUEST_TIMEOUT_S)
        t0 = time.perf_counter()
        try:
            conn.request(method, url, body=body)
            resp = conn.getresponse()
            data = resp.read()
            dt = time.perf_counter() - t0
        except socket.timeout:
            self.book.fail("timeout", label)
            return None
        except (ConnectionError, http.client.HTTPException, OSError) as e:
            self.book.fail("dropped", f"{label}: {type(e).__name__}")
            return None
        finally:
            conn.close()
        if resp.status != expect:
            why = "5xx" if resp.status >= 500 else "status"
            self.book.fail(why, f"{label}: {resp.status} {data[:200]!r}")
            return None
        self.book.ok()
        return resp.status, data, dt

    def query(self, q: str, label: str, db: str = "default", **extra):
        return self.call("POST", "/query", {"db": db, "q": q, **extra},
                         b"", 200, label)


class Book:
    """Attempted operations and failures by kind, shared by all clients."""

    def __init__(self):
        self._lock = threading.Lock()
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}

    def ok(self):
        with self._lock:
            self.attempted += 1

    def fail(self, kind: str, what: str):
        with self._lock:
            self.attempted += 1
            self.failures.setdefault(kind, []).append(what)

    def wrong(self, what: str):
        """A completed operation whose answer was wrong: already attempted."""
        with self._lock:
            self.failures.setdefault("wrong", []).append(what)

    @property
    def failed(self) -> int:
        return sum(len(v) for v in self.failures.values())


# -- statistics --------------------------------------------------------------

def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile of TAIL_PERCENTILES
    with at least ten samples beyond it; the median when no such
    percentile exists (fewer than 20 samples)."""
    for p in TAIL_PERCENTILES:
        if len(xs) * (1 - p / 100.0) >= 10:
            return percentile(xs, p), p
    return percentile(xs, 50.0), 50.0


# -- workloads ---------------------------------------------------------------

class Run:
    """State of one run: the client book, timed samples, replies to check."""

    def __init__(self, args, engine: EngineProcess, port: int | None):
        self.args, self.engine = args, engine
        self.book = Book()
        self.client = Client(port, self.book) if port else None
        self.samples: list[dict] = []           # measured operations
        self.cold_s = 0.0
        self.measured_s = 0.0
        # engine CPU seconds over the cold pass and the measured phase
        self.cold_cpu_s = 0.0
        self.cpu_s = 0.0
        self.named: dict[str, tuple] = {}
        self.current = "setup"
        self._lock = threading.Lock()
        # (statement name, body, chunked, index into samples or None)
        self.replies: list[tuple] = []
        self.checksums: dict[str, str] = {}     # statement -> verified rows

    def phase(self, name: str):
        """Label what follows; traced runs attribute spans by this label."""
        self.current = name
        if self.args.trace:
            self.engine.send(f"phase {name}")

    def engine_cpu_s(self) -> float:
        return layers.session_cpu_s(self.engine.proc.pid)

    def sample(self, kind: str, dt: float, nbytes: int = 0, points: int = 0,
               rows: int = 0) -> int:
        with self._lock:
            self.samples.append({"kind": kind, "phase": self.current,
                                 "s": dt, "rows": rows, "bytes": nbytes,
                                 "points": points})
            return len(self.samples) - 1

    def reply(self, name: str, body: bytes, chunked: bool, idx: int | None):
        with self._lock:
            self.replies.append((name, body, chunked, idx))

    def check_replies(self, want: dict):
        """Check every /query reply against its expected rows, outside the
        timed region. Byte-identical repeats of a verified body are not
        re-parsed."""
        verified: dict[str, int] = {}
        for name, body, chunked, idx in self.replies:
            digest = hashlib.sha256(body).hexdigest()
            if digest not in verified:
                try:
                    rows = check.response_rows(body, chunked)
                except ValueError as e:
                    self.book.wrong(f"{name}: {e}")
                    continue
                why = check.compare(rows, want[name])
                if why is not None:
                    self.book.wrong(f"{name}: {why}")
                    continue
                verified[digest] = len(rows)
                self.checksums[name] = check.checksum(rows)
            if idx is not None:
                self.samples[idx]["rows"] = verified[digest]


def closed_loop(run: Run, requests: list[tuple], clients: int,
                measured: bool) -> float:
    """Send `requests` — (name, q, params) — from `clients` threads that
    share one queue; each thread sends its next request only when its
    last reply is in. With `measured`, the list is cycled whole until
    --seconds have passed and at least MIN_CYCLES times, so every
    statement of the mix is sampled equally often and the tail
    percentile does not hinge on the machine's speed. Returns the wall
    time."""
    lock = threading.Lock()
    state = {"i": 0}
    deadline = time.perf_counter() + run.args.seconds
    least = MIN_CYCLES * len(requests) if measured else len(requests)

    def next_request():
        with lock:
            i = state["i"]
            if i >= least and i % len(requests) == 0 and (
                    not measured or time.perf_counter() >= deadline):
                return None
            state["i"] += 1
            return requests[i % len(requests)]

    def client():
        while (req := next_request()) is not None:
            name, q, params = req
            r = run.client.query(q, name, **params)
            if r is None:
                continue
            chunked = params.get("chunked") == "true"
            idx = run.sample("query", r[2], nbytes=len(r[1])) \
                if measured else None
            run.reply(name, r[1], chunked, idx)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def drive_serving(run: Run, con):
    """The dashboard mix from DASHBOARD_CLIENTS closed-loop readers, then
    one writer running the ingest sequence in the same engine. The
    writer's warm-up joins the cold pass; the engine's timed set-ups and
    WARM_CYCLES unmeasured cycles follow it. The writer's measured
    sequence follows the readers' measured phase, in a phase of its own
    so the traced layers of each stay apart."""
    stmts = gen.dashboard_statements(run.args.seed)
    requests = [(s["name"], s["q"], s.get("params", {})) for s in stmts]
    t0, c0 = time.perf_counter(), run.engine_cpu_s()
    closed_loop(run, requests, DASHBOARD_CLIENTS, measured=False)
    _ingest_sequence(run, "warmup", 1, measured=False, points=50)
    run.cold_s = time.perf_counter() - t0
    run.cold_cpu_s = run.engine_cpu_s() - c0
    run.engine.send("setup")
    run.engine.expect("setups", ENGINE_START_TIMEOUT_S)
    for _ in range(WARM_CYCLES):
        closed_loop(run, requests, DASHBOARD_CLIENTS, measured=False)
    c1 = run.engine_cpu_s()
    run.phase("measured")
    run.measured_s = closed_loop(run, requests, DASHBOARD_CLIENTS,
                                 measured=True)
    run.cpu_s = run.engine_cpu_s() - c1
    run.phase("ingest")
    _ingest_sequence(run, "cpu0", INGEST_BATCHES, measured=True)
    run.phase("post")
    run.check_replies({s["name"]: check.expected(con, s["spec"])
                       for s in stmts})
    ingest_named(run)


def _ingest_sequence(run: Run, measurement: str, n_batches: int,
                     measured: bool, points: int = 500) -> None:
    """One measurement from empty: partition key, then every batch (good
    and planted-bad) followed by a read checked against the generator's
    own record of what the measurement must hold."""
    db, c = gen.INGEST_DB, run.client
    r = c.query(f"CREATE PARTITION KEY host ON {db}.{measurement}",
                f"{measurement} partition key", db=db)
    if r and measured:
        run.sample("admin", r[2], nbytes=len(r[1]))
    read_q = (f"SELECT count(usage) AS n, sum(usage) AS s FROM {measurement} "
              "GROUP BY host")
    for i, b in enumerate(gen.ingest_batches(run.args.seed, measurement,
                                             n_batches, points)):
        label = f"{measurement} batch {i}"
        w = c.call("POST", "/write", {"db": db, "precision": "ns"},
                   b["body"].encode(), b["expect"], label)
        if w and measured and b["expect"] == 204:
            run.sample("write", w[2], points=b["points"])
        q = c.query(read_q, f"{label} read", db=db)
        if q is None:
            continue
        try:
            rows = check.response_rows(q[1], False)
        except ValueError as e:
            run.book.wrong(f"{label} read: {e}")
            continue
        why = check.compare(rows, check.ingest_expected(b["state"]))
        if why is not None:
            run.book.wrong(f"{label} read: {why}")
        if measured:
            run.sample("ingest_read", q[2], nbytes=len(q[1]),
                       rows=len(rows))


def ingest_named(run: Run):
    writes = [s for s in run.samples if s["kind"] == "write"]
    ws = [s["s"] * 1000 for s in writes]
    wt, wp = tail(ws)
    run.named["write_p50_ms"] = (statistics.median(ws), "ms", "lower")
    run.named["write_tail_ms"] = (wt, "ms", "lower", f"p{wp:g}", len(ws))
    run.named["write_points_per_s"] = (
        sum(s["points"] for s in writes) / sum(s["s"] for s in writes),
        "1/s", "higher")
    reads = [s["s"] * 1000 for s in run.samples if s["kind"] == "ingest_read"]
    if reads:
        rt, rp = tail(reads)
        run.named["read_after_write_p50_ms"] = (statistics.median(reads),
                                                "ms", "lower")
        run.named["read_after_write_tail_ms"] = (rt, "ms", "lower",
                                                 f"p{rp:g}", len(reads))


def analytics_run(args, engine, done) -> Run:
    """The engine ran the passes itself; book its checks and timings."""
    run = Run(args, engine, None)
    for key, verdict in done["checks"].items():
        run.book.ok()
        if not verdict["ok"]:
            run.book.wrong(f"{key}: {verdict}")
    run.cold_s = sum(done["cold_s"].values())
    run.measured_s = sum(done["pass_s"])
    run.cold_cpu_s = done["cold_cpu_s"]
    run.cpu_s = done["warm_cpu_s"]
    # one sample per warm key run; a pass's samples sum to its wall
    for walls in done["pass_key_s"]:
        for key, dt in walls.items():
            run.sample("query", dt, rows=done["rows"][key])
    run.named["batch_cold_s"] = (run.cold_s, "s", "lower")
    run.named["batch_warm_s"] = (sum(done["warm_s"].values()), "s", "lower")
    return run


# -- the run -----------------------------------------------------------------

def source_digest() -> str:
    """sha256 over the engine and benchmark sources: stands in for the
    commit id where the checkout is not a git repository."""
    h = hashlib.sha256()
    for top in ("influxdb_ha_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("__spark_entry__.py", "oracles.py", "bench.py"):
        p = os.path.join(ROOT, f)
        if os.path.exists(p):
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def make_inputs(workload: str, seed: int, work: str) -> str:
    """Generate (or reuse) the seed's tables; returns their directory."""
    kind = "analytics" if workload == "analytics" else "serving"
    out = os.path.join(work, "data", f"{kind}-{seed}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        (gen.write_analytics_tables if kind == "analytics"
         else gen.write_serving_tables)(seed, tmp)
        try:
            os.rename(tmp, out)
        except OSError:          # a concurrent run made it first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def end_to_end(run: Run, done: dict) -> dict:
    """The BENCHMARK.json end-to-end metrics: {name: (value, unit)}.

    `query_p50_ms` is the median latency of a dashboard /query on
    `serving`. On `analytics` it is a key run's mean latency in the
    median warm pass: each pass runs the six keys once, and summing over
    them keeps the figure on the same mix of keys in every run, where a
    median across keys could land on a different key. `query_cpu_ms` is
    the CPU time of the engine's processes over the measured phase per
    query: it counts the work, and moves much less than wall time when
    other guests of a virtual machine take its CPUs. The other figures go,
    with direction (and the tail's percentile and sample count), into
    `run.named`, printed with every run but not bounded."""
    qs = [s["s"] * 1000 for s in run.samples if s["kind"] == "query"]
    if run.args.workload == "analytics":
        p50 = statistics.median(done["pass_s"]) * 1000 / len(done["warm_s"])
    else:
        p50 = statistics.median(qs)
        qt, qp = tail(qs)
        run.named["query_tail_ms"] = (qt, "ms", "lower", f"p{qp:g}", len(qs))
    out = {"setup_s": (statistics.median(done["setup_s"]), "s"),
           "query_p50_ms": (p50, "ms"),
           "query_cpu_ms": (run.cpu_s * 1000 / len(qs), "ms"),
           "peak_rss_mb": (done["peak_rss_mb"], "MB")}
    for name, (value, unit) in out.items():
        run.named[name] = (value, unit, "lower")
    rows = sum(s["rows"] for s in run.samples if s["kind"] == "query")
    run.named.update({
        "query_qps": (len(qs) / run.measured_s, "1/s", "higher"),
        "rows_per_s": (rows / run.measured_s, "1/s", "higher"),
        "cold_s": (run.cold_s, "s", "lower"),
        "cold_cpu_s": (run.cold_cpu_s, "s", "lower"),
    })
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    # a SIGTERM unwinds like an exception, so `finally` stops the engine
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()

    for need in ("influxdb_ha_spark", "__spark_entry__.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    cpus = len(os.sched_getaffinity(0))      # what `nproc` reports
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    data = make_inputs(args.workload, args.seed, work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    load = os.getloadavg()
    steal0 = cpu_steal()
    engine = EngineProcess(args, data, run_dir, cpus)
    timeline: dict[str, float] = {}
    try:
        spark_msg = engine.expect("spark", ENGINE_START_TIMEOUT_S)
        if args.workload == "analytics":
            done = engine.expect("done", RUN_DEADLINE_S
                                 - (time.perf_counter() - started))
            run = analytics_run(args, engine, done)
        else:
            ready = engine.expect("ready", ENGINE_START_TIMEOUT_S)
            run = Run(args, engine, ready["port"])
            timeline["ready_s"] = time.perf_counter() - started
            with duckdb.connect() as con:
                con.sql("CREATE VIEW events AS SELECT * FROM read_parquet("
                        f"'{os.path.join(data, 'events.parquet')}')")
                drive_serving(run, con)
            timeline["driven_s"] = time.perf_counter() - started
            engine.send("stop")
            done = engine.expect("done", 60)
    except EngineError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        with open(engine.log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        return 1
    finally:
        engine.close()

    steal1 = cpu_steal()
    metrics = end_to_end(run, done)
    if args.trace:
        import report
        out = report.per_layer(run, done, metrics, gen.analytics_keys())
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    book = run.book
    stamp = {
        "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
        "nproc": cpus, "loadavg_1m": load[0], "loadavg_5m": load[1],
        # share of CPU time the hypervisor gave to other guests during
        # the run: a noisy neighbour slows every figure of the run
        "steal_pct": 100.0 * (steal1[0] - steal0[0])
        / max(1, steal1[1] - steal0[1]),
        "spark": spark_msg["version"], "python": spark_msg["python"],
        "git_commit": git_commit(), "source_sha": source_digest(),
        "fail_ratio": book.failed / max(1, book.attempted),
        "attempted": book.attempted, "failures": book.failures,
        "checksums": run.checksums,
        "named": {k: dict(zip(("value", "unit", "better", "percentile",
                               "samples"), v)) for k, v in run.named.items()},
        "setups_s": done["setup_s"],
        "engine_start_s": spark_msg["start_s"],
        "timeline": {**timeline, **done.get("timeline", {})},
        "wall_s": time.perf_counter() - started,
    }
    print(json.dumps({"stamp": stamp}))
    correct = book.failed == 0
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": book.attempted,
                      "failed": book.failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
