"""Steadiness check: do two sets of runs of the same code agree?

    python3 perfbench/steady.py [--runs 10]

Runs the BENCHMARK.json command `--runs` times per workload, each run on
its own seed, then a second set on the same seeds, interleaved with the
first, so the two sets differ only by the machine's noise. For every
end-to-end metric and workload it reports each set's median and quartile
spread ((q3 - q1) / median, by `statistics.quantiles(n=4)`) and whether

- each set's spread is within the metric's bound, and
- the second median is not worse than the first by more than the bound.

It then makes one `--trace 1` run per workload on the default seed and
reports the tracing overhead: each traced end-to-end figure over the same
seed's untraced one. The report is written to perfbench/STEADINESS.json;
the exit code is 0 only if every set of every workload agrees.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_SEED = 1      # the seed a change is developed against
HOLDOUT_SEED = 9001   # an unseen seed a claimed gain must also hold on


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2 or not lines[-1].startswith("{"):
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)}: exit {proc.returncode}, "
                         "no result")
    # a run whose checks failed still counts: its failures are reported
    out = json.loads(lines[-1])
    out["exit_code"] = proc.returncode
    out["stamp"] = json.loads(lines[-2])["stamp"]
    out["wall_s"] = time.perf_counter() - t0
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(spec: dict, sets: list[list[dict]]) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        per_set = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
        meds = [statistics.median(v) for v in per_set]
        spreads = [spread(v) for v in per_set]
        sign = 1 if m["better"] == "lower" else -1
        drift = sign * (meds[1] - meds[0]) / meds[0]
        spread_ok = all(s <= bound for s in spreads)
        out[name] = {"values": per_set, "medians": meds, "spreads": spreads,
                     "bound": bound, "worse_by": drift,
                     "spread_ok": spread_ok,
                     "spread_below_third": all(s <= bound / 3 for s in spreads),
                     "agree": spread_ok and drift <= bound}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]

    report = {"runs_per_set": args.runs, "run_seconds": spec["run_seconds"],
              "default_seed": DEFAULT_SEED, "holdout_seed": HOLDOUT_SEED,
              "workloads": {}}
    # interleave workloads and sets, so a slow spell of the machine lands
    # on both sets instead of shifting one set's median
    sets = {w: [[], []] for w in names}
    for i in range(args.runs):
        for w in names:
            for s in range(2):
                seed = DEFAULT_SEED + i
                r = run_once(spec, w, seed, 0)
                print(f"{w} set {s + 1} seed {seed}: "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items())
                      + f" steal={r['stamp']['steal_pct']:.1f}%"
                      + f" wall={r['wall_s']:.1f}s", flush=True)
                sets[w][s].append(r)
    all_agree = True
    for w in names:
        v = verdict(spec, sets[w])
        entry = {"metrics": v,
                 "fail_ratio": [[r["stamp"]["fail_ratio"] for r in runs]
                                for runs in sets[w]],
                 "exit_codes": [[r["exit_code"] for r in runs]
                                for runs in sets[w]],
                 "steal_pct": [[r["stamp"]["steal_pct"] for r in runs]
                               for runs in sets[w]],
                 "wall_s": [[r["wall_s"] for r in runs] for runs in sets[w]],
                 "stamp": sets[w][0][0]["stamp"]}
        t = run_once(spec, w, DEFAULT_SEED, 1)
        base = sets[w][0][0]["metrics"]
        entry["trace_overhead"] = {
            k: t["metrics"][f"traced.{k}"]["value"] / base[k]["value"] - 1
            for k in base}
        entry["traced_run"] = t["metrics"]
        report["workloads"][w] = entry
        agree = all(m["agree"] for m in v.values()) and not any(
            r["failed"] for runs in sets[w] for r in runs)
        all_agree &= agree
        print(f"{w}: {'agree' if agree else 'DISAGREE'} "
              + " ".join(f"{k}:{m['spreads'][0]:.3f}/{m['spreads'][1]:.3f}"
                         f"/{m['worse_by']:+.3f}" for k, m in v.items()),
              flush=True)
    report["all_agree"] = all_agree
    with open(os.path.join(HERE, "STEADINESS.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0 if all_agree else 1


if __name__ == "__main__":
    sys.exit(main())
