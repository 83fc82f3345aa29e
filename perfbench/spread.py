#!/usr/bin/env python3
"""Runs the benchmark on seeds 1..N of each workload and reports, per
end-to-end metric, the median and the spread: the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of
the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 10 [--workloads backfill,query_mix] \
        [--traced 3] [--out FILE]

With --traced K, each of the first K seeds also gets a traced run right
after its untraced one. Per workload, the per-layer numbers of the first
traced run and the tracing overhead (the median over the K pairs of
traced / untraced - 1, per end-to-end metric) are merged into
perfbench/results/traced.json.

Run from the root of a checkout. The spread report, with each run's
figures and steal, is written as JSON to --out. Both files are keyed by
workload, and a run updates only the workloads it ran.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
FIRST_SEED = 1
TRACED_OUT = os.path.join(BENCH, "results", "traced.json")


def run(spec, workload, seed, trace):
    """One run of the benchmark command; returns its full record."""
    cmd = [sys.executable if c == "python3" else c for c in spec["command"]]
    r = subprocess.run([*cmd, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{r.stderr[-3000:]}")
    with open(os.path.join(ROOT, ".bench_out", "records", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--workloads", default=None)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--out", default=os.path.join(ROOT, ".bench_out", "spread.json"))
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"]]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report, traced = {}, {}
    for w in workloads:
        runs, pairs = [], []
        for seed in range(FIRST_SEED, FIRST_SEED + a.seeds):
            rec = run(spec, w, seed, 0)
            runs.append(rec)
            print(w, seed, json.dumps({m: round(rec["e2e"][m], 4) for m in names}),
                  f"failed {rec['failed']}/{rec['attempted']} steal {rec['provenance']['steal_timed_s']:.2f} s",
                  flush=True)
            if seed < FIRST_SEED + a.traced:
                pairs.append((rec, run(spec, w, seed, 1)))
        report[w] = {}
        for m in spec["end_to_end"]:
            vals = [r["e2e"][m["name"]] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            report[w][m["name"]] = {"median": med, "spread": (q3 - q1) / med, "bound": m["bound"], "values": vals}
            print(f"{w:10s} {m['name']:18s} median {med:10.4f}  spread {(q3 - q1) / med:6.3f}  bound {m['bound']}")
        report[w]["runs"] = [{"seed": r["provenance"]["seed"], "failed": r["failed"], "attempted": r["attempted"],
                              "correct": r["correct"], "samples": r["samples"],
                              "steal_timed_s": r["provenance"]["steal_timed_s"],
                              "attempts": r["provenance"].get("attempts")} for r in runs]
        if pairs:
            first = pairs[0][1]
            traced[w] = {
                "correct": first["correct"], "attempted": first["attempted"], "failed": first["failed"],
                "per_layer": first["per_layer"], "provenance": first["provenance"],
                "pairs": [{"seed": t["provenance"]["seed"], "untraced": u["e2e"], "traced": t["e2e"],
                           "steal_untraced_s": u["provenance"]["steal_timed_s"],
                           "steal_traced_s": t["provenance"]["steal_timed_s"]} for u, t in pairs],
                "tracing_overhead": {m: statistics.median(t["e2e"][m] / u["e2e"][m] - 1 for u, t in pairs)
                                     for m in names},
            }
            print(w, "tracing overhead", json.dumps({m: round(v, 3) for m, v in traced[w]["tracing_overhead"].items()}),
                  flush=True)
    merge(a.out, report)
    if traced:
        merge(TRACED_OUT, traced)


def merge(path, entries):
    """Writes the per-workload entries into the JSON file at path, keeping
    the entries of workloads not run this time."""
    merged = {}
    if os.path.exists(path):
        with open(path) as fh:
            merged = json.load(fh)
    merged.update(entries)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
