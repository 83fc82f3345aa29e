#!/usr/bin/env python3
"""The repo benchmark: one workload run in a fresh JVM.

    python3 perfbench/run.py --workload backfill|trickle|query_mix|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness
(perfbench/build.py), runs perfbench.Main at local[nproc] with
SPARK_GRAFT_CPUS=nproc, checks the outputs, prints each end-to-end figure
by name with its unit, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics. The full record, with provenance, is kept under
.bench_out/records/. --workload all runs each workload in turn and ends
with one object keyed by workload. See perfbench/README.md.

--smoke 1 shrinks the workload to seconds (the benchmark's own tests);
--corrupt-expected 1 perturbs one expected KPI value, which must be
caught as a failure.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_out")
sys.path.insert(0, BENCH)
import build  # noqa: E402  (perfbench/build.py)

WORKLOADS = ("backfill", "trickle", "query_mix")
JVM_HEAP = "3g"
# A fixed young generation keeps the resident set (peak_rss_mb) from
# depending on how G1 happens to size it in each run.
JVM_YOUNG = "768m"
RUN_LIMIT_S = 170  # the whole command must end within 180 s after its build
# Host steal, in CPU-seconds per wall second of the timed region, above which
# a one-pass run is run again: the limit of graft.Bench.
STEAL_PER_WALL_LIMIT = 0.10
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work, deadline):
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dderby.system.home=" + work, "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    with open(os.path.join(work, "jvm.log")) as fh:
        out = fh.read()
    log("\n".join(l for l in out.splitlines() if l.startswith("[perfbench]")))
    if rc != 0:
        log(out[-6000:])
        raise SystemExit(f"run: workload JVM failed ({rc})")


def claim_failures(dump, name):
    """Rows whose claim columns (recall_ok, within_*, *_ok) are not true."""
    import duckdb
    files = glob.glob(os.path.join(dump, name, "*.parquet"))
    if not files:
        return None
    con = duckdb.connect()
    cols = [c for c in con.sql(f"SELECT * FROM read_parquet({files!r})").columns
            if c == "recall_ok" or c.startswith("within_") or c.endswith("_ok")]
    return sum(con.execute(f'SELECT count(*) FROM read_parquet({files!r}) WHERE NOT coalesce("{c}", false)')
               .fetchone()[0] for c in cols)


def oracle_check(rec, fixture, dump, deadline):
    """Runs the slate's cold-pass results through dev/check_oracle.py and
    the claim gate; each slate query is one checked operation."""
    slate = rec["provenance"]["slate"]
    r = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "check_oracle.py"), fixture, dump],
                       capture_output=True, text=True, timeout=max(1.0, deadline - time.time()))
    status = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("ok", "FAIL", "MISSING", "ORACLE-ERR"):
            status[parts[1].rstrip(":")] = parts[0]
    for q in slate:
        rec["attempted"] += 1
        bad_claims = claim_failures(dump, q)
        if status.get(q) != "ok" or bad_claims:
            rec["failed"] += 1
            rec["correct"] = False
            rec["problems"].append(f"oracle {q}: {status.get(q, 'not checked')}, claim failures {bad_claims}")
    rec["failed_frac"] = rec["failed"] / rec["attempted"]
    rec["provenance"]["oracle_checked"] = len(slate)


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def attempt(a, workload, classes, fixture, deadline):
    """One run of the workload in a fresh JVM; returns its record and, for a
    traced run, its spans."""
    tag = f"{workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec_path = os.path.join(work, "record.json")
    args = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--out", rec_path,
            "--smoke", str(a.smoke), "--corrupt-expected", str(a.corrupt_expected)]
    if fixture:
        args += ["--fixture", fixture]
    try:
        run_jvm(classes, args, work, deadline)
        with open(rec_path) as fh:
            rec = json.load(fh)
        if workload == "query_mix":
            oracle_check(rec, fixture, os.path.join(work, "data", "dump"), deadline)
        spans = None
        if a.trace and os.path.exists(rec_path + ".spans.json"):
            with open(rec_path + ".spans.json") as fh:
                spans = fh.read()
        return rec, spans
    finally:
        shutil.rmtree(work, ignore_errors=True)


def steal_per_wall(rec):
    p = rec["provenance"]
    return p["steal_timed_s"] / max(p["timed_s"], 1e-9)


def run_one(a, workload, spec, classes, src_sha):
    """Runs one workload, prints its figures, returns its result object.

    A run whose figures rest on one timed pass cannot set aside the passes
    that host steal slowed, as query_mix does. When the host stole more than
    STEAL_PER_WALL_LIMIT CPU-seconds per wall second of its timed region, and
    every operation succeeded, it is run once more in a fresh JVM, and the
    attempt with less steal per wall second is kept: the rule of graft.Bench.
    A failed operation is never retried away."""
    deadline = time.time() + RUN_LIMIT_S
    fixture = None
    if workload == "query_mix":
        import fixture as fx
        fixture = fx.ensure(OUT)
    started = time.time()
    rec, spans = attempt(a, workload, classes, fixture, deadline)
    attempts = 1
    if (rec["samples"] == 1 and rec["failed"] == 0 and steal_per_wall(rec) > STEAL_PER_WALL_LIMIT
            and time.time() + (time.time() - started) < deadline):
        log(f"run: {steal_per_wall(rec):.2f} s of steal per wall second, above {STEAL_PER_WALL_LIMIT}: running again")
        second = attempt(a, workload, classes, fixture, deadline)
        attempts = 2
        if second[0]["failed"] > 0 or steal_per_wall(second[0]) < steal_per_wall(rec):
            rec, spans = second
    rec["provenance"].update(git_sha=git_sha(), source_sha256=src_sha, attempts=attempts,
                             steal_per_wall=steal_per_wall(rec),
                             contaminated=rec["provenance"].get("contaminated",
                                                                steal_per_wall(rec) > STEAL_PER_WALL_LIMIT))
    tag = f"{workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{tag}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    if spans is not None:
        with open(os.path.join(records, f"{tag}.spans.json"), "w") as fh:
            fh.write(spans)

    for name, m in rec["named"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {rec['failed_frac']:.6g} ({rec['failed']} failed of {rec['attempted']} attempted)")
    for p in rec["problems"]:
        print(f"problem: {p}")
    print("provenance: " + json.dumps(rec["provenance"], sort_keys=True))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = rec["per_layer"] if a.trace else rec["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not finite(v):
            raise SystemExit(f"run: metric {m['name']} was not measured ({v})")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if not a.trace:
            print(f"{m['name']} = {v:.6g} {m['unit']}")
    return {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": metrics}


def main():
    a = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes, src_sha = build.build()
    if a.workload != "all":
        print(json.dumps(run_one(a, a.workload, spec, classes, src_sha)))
        return
    results = {}
    for w in WORKLOADS:
        print(f"== {w}")
        results[w] = run_one(a, w, spec, classes, src_sha)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
