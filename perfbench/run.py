#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Builds the program and the harness if the sources changed (perfbench/build.py),
runs the harness JVM with Spark on local[nproc], checks every op's output, and
prints as its last line one JSON object with `correct`, `attempted`, `failed`
and `metrics`. With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are its per-layer metrics. Earlier lines
carry the stamp (source digest, nproc, sf, seed, heap), workload-specific
figures and, for traced runs, one line per op.

Every file the run writes stays under .bench_build/ in the checkout. The
input tables are read from $PERFBENCH_DATA (default ~/testdata).
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
DATA = os.environ.get("PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
RUN_LIMIT_S = 175  # the whole run, build excluded, must end before this
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """Aggregate jiffies from /proc/stat: (busy incl. steal, steal)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    return sum(f[:3]) + sum(f[5:8]), f[7]


def leftovers(dirs):
    """Scratch and Spark temp directories the JVM left behind."""
    found = {}
    for d in dirs:
        for pat in ("graft-p*", "spark-*"):
            found[pat] = found.get(pat, 0) + len(glob.glob(os.path.join(d, pat)))
    return found


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except RuntimeError as e:
        fail(f"build failed: {e}")
    start = time.monotonic()

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{args.workload}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java"] + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.path.join(jars, "*") + os.pathsep + classes,
              "graft.perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--data", DATA, "--out", run_dir])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, "jvm.log")
    cpu0 = cpu_times()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {RUN_LIMIT_S}s; log in {log_path}")
    cpu1 = cpu_times()
    left = leftovers([tmp, local])
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"harness exited with code {rc}")
    res = json.load(open(result_path))
    with open(os.path.join(run_dir, "replay.json")) as fh:
        res["replay"] = json.load(fh)

    errors = {op: err for op, err in res["failures"]}
    errors.update(oracle.check(res["data_dir"], res["outputs"], res["oracle"],
                               res["ops"], tmp))
    failed = len(errors) + res.get("mismatches", 0)
    attempted = res["attempted"]

    stamp = {"git_sha": git_sha(), "source_sha1": open(build.STAMP).read().strip(),
             "workload": args.workload, "seed": args.seed, "trace": args.trace,
             "nproc": cpus, "sf_dir": res["data_dir"], "seconds": args.seconds,
             "window_s": res["window_s"], "heap_max_mb": res["heap_max_mb"]}
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        # share of the run's CPU time the host withheld from this machine
        stamp["steal_share"] = (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
    print("stamp " + json.dumps(stamp))
    if args.trace:
        spans = []
        with open(os.path.join(run_dir, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh]
        for op, row in sorted(metrics.per_op(res).items()):
            print("op " + json.dumps({"op": op, **row}))
        computed = metrics.per_layer(res, spans, cpus)
    else:
        computed, info = metrics.end_to_end(res)
        info.update({"failed_share": failed / attempted,
                     "codegen_fallbacks": res["codegen_fallbacks"],
                     "errors": errors})
        print("info " + json.dumps(info))
    print("leftovers " + json.dumps({**left, "dirs": [tmp, local], "jvm_exit": rc}))

    out = {}
    for m in wanted:
        if m["name"] not in computed:
            fail(f"metric {m['name']} was not computed")
        out[m["name"]] = {"value": computed[m["name"]], "unit": m["unit"]}
    for d in (tmp, local, res.get("outputs")):
        if d:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
