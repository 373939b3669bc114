#!/usr/bin/env python3
"""Runs a workload once per seed and reports each end-to-end metric's
spread: the distance between the first and third quartile of its values as
a share of their median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload relational --seeds 1-10
    python3 perfbench/spread.py --workload relational --seeds 1-10 --save a.json
    python3 perfbench/spread.py --compare a.json b.json

`--compare` applies the agreement rule to two saved sets of runs: per
metric, the second median may not be worse than the first by more than the
bound.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(workload, seed_list, seconds):
    runs = []
    for s in seed_list:
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", workload, "--seed", str(s),
                              "--seconds", str(seconds), "--trace", "0"],
                             capture_output=True, text=True, cwd=ROOT)
        if out.returncode != 0:
            sys.exit(f"seed {s} failed:\n{out.stderr[-2000:]}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        vals = {k: v["value"] for k, v in last["metrics"].items()}
        print(f"seed {s}: {time.monotonic() - t0:.1f}s correct={last['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        runs.append(vals)
    return runs


def report(runs, spec):
    for m in spec["end_to_end"]:
        xs = [r[m["name"]] for r in runs]
        sp = stats.spread(xs)
        flag = "ok" if sp < m["bound"] / 3 else ("WIDE" if sp > m["bound"] else "loose")
        print(f"{m['name']:16s} median {stats.median(xs):12.5g}  spread {sp:6.3f}  "
              f"bound {m['bound']:.2f}  {flag}")


def compare(a, b, spec):
    for m in spec["end_to_end"]:
        xa, xb = [r[m["name"]] for r in a], [r[m["name"]] for r in b]
        w = stats.worse_by(xa, xb, m["better"])
        ok = stats.agree(xa, xb, m["bound"], m["better"])
        print(f"{m['name']:16s} worse_by {w:+.3f}  bound {m['bound']:.2f}  "
              f"{'agree' if ok else 'DISAGREE'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        compare(a, b, spec)
        return
    runs = run_set(args.workload, seeds(args.seeds), spec["run_seconds"])
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(runs, fh)
    report(runs, spec)


if __name__ == "__main__":
    main()
