#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark, and the A/A comparison.

    python3 perfbench/aa.py run --workload multi_job --seeds 1-10 --out a.jsonl
    python3 perfbench/aa.py spread a.jsonl
    python3 perfbench/aa.py compare a.jsonl b.jsonl

`run` calls run.py once per seed (untraced) and appends each result line,
tagged with its seed, to --out. `spread` prints each end-to-end metric's
median and interquartile spread as a share of the median, against its
bound. `compare` checks two sets of runs of the same code against the
bounds (metrics.aa_verdict) and exits 1 if any metric fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


def load(path):
    with open(path) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    return [{k: v["value"] for k, v in r["metrics"].items()} for r in rows]


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10")
    r.add_argument("--seconds", default="10")
    r.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()

    if a.cmd == "run":
        for seed in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 a.workload, "--seed", str(seed), "--seconds", a.seconds,
                 "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"seed {seed}: run failed (exit {p.returncode})")
                return 1
            row = json.loads(last)
            row["seed"] = seed
            with open(a.out, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in row["metrics"].items()))
        return 0

    if a.cmd == "spread":
        runs = load(a.runs)
        print(f"{len(runs)} runs")
        for spec in specs():
            xs = [x[spec["name"]] for x in runs]
            sp = metrics.spread(xs)
            flag = "" if sp < spec["bound"] / 3 else "  > bound/3"
            print(f"{spec['name']:<18} median {statistics.median(xs):12.4f}  "
                  f"spread {sp:.4f}  bound {spec['bound']}{flag}")
        return 0

    rows = metrics.aa_verdict(load(a.first), load(a.second), specs())
    for name, sa, sb, w, ok in rows:
        print(f"{name:<18} spread {sa:.4f} / {sb:.4f}  worsening {w:+.4f}  "
              f"{'ok' if ok else 'FAIL'}")
    return 0 if all(r[-1] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
