#!/usr/bin/env python3
"""Run-to-run spread and parent/change comparison for the benchmark.

Spread of one checkout over several seeds (how steady each metric is):

    python3 perfbench/compare.py spread --workload cron_daily --runs 10

A/B compare of two checkouts, in alternating pairs (pair i runs the parent
first when i is even and the change first when it is odd), one row per
workload and metric:

    python3 perfbench/compare.py ab --parent ../parent --change . --pairs 10

Every run is `python3 perfbench/run.py` in the checkout's root with the
same seed and `--seconds` on both sides; each run keeps its full record in
that checkout's `.bench_build/perfbench/results`. The verdict rules are in
metrics.compare.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run failed in {root} ({workload}, seed {seed}):\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["elapsed_s"] = time.time() - t0
    return result


def values(results, name):
    return [r["metrics"][name]["value"] for r in results]


def spread(args):
    spec = bench_spec(args.root)
    seconds = args.seconds or spec["run_seconds"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        results = [run_once(args.root, w, args.seed_base + i, seconds)
                   for i in range(args.runs)]
        bad = sum(1 for r in results if not r["correct"])
        took = metrics.median([r["elapsed_s"] for r in results])
        print(f"{w}: {args.runs} runs, {bad} incorrect, median run {took:.1f} s")
        for m in spec["end_to_end"]:
            v = values(results, m["name"])
            q1, med, q3 = metrics.quartiles(v)
            s = metrics.spread(v)
            print(f"  {m['name']:14s} median {med:10.4f} {m['unit']:5s} q1 {q1:10.4f} q3 {q3:10.4f}"
                  f"  spread {s:6.3f}  bound {m['bound']:.2f}  {'ok' if s < m['bound'] / 3 else 'WIDE'}")


def ab(args):
    spec = bench_spec(args.change)
    seconds = args.seconds or spec["run_seconds"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        parent, change = [], []
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = [(args.parent, parent), (args.change, change)]
            for root, sink in (order if i % 2 == 0 else order[::-1]):
                sink.append(run_once(root, w, seed, seconds))
        failed = [sum(r["failed"] for r in side) for side in (parent, change)]
        attempted = [sum(r["attempted"] for r in side) for side in (parent, change)]
        print(f"{w:18s} failed ops: parent {failed[0]}/{attempted[0]}"
              f"  change {failed[1]}/{attempted[1]}")
        for m in spec["end_to_end"]:
            row = metrics.compare(values(parent, m["name"]), values(change, m["name"]),
                                  m["better"], m["bound"], *failed)
            p, c = row["parent"], row["change"]
            print(f"{w:18s} {m['name']:14s} parent {p['median']:.4f} [{p['q1']:.4f}, {p['q3']:.4f}]"
                  f"  change {c['median']:.4f} [{c['q1']:.4f}, {c['q3']:.4f}]"
                  f"  {row['delta']:+.1%}  wins {row['wins']}/{row['pairs']}  {row['verdict']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("spread", "ab"):
        p = sub.add_parser(name)
        p.add_argument("--workload", action="append")
        p.add_argument("--seconds", type=float)
        p.add_argument("--seed-base", type=int, default=1)
    sub.choices["spread"].add_argument("--root", default=".")
    sub.choices["spread"].add_argument("--runs", type=int, default=10)
    sub.choices["ab"].add_argument("--parent", required=True)
    sub.choices["ab"].add_argument("--change", default=".")
    sub.choices["ab"].add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    spread(args) if args.cmd == "spread" else ab(args)


if __name__ == "__main__":
    main()
