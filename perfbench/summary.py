#!/usr/bin/env python3
"""Summarise a traced run: each layer's self time, and the cost of tracing.

    python3 perfbench/run.py --workload batch --seed 7 --seconds 12 --trace 1
    python3 perfbench/run.py --workload batch --seed 7 --seconds 12 --trace 0
    python3 perfbench/summary.py --workload batch --seed 7

A layer's self time is the time of its spans minus the part covered by
their child spans. The tracing overhead is the traced run's end-to-end
metrics minus the untraced run's, for the same workload and seed (shown
when both runs are in <build>/results).
"""

import argparse
import json
import os
from collections import defaultdict


def self_times(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered = sum(c["end"] - c["start"] for c in kids[s["id"]])
        out[s["layer"]] += max(0, s["end"] - s["start"] - covered) / 1e9
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    run_id = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(build_dir, "traces", f"{run_id}-trace1.spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    print(f"{'layer':<24} {'self_s':>9}")
    for layer, t in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        print(f"{layer:<24} {t:9.3f}")

    results = {}
    for t in (0, 1):
        path = os.path.join(build_dir, "results", f"{run_id}-trace{t}.json")
        if os.path.exists(path):
            with open(path) as f:
                results[t] = json.load(f)["end_to_end"]
    if len(results) == 2:
        print(f"\n{'tracing overhead':<24} {'untraced':>10} {'traced':>10} {'delta':>10}")
        for k, v in results[0].items():
            print(f"{k:<24} {v:10.3f} {results[1][k]:10.3f} {results[1][k] - v:+10.3f}")
    else:
        print("\n(no untraced run with this seed: tracing overhead not shown)")


if __name__ == "__main__":
    main()
