#!/usr/bin/env python3
"""Matched-window A/B of two checkouts on one workload.

Usage:

    python3 graftbench/ab.py <checkout A> <checkout B> --workload curation_batch \
        --seeds 1-10

Both checkouts must carry the same graftbench/ directory; every run
measures for checkout A's BENCHMARK.json run_seconds. Runs alternate
A, B, B, A, ... with the same seed for each pair, so a slow host window
hits both sides alike. Every run records the host stamp (the repo's own
CPU and wakeup probes, before and after). A pair is kept only when all
four of its CPU-probe readings lie within HOST_SLACK of the best reading
of the session: that is the matched window. The report gives, per
end-to-end metric, the median of A and of B over the kept pairs and B/A.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HOST_SLACK = 0.15


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(checkout, "graftbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"], cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{checkout} seed {seed} failed:\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    rec = os.path.join(checkout, "graftbench", "out",
                       f"{workload}-seed{seed}-trace0.json")
    with open(rec) as fh:
        r = json.load(fh)
    probes = [r["host_before"]["host_cpu_ms"], r["host_after"]["host_cpu_ms"]]
    return result, probes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(args.a, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = [("a", args.a), ("b", args.b)]
        if i % 2:
            order.reverse()
        got = {side: run(path, args.workload, seed, seconds)
               for side, path in order}
        if not (got["a"][0]["correct"] and got["b"][0]["correct"]):
            sys.exit(f"seed {seed}: a run reported wrong output")
        pairs.append((seed, got))
        print(f"seed {seed}: host_cpu_ms a={got['a'][1]} b={got['b'][1]}",
              file=sys.stderr)

    best = min(p for _, got in pairs for side in "ab" for p in got[side][1])
    kept = [(s, got) for s, got in pairs
            if max(p for side in "ab" for p in got[side][1])
            <= best * (1 + HOST_SLACK)]
    print(f"{len(kept)} of {len(pairs)} pairs in the matched window "
          f"(host_cpu_ms <= {best * (1 + HOST_SLACK):.1f})")
    if not kept:
        sys.exit("no matched pairs: rerun in a quieter window")
    for name in kept[0][1]["a"][0]["metrics"]:
        a = statistics.median(g["a"][0]["metrics"][name]["value"] for _, g in kept)
        b = statistics.median(g["b"][0]["metrics"][name]["value"] for _, g in kept)
        unit = kept[0][1]["a"][0]["metrics"][name]["unit"]
        print(f"{name:20s} A {a:10.4f} {unit:4s} B {b:10.4f} {unit:4s} B/A {b / a:6.3f}")


if __name__ == "__main__":
    main()
