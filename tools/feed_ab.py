#!/usr/bin/env python3
"""Interleaved A/B of the feed benchmark between two checkouts.

    python3 tools/feed_ab.py BASE CHANGE --workload feed_batch \\
        --seeds 7,11 --pairs 6 [--seconds 15] [--trace 0|1]

Runs `perfbench/run.py` once in each checkout per pair, alternating which
side goes first (pair 0 runs BASE first, pair 1 CHANGE first, ...), with
the pair's seed taken in turn from `--seeds`. Each checkout builds and
runs its own sources; this script reads only their result lines.

Prints one JSON line:
  {"workload", "pairs", "seeds",
   "metrics": {name: {"unit", "better", "base_median", "change_median",
                      "delta", "base_iqr", "change_wins"}},
   "correct": {"base": n, "change": n}, "failed": {"base": n, "change": n}}
`delta` is change_median / base_median - 1; `base_iqr` is the distance
between the quartiles of BASE's runs; `change_wins` counts the pairs in
which CHANGE was better, in the metric's direction from BENCHMARK.json.
`correct` counts runs whose checks all passed and `failed` sums failed
operations. The exit code is non-zero when a run gave no result line.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def directions(checkout):
    """Metric name -> "lower" or "higher", from the checkout's BENCHMARK.json."""
    spec = json.loads((Path(checkout) / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def run(checkout, workload, seed, seconds, trace):
    """One `perfbench/run.py` run; returns its result line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-4000:])
        return None
    return json.loads(lines[-1])


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summary(results, better):
    """Per-metric medians, BASE's IQR and CHANGE's win count over pairs."""
    out = {}
    names = sorted(set.intersection(
        *(set(r["metrics"]) for pair in results for r in pair)))
    for n in names:
        base = [b["metrics"][n]["value"] for b, _ in results]
        change = [c["metrics"][n]["value"] for _, c in results]
        sign = -1 if better.get(n) == "lower" else 1
        bm, cm = statistics.median(base), statistics.median(change)
        out[n] = {"unit": results[0][0]["metrics"][n]["unit"],
                  "better": better.get(n),
                  "base_median": bm, "change_median": cm,
                  "delta": round(cm / bm - 1, 4) if bm else None,
                  "base_iqr": iqr(base),
                  "change_wins": sum(sign * (c - b) > 0
                                     for b, c in zip(base, change))}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="7")
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if Path(a.base).resolve() == Path(a.change).resolve():
        sys.exit("feed_ab: BASE and CHANGE are the same checkout")
    seeds = [int(s) for s in a.seeds.split(",")]
    results = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = [a.base, a.change] if i % 2 == 0 else [a.change, a.base]
        got = {side: run(side, a.workload, seed, a.seconds, a.trace)
               for side in order}
        if None in got.values():
            sys.exit(f"feed_ab: pair {i} (seed {seed}) gave no result")
        results.append((got[a.base], got[a.change]))
        print(f"feed_ab: pair {i} seed {seed} done", file=sys.stderr)
    print(json.dumps({
        "workload": a.workload, "pairs": a.pairs, "seeds": seeds,
        "metrics": summary(results, directions(a.change)),
        "correct": {"base": sum(b["correct"] for b, _ in results),
                    "change": sum(c["correct"] for _, c in results)},
        "failed": {"base": sum(b["failed"] for b, _ in results),
                   "change": sum(c["failed"] for _, c in results)}}))


if __name__ == "__main__":
    main()
