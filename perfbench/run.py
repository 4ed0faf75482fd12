#!/usr/bin/env python3
"""Feed benchmark: the reference workflow (TSV hit feed -> parse ->
30-minute sessionization -> hits/visits/visitors CSV exports) timed end to
end, and per layer in a separate traced run.

    python3 perfbench/run.py --workload feed_batch --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Workloads (closed loop, one operation in flight, `local[<cpus>]`):
  feed_batch   one day of hourly UTF-8 files, one `Pipeline.run`
  feed_hourly  gzipped ISO-8859-1 hourly files, one `Pipeline.run` each
               (run by hand; BENCHMARK.json lists the other two)
  feed_stream  a backlog of gzipped ISO-8859-1 hourly files drained by a
               session-window stream, one file per micro-batch

Steps: compile the program and the harness (`build.py`, skipped when no
source changed), generate the seeded feed and its ground truth
(`feedgen.py`, cached by workload and seed, never timed), then launch the
harness JVM directly on the compiled classpath, so that its stdout holds
bare JSON.

Output, per workload: a detail line (every metric with its unit and
sample count, plus `error_rate`), then the result line
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The exit code is
non-zero when an output check failed or the program could not be built.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import feedgen  # noqa: E402

OUT = build.OUT
FEEDS_KEPT = 6
DEADLINE_S = 170
# A fixed heap: G1 then sizes its generations the same way in every run.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]

END_TO_END = {"setup_s": "s", "hits_per_s": "1/s", "hour_p50_s": "s",
              "batch_p50_s": "s", "heap_peak_mb": "MB"}


def per_layer_names():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer"]]


def feed_dir(workload, seed):
    """The cached feed for (workload, seed), generated when missing. Only
    the most recently used FEEDS_KEPT feeds are kept."""
    root = OUT / "feeds"
    d = root / f"{workload}-{seed}-v{feedgen.VERSION}"
    if not (d / "truth.json").exists():
        shutil.rmtree(d, ignore_errors=True)
        feedgen.generate(workload, seed, str(d))
    os.utime(d)
    old = sorted(root.iterdir(), key=lambda p: p.stat().st_mtime)[:-FEEDS_KEPT]
    for p in old:
        shutil.rmtree(p, ignore_errors=True)
    return d


def jvm(classes, args, deadline):
    """Runs the harness; returns its last stdout line parsed, or None."""
    cmd = [build.java(), *JVM_OPTS, *build.JDK17_OPENS,
           f"-Djava.io.tmpdir={args['--work']}/tmp",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
           "perfbench.FeedBench"]
    args = dict(args, **{"--launched-ms": str(int(time.time() * 1000))})
    for k, v in args.items():
        cmd += [k, v]
    os.makedirs(f"{args['--work']}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True)
    try:
        out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print("perfbench: harness timed out", file=sys.stderr)
        return None
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"perfbench: harness exited with {p.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def run_workload(workload, seed, seconds, trace, classes, deadline):
    feed = feed_dir(workload, seed)
    work = OUT / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    args = {"--workload": workload, "--feed": str(feed), "--work": str(work),
            "--seconds": str(seconds), "--trace": "1" if trace else "0"}
    try:
        return jvm(classes, args, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, res, trace):
    """Prints the detail line; returns the result line."""
    names = per_layer_names() if trace else list(END_TO_END)
    metrics = {k: v for k, v in res.items() if isinstance(v, dict)}
    detail = {"workload": workload, "trace": int(trace),
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": metrics}
    print(json.dumps(detail))
    missing = [n for n in names if n not in metrics]
    if missing:
        print(f"perfbench: {workload}: no value for {missing}", file=sys.stderr)
    return {"correct": res["failed"] == 0 and not missing,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: {"value": metrics[n]["value"],
                            "unit": metrics[n]["unit"]}
                        for n in names if n in metrics}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(feedgen.SPECS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    workloads = sorted(feedgen.SPECS) if a.workload == "all" else [a.workload]
    ok = True
    for w in workloads:
        res = run_workload(w, a.seed, a.seconds, bool(a.trace), classes,
                           time.time() + DEADLINE_S)
        if res is None:
            sys.exit(f"perfbench: {w}: no result")
        line = report(w, res, bool(a.trace))
        print(json.dumps(line))
        ok = ok and line["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
