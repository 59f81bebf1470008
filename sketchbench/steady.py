"""Steadiness report: repeat one workload over several seeds and print
each metric's median, quartiles and spread.

Run from the repository root::

    python3 sketchbench/steady.py --workload ids_unique --runs 10 --first-seed 100

Each repetition is a separate ``run.py`` process (a fresh JVM), as
separate benchmark runs are. The spread is the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median; it is compared with the metric's bound from
``BENCHMARK.json``. The per-run values are written to
``.sketchbench/results/steady-<workload>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    here = os.path.dirname(os.path.abspath(__file__))

    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=900)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        took = time.perf_counter() - t0
        print(f"seed {seed}: exit {proc.returncode}, {took:.1f} s, "
              f"correct={res and res['correct']}", flush=True)
        if res is None:
            return 1
        runs.append({"seed": seed, "run_s": took, "result": res})

    names = list(runs[0]["result"]["metrics"])
    report = {}
    print(f"{'metric':<40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        s = summarize(vals)
        b = bounds.get(name)
        report[name] = dict(s, values=vals, bound=b)
        flag = "" if b is None or s["spread"] < b / 3 else "  <-- above bound/3"
        print(f"{name:<40} {s['median']:>12.5g} {s['q1']:>12.5g} {s['q3']:>12.5g} "
              f"{s['spread']:>8.4f} {b if b is not None else '':>6}{flag}")
    print(f"mean run time {statistics.mean(r['run_s'] for r in runs):.1f} s")
    out = os.path.join(".sketchbench", "results",
                       f"steady-{args.workload}-t{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                   "summary": report}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
