"""Interleaved A/B of two checkouts on one sketchbench workload.

Runs N pairs of ``sketchbench/run.py --trace 0``, one run in each
checkout per pair with the same seed, alternating which side runs
first. For every end-to-end metric it prints each side's median and
quartiles, the change's wins over the pairs (ties count for neither),
and three verdicts:

- ``gain``: the change won at least 9/10 of the pairs and the medians
  differ by more than the parent's interquartile range;
- ``worse``: the change's median is worse than the parent's by more
  than the metric's ``BENCHMARK.json`` bound;
- ``unresolved``: no gain, either side's interquartile range, as a
  share of its median, is wider than the bound, and not every change
  run reads better than every parent run.

Usage, from anywhere::

    python3 scripts/ab_sketchbench.py --parent ../parent --change . \\
        --workload ids_unique --pairs 10 --first-seed 7001

Each run is appended as one JSON line to ``--out`` as it finishes;
``--report-only`` re-prints the summary of such a file without running.
Nothing is written inside either checkout except what ``run.py`` itself
writes under its ``.sketchbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "sketchbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = None
    return {"exit": proc.returncode, "run_s": time.perf_counter() - t0,
            "result": res}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(records: list[dict], spec: dict) -> list[dict]:
    """One row per end-to-end metric over the complete pairs."""
    by_seed: dict[int, dict] = {}
    for r in records:
        if r["result"] is not None:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]
    pairs = [p for _, p in sorted(by_seed.items()) if len(p) == 2]
    rows = []
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        vals = {s: [p[s]["metrics"][name]["value"] for p in pairs
                    if name in p[s]["metrics"]] for s in SIDES}
        if not vals["parent"] or len(vals["parent"]) != len(vals["change"]):
            continue
        wins = sum((c > p) if higher else (c < p)
                   for p, c in zip(vals["parent"], vals["change"]))
        pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
        gap = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        delta = gap / abs(pq[1]) if pq[1] else 0.0
        spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0
                     for q in (pq, cq))
        all_better = (min(vals["change"]) > max(vals["parent"]) if higher
                      else max(vals["change"]) < min(vals["parent"]))
        bound = m.get("bound")
        gain = wins >= 0.9 * len(vals["parent"]) and gap > pq[2] - pq[0]
        rows.append({
            "metric": name, "bound": bound, "pairs": len(vals["parent"]),
            "parent": pq, "change": cq, "wins": wins, "delta": delta,
            "gain": gain,
            "worse": bound is not None and -delta > bound,
            "unresolved": (not gain and bound is not None and spread > bound
                           and not all_better),
        })
    return rows


def print_report(records: list[dict], spec: dict) -> None:
    failed = {s: sum(1 for r in records if r["side"] == s and (
        r["result"] is None or r["result"]["failed"] or not r["result"]["correct"]))
        for s in SIDES}
    print(f"runs: {len(records)}; failed or incorrect runs: {failed}")
    print(f"{'metric':<22} {'side':<7} {'q1':>11} {'median':>11} {'q3':>11}"
          f" {'wins':>6} {'delta':>8} {'bound':>6}  verdict")
    for row in summarize(records, spec):
        for side in SIDES:
            q1, med, q3 = row[side]
            tail = ""
            if side == "change":
                verdict = " ".join(v for v in ("gain", "worse", "unresolved")
                                   if row[v])
                tail = (f" {row['wins']:>3}/{row['pairs']:<2} {row['delta']:>+8.1%}"
                        f" {row['bound'] if row['bound'] is not None else '':>6}"
                        f"  {verdict or '-'}")
            print(f"{row['metric'] if side == 'parent' else '':<22} {side:<7}"
                  f" {q1:>11.5g} {med:>11.5g} {q3:>11.5g}{tail}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent", required=True, help="parent checkout")
    p.add_argument("--change", required=True, help="change checkout")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out", help="JSON-lines run log (default "
                   ".sketchbench/ab-<workload>.jsonl in the working "
                   "directory)")
    p.add_argument("--report-only", action="store_true")
    args = p.parse_args(argv)
    out = args.out or os.path.join(".sketchbench", f"ab-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if not args.report_only:
        dirs = {"parent": os.path.abspath(args.parent),
                "change": os.path.abspath(args.change)}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                rec = run_once(dirs[side], args.workload, seed,
                               spec["run_seconds"])
                rec.update(side=side, seed=seed, first=order[0],
                           workload=args.workload)
                with open(out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                res = rec["result"]
                print(f"pair {i + 1}/{args.pairs} seed {seed} {side:<6} "
                      f"exit {rec['exit']} {rec['run_s']:.1f} s "
                      f"correct={res and res['correct']}", flush=True)

    with open(out) as f:
        records = [json.loads(ln) for ln in f if ln.strip()]
    records = [r for r in records if r["workload"] == args.workload]
    print_report(records, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
