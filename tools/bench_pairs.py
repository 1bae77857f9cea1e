#!/usr/bin/env python3
"""Run the product-path benchmark on two checkouts in alternating pairs.

Usage, from anywhere:

    python3 tools/bench_pairs.py --parent /path/parent --change /path/change \
        --workloads backfill_sync,webhook_live --seeds 1-10 --out pairs.jsonl

Each checkout runs its own `perfbench/run.py --workload W --seed N
--seconds 10 --trace 0` (the benchmark's run length), so each builds into and writes under its own
`.bench_build/`. For every seed, in the order given, and every workload,
the two sides run one after the other, one run at a time; the parent runs
first on the 1st, 3rd, ... seed and second on the others. Every raw result
line is appended to `--out` as one JSON object ({"side", "workload", "seed",
"pair", "first", "rc", "result"}), so an interrupted run keeps what it ran.

The summary reads the end-to-end metrics of the change checkout's
BENCHMARK.json and prints, per workload and metric, each
side's median [q1-q3], in how many pairs the change was better (direction
from the metric's `better`), whether the gap between medians exceeds the
parent's interquartile range, and the relative change of the median against
the metric's `bound`. `--summarize FILE` prints the summary of an earlier
`--out` file without running anything. Nothing is written to BENCHMARK.json
or under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    """'1-5,8,1-2' -> [1, 2, 3, 4, 5, 8, 1, 2]: repeats are kept as pairs."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_one(checkout, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
    return p.returncode, result


def metrics(result):
    """{name: value} of a result line; run.py reports {"value", "unit"}."""
    return {k: v["value"] if isinstance(v, dict) else v
            for k, v in (result or {}).get("metrics", {}).items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records, benchmark):
    workloads = sorted({r["workload"] for r in records})
    for w in workloads:
        rs = [r for r in records if r["workload"] == w and r["result"]]
        by_pair = {}
        for r in rs:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = [p for p in by_pair.values() if "parent" in p and "change" in p]
        print(f"== {w}: {len(pairs)} complete pairs")
        for side in ("parent", "change"):
            side_rs = [r["result"] for r in rs if r["side"] == side]
            print(f"   {side}: runs {len(side_rs)}, correct "
                  f"{sum(1 for r in side_rs if r.get('correct'))}, failed "
                  f"{sum(r.get('failed', 0) for r in side_rs)}")
        for m in benchmark["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            both = [(metrics(p["parent"]), metrics(p["change"])) for p in pairs]
            both = [(a[name], b[name]) for a, b in both if name in a and name in b]
            par, chg = [a for a, _ in both], [b for _, b in both]
            if not par:
                continue
            pq, cq = quartiles(par), quartiles(chg)
            wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
            gap = cq[1] - pq[1]
            rel = gap / pq[1] if pq[1] else float("nan")
            if not (rel > 0 if lower else rel < 0):
                verdict = "better or equal"
            elif abs(rel) > m["bound"]:
                verdict = f"WORSE BEYOND bound {m['bound']}"
            else:
                verdict = f"worse, within bound {m['bound']}"
            print(f"   {name:18s} parent {pq[1]:.5g} [{pq[0]:.5g}-{pq[2]:.5g}]  "
                  f"change {cq[1]:.5g} [{cq[0]:.5g}-{cq[2]:.5g}]  "
                  f"change better {wins}/{len(par)}  "
                  f"gap {gap:+.4g} {'>' if abs(gap) > pq[2] - pq[0] else '<='} parent IQR "
                  f"{pq[2] - pq[0]:.4g}  rel {rel:+.1%} ({verdict})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="parent checkout dir")
    ap.add_argument("--change", required=True, help="change checkout dir")
    ap.add_argument("--workloads", default="backfill_sync,webhook_live")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1-5,1-5")
    ap.add_argument("--out", help="JSONL file the raw result lines are appended to")
    ap.add_argument("--summarize", metavar="FILE", help="summarize an earlier --out file")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        benchmark = json.load(fh)

    if a.summarize:
        with open(a.summarize) as fh:
            summarize([json.loads(l) for l in fh if l.strip()], benchmark)
        return
    if not (a.parent and a.out):
        ap.error("--parent and --out are needed to run pairs")
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    records = []
    pair = 0
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in a.workloads.split(","):
            pair += 1
            for side in order:
                rc, result = run_one(sides[side], w, seed)
                rec = {"side": side, "workload": w, "seed": seed, "pair": pair,
                       "first": order[0], "rc": rc, "result": result}
                records.append(rec)
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(f"pair {pair} seed {seed} {w} {side}: rc {rc} " + " ".join(
                    f"{k}={v:.5g}" for k, v in sorted(metrics(result).items())), flush=True)
    summarize(records, benchmark)


if __name__ == "__main__":
    main()
