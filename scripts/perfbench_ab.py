"""Interleaved A/B comparison of two checkouts on the perfbench benchmark.

    python3 scripts/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B

For every seed from A to B, runs
``python3 perfbench/run.py --workload W --seed N --seconds S --trace 0``
once in each checkout, each in a fresh process with the checkout as its
working directory. The side that runs first alternates from one pair to
the next. Each run's ``correct`` and ``failed`` print as it finishes.

At the end it prints each side's failed operations, summed over its
runs, out of the operations attempted. Then, for every end-to-end metric
of the parent's BENCHMARK.json, it prints each side's median and
quartiles, the change's wins out of the pairs (ties count for neither),
whether the gain rule holds, and a no-regression verdict:

- gain rule: the change wins at least nine tenths of the pairs, and the
  medians differ by more than the parent's interquartile range;
- ``within bound``: the change's median is worse than the parent's by
  no more than the metric's ``bound``, taken relative to the parent's
  median;
- ``worse past bound``: it is worse by more than that;
- ``unresolved``: the parent's interquartile range, relative to its
  median, is wider than the bound, unless every change run beats every
  parent run.

It then prints every operation kind's median latency on each side.
``--out FILE`` also writes each run's report and result as one JSON
line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-2000:])
        return {"result": {"correct": False, "failed": None, "metrics": {}}, "report": {}}
    return {"report": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(pairs: list[tuple[float, float]], lower: bool, bound: float) -> str:
    """No-regression verdict on (parent, change) values of one metric."""
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    q1, median, q3 = quartiles(parent)
    worse = (statistics.median(change) - median) if lower else (median - statistics.median(change))
    beats_all = max(change) < min(parent) if lower else min(change) > max(parent)
    if (q3 - q1) > bound * median and not beats_all:
        return "unresolved"
    if worse > bound * median:
        return f"worse past bound {bound:g}"
    return f"within bound {bound:g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    lo, hi = (int(s) for s in args.seeds.split("-"))
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], args.workload, seed, args.seconds)
            runs[side].append(r)
            res = r["result"]
            print(f"seed {seed} {side}: correct={res['correct']} failed={res['failed']}", flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, **r}) + "\n")

    print(f"\n{args.workload}, seeds {lo}-{hi}: failed ops / attempted")
    for side, rs in runs.items():
        done = [r["result"] for r in rs if r["result"]["failed"] is not None]
        failed = sum(r["failed"] for r in done)
        attempted = sum(r["attempted"] for r in done)
        crashed = len(rs) - len(done)
        print(f"  {side}: {failed} / {attempted}" + (f", {crashed} runs crashed" if crashed else ""))

    print(f"\n{args.workload}, seeds {lo}-{hi}: median [Q1, Q3] parent -> change")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [
            (p["result"]["metrics"][name]["value"], c["result"]["metrics"][name]["value"])
            for p, c in zip(runs["parent"], runs["change"])
            if name in p["result"]["metrics"] and name in c["result"]["metrics"]
        ]
        if not pairs:
            print(f"  {name}: no complete pair")
            continue
        p_q = quartiles([p for p, _ in pairs])
        c_q = quartiles([c for _, c in pairs])
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        gain = (p_q[1] - c_q[1]) if lower else (c_q[1] - p_q[1])
        holds = wins >= 0.9 * len(pairs) and gain > p_q[2] - p_q[0]
        print(
            f"  {name}: {p_q[1]:.4g} [{p_q[0]:.4g}, {p_q[2]:.4g}] -> "
            f"{c_q[1]:.4g} [{c_q[0]:.4g}, {c_q[2]:.4g}]  "
            f"change wins {wins}/{len(pairs)}, gain rule {'holds' if holds else 'does not hold'}, "
            f"{verdict(pairs, lower, m['bound'])}"
        )

    print("\nper-kind median latency (s), median over runs: parent -> change")
    kinds = sorted({k for rs in runs.values() for r in rs for k in r["report"].get("kind_p50_s", {})})
    for kind in kinds:
        med = {}
        for side, rs in runs.items():
            values = [r["report"]["kind_p50_s"][kind] for r in rs if kind in r["report"].get("kind_p50_s", {})]
            med[side] = f"{statistics.median(values):.4g}" if values else "-"
        print(f"  {kind}: {med['parent']} -> {med['change']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
