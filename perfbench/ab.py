#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/ab.py PARENT CHANGE

PARENT and CHANGE are each a `runs.jsonl` written by `run.py` (or the
`.perfbench` directory holding it). Run both commits with the same
seeds and `--seconds`; runs of equal workload and seed are paired.

For every workload and end-to-end metric of the untraced runs it prints
each side's median and quartiles, the share of pairs the change wins
(ties count for neither side) and a verdict, unless a run on either
side was host-loaded (steal at or above `graft.Bench.LoadedStealAvg`):
then it refuses the workload's verdicts, since the spread is the
host's. The verdicts:

  improved    the change wins >= 9/10 of the pairs and the medians are
              further apart than the parent's interquartile range;
  worse       the same with the sides swapped, or the change's median is
              worse than the parent's by more than the metric's bound;
  unresolved  the parent's own spread (IQR / median) exceeds the bound
              and not every change run beats every parent run;
  unchanged   otherwise.

Then, for the traced runs, the median of every per-layer metric on
both sides and the difference.
"""
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path):
    p = Path(path)
    if p.is_dir():
        p = p / "runs.jsonl"
    return [json.loads(ln) for ln in p.read_text().splitlines() if ln.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    return tuple(statistics.quantiles(xs, n=4))


def pairs(parent, change):
    """(parent, change) value pairs of runs with the same seed, in order."""
    by_seed = {}
    for r in parent:
        by_seed.setdefault(r[0], []).append(r[1])
    out = []
    for seed, v in change:
        if by_seed.get(seed):
            out.append((by_seed[seed].pop(0), v))
    return out


def verdict(parent, change, better, bound, paired):
    """(verdict, pairs the change wins) for one metric on one workload."""
    q1, mp, q3 = quartiles(parent)
    mc = statistics.median(change)
    iqr = q3 - q1
    sign = 1 if better == "higher" else -1
    gain = sign * (mc - mp)
    wins = sum(1 for p, c in paired if sign * (c - p) > 0)
    losses = sum(1 for p, c in paired if sign * (c - p) < 0)
    n = len(paired)
    if n and wins >= 0.9 * n and gain > iqr:
        return "improved", wins
    if n and losses >= 0.9 * n and -gain > iqr:
        return "worse", wins
    spread = iqr / abs(mp) if mp else float("inf")
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved", wins
    if -gain > bound * abs(mp):
        return "worse", wins
    return "unchanged", wins


def compare(parent_runs, change_runs, spec):
    lines = []
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        pr = [r for r in parent_runs if r["workload"] == w and not r["trace"]]
        cr = [r for r in change_runs if r["workload"] == w and not r["trace"]]
        if not pr or not cr:
            continue
        loaded = [sum(r["facts"]["host_loaded"] for r in rs) for rs in (pr, cr)]
        lines.append(f"{w}: {len(pr)} parent runs ({loaded[0]} host-loaded), "
                     f"{len(cr)} change runs ({loaded[1]} host-loaded)")
        if any(loaded):
            lines.append("  refused: host-loaded runs; rerun the loaded side on a quiet host")
            continue
        for name, m in bounds.items():
            p = [(r["seed"], r["metrics"][name]) for r in pr]
            c = [(r["seed"], r["metrics"][name]) for r in cr]
            pv, cv = [v for _, v in p], [v for _, v in c]
            paired = pairs(p, c)
            v, wins = verdict(pv, cv, m["better"], m["bound"], paired)
            lines.append(
                f"  {name:<12} parent {fmt_q(pv)}  change {fmt_q(cv)}  "
                f"pair wins {wins}/{len(paired)}  {v}")
    for w in workloads:
        pr = [r["metrics"] for r in parent_runs if r["workload"] == w and r["trace"]]
        cr = [r["metrics"] for r in change_runs if r["workload"] == w and r["trace"]]
        if not pr or not cr:
            continue
        lines.append(f"{w} per layer (traced; {len(pr)} parent, {len(cr)} change runs)")
        for name in (m["name"] for m in spec["per_layer"]):
            pv = [r[name] for r in pr if name in r]
            cv = [r[name] for r in cr if name in r]
            if not pv or not cv:
                continue
            a, b = statistics.median(pv), statistics.median(cv)
            if a == 0 and b == 0:
                continue
            rel = f"{(b - a) / abs(a):+.1%}" if a else "n/a"
            lines.append(f"  {name:<40} {a:>14.6g} -> {b:>14.6g}  {rel}")
    return lines


def fmt_q(xs):
    q1, m, q3 = quartiles(xs)
    return f"{m:.4g} [{q1:.4g}, {q3:.4g}]"


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads(BENCHMARK.read_text())
    print("\n".join(compare(load(argv[0]), load(argv[1]), spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
