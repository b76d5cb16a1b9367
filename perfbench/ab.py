"""Interleaved A/B of two git refs with identical benchmark code.

    python3 perfbench/ab.py --base HEAD~1 --change HEAD \\
        --workload archive_lookup --pairs 10

Exports each ref with ``git archive`` into ``.perfbench_ab/``, replaces
its ``perfbench/`` and ``BENCHMARK.json`` with this working tree's, and
runs ``--pairs`` pairs, one seed per pair, alternating which side runs
first. For each end-to-end metric it reports each side's median and
quartiles, the share of pairs the change won (ties count for neither)
and a verdict: ``gain`` when the change won at least nine tenths of the
pairs and the medians differ by more than the base's own quartile
distance, ``regression`` when the change's median is worse than the
base's by more than the metric's bound, ``unresolved`` when the base's
own spread is wider than the bound, else ``unchanged``. Results are
saved under ``.perfbench_out/``. ``--trace`` makes traced runs and
compares the per-layer metrics instead; they have no bound, so their
verdict is ``gain`` or ``loss`` by the same pair-win rule, else
``unchanged``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

from harness import HERE, ROOT, load_spec, run_once, summarise, worse_by


def export(ref: str, dest: str) -> None:
    """``ref``'s tree at ``dest``, with this tree's benchmark files."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", "--format=tar", ref],
                             cwd=ROOT, capture_output=True, check=True)
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout,
                   check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def verdict(base: dict, change: dict, won: float, metric: dict) -> str:
    bound = metric.get("bound")
    apart = abs(change["median"] - base["median"]) > base["q3"] - base["q1"]
    if bound is None:
        if apart and won >= 0.9:
            return "gain"
        if apart and won <= 0.1:
            return "loss"
        return "unchanged"
    worse = worse_by(change["median"], base["median"], metric["better"])
    if worse > bound:
        return "regression"
    if won >= 0.9 and apart:
        return "gain"
    if base["spread"] > bound:
        return "unresolved"
    return "unchanged"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    metrics = {m["name"]: m
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    top = os.path.join(ROOT, ".perfbench_ab")
    sides = {"base": args.base, "change": args.change}
    dirs = {s: os.path.join(top, s) for s in sides}
    results = {"base": [], "change": []}
    try:
        for side, ref in sides.items():
            export(ref, dirs[side])
        for i in range(args.pairs):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            seed = args.first_seed + i
            for side in order:
                results[side].append(run_once(
                    dirs[side], args.workload, seed, seconds, int(args.trace)))
            print(f"pair {i + 1}/{args.pairs} (seed {seed}, {order[0]} first)",
                  file=sys.stderr)
    finally:
        shutil.rmtree(top, ignore_errors=True)

    summary = {s: summarise(results[s], list(metrics)) for s in results}
    report = {}
    print(f"{args.workload}: base {args.base} vs change {args.change}, "
          f"{args.pairs} pairs, {seconds:g} s per run")
    for name, m in metrics.items():
        b, c = summary["base"][name], summary["change"][name]
        wins = sum(
            1 for bv, cv in zip(b["values"], c["values"])
            if (cv < bv if m["better"] == "lower" else cv > bv))
        won = wins / args.pairs
        v = verdict(b, c, won, m)
        report[name] = {"base": b, "change": c, "won": won, "verdict": v}
        print(f"  {name:28s} base {b['median']:12.4f} [{b['q1']:.4f}, "
              f"{b['q3']:.4f}]  change {c['median']:12.4f} [{c['q1']:.4f}, "
              f"{c['q3']:.4f}]  won {won:.0%}  {v}")
    correct = all(r["correct"] for side in results.values() for r in side)
    print(f"  all runs correct: {correct}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out", f"ab-{args.workload}.json")
    with open(path, "w") as f:
        json.dump({"base": args.base, "change": args.change,
                   "workload": args.workload, "seconds": seconds,
                   "correct": correct, "metrics": report,
                   "env": {s: [r["detail"]["env"] for r in results[s]]
                           for s in results}}, f, indent=1)
    print(f"  saved {os.path.relpath(path, ROOT)}")
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
