"""Run the benchmark over several seeds and check it is steady.

    python3 perfbench/spread.py --workload stream_ingest --seeds 1-10
    python3 perfbench/spread.py --workload archive_lookup --seeds 101-110 \\
        --against .perfbench_out/spread-archive_lookup-1-10.json
    python3 perfbench/spread.py --workload archive_lookup --seeds 1-3 --trace

For each end-to-end metric it prints the median, quartiles and the
spread (q3 - q1) / median over the seeds, and whether the spread stays
within the metric's bound in ``BENCHMARK.json``. ``--against``
compares the medians with an earlier result file: the second-seed check (an unseen seed set) and the
repeat check (same seeds, second set of runs) both pass when no median
is worse than the earlier one by more than its bound. ``--trace`` also
runs each seed traced and reports the tracing overhead: the traced
run's ``op_p50_ms``/``read_p50_ms`` minus the untraced run's, as
medians over the seeds. Results are saved under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from harness import ROOT, load_spec, run_once, summarise, worse_by


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--against", default=None)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    seeds = parse_seeds(args.seeds)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    results, traced = [], []
    for seed in seeds:
        results.append(run_once(ROOT, args.workload, seed, seconds))
        if args.trace:
            traced.append(run_once(ROOT, args.workload, seed, seconds, 1))
        print(f"seed {seed}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in results[-1]["metrics"].items()}),
            file=sys.stderr)
    summary = summarise(results, list(metrics))
    ok = all(r["correct"] for r in results + traced)
    print(f"{args.workload}, seeds {args.seeds}, {seconds:g} s per run, "
          f"all correct: {ok}")
    for name, s in summary.items():
        bound = metrics[name]["bound"]
        steady = s["spread"] <= bound
        ok &= steady
        print(f"  {name:28s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}"
              f"  q3 {s['q3']:12.4f}  spread {s['spread']:.4f}"
              f"  bound {bound}  {'ok' if steady else 'TOO WIDE'}")
    out = {"workload": args.workload, "seeds": seeds, "seconds": seconds,
           "summary": summary,
           "details": [r["detail"] for r in results]}
    if args.against:
        with open(args.against) as f:
            before = json.load(f)["summary"]
        print(f"  medians against {args.against}:")
        for name, s in summary.items():
            m = metrics[name]
            worse = worse_by(s["median"], before[name]["median"], m["better"])
            held = worse <= m["bound"]
            ok &= held
            print(f"  {name:28s} {before[name]['median']:12.4f} -> "
                  f"{s['median']:12.4f}  worse by {worse:+.4f}"
                  f"  bound {m['bound']}  {'ok' if held else 'WORSE'}")
    if traced:
        overhead = {}
        for name in ("op_p50_ms", "read_p50_ms"):
            on = statistics.median(
                r["metrics"][f"trace.{name}"]["value"] for r in traced)
            overhead[name] = on - summary[name]["median"]
            print(f"  tracing overhead {name}: {overhead[name]:+.2f} ms "
                  f"({overhead[name] / summary[name]['median']:+.2%})")
        out["tracing_overhead_ms"] = overhead
        out["traced"] = [r["metrics"] for r in traced]
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"spread-{args.workload}-{args.seeds}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"  saved {os.path.relpath(path, ROOT)}; overall "
          f"{'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
