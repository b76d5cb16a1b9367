"""Helpers shared by ``spread.py`` and ``ab.py``: run ``run.py`` as a
child process and summarise repeated results."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root: str, workload: str, seed: int, seconds: float,
             trace: int = 0, timeout_s: float = 900.0) -> dict:
    """One ``run.py`` run in the checkout at ``root``; returns its result
    object with the detail object under ``"detail"``."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                          timeout=timeout_s)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    result["detail"] = json.loads(lines[-2])
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarise(results: list[dict], names: list[str]) -> dict:
    """Per metric: the values, quartiles and the spread (q3 - q1) /
    median."""
    out = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(values)
        out[name] = {"values": values, "q1": q1, "median": med, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("inf")}
    return out


def worse_by(new: float, old: float, better: str) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``
    (negative when better)."""
    if better == "lower":
        return (new - old) / old
    return (old - new) / old
