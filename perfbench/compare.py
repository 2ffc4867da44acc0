#!/usr/bin/env python3
"""Summarise or compare saved benchmark output.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0 >> base.log
    python3 perfbench/compare.py base.log            # medians and spreads
    python3 perfbench/compare.py base.log new.log    # also new vs base per bound

Each log holds the stdout of one or more runs: the ``env`` line run.py
prints, then the result line. For every (workload, trace) group it prints
each metric's median and its spread (interquartile range over median, the
statistic the bounds in BENCHMARK.json are judged by), and the tracing
overhead (median traced op time minus median untraced op time) when a log
holds both kinds of run. Results from hosts with different core counts are
never compared: the script exits with status 3 instead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[tuple[dict, dict]]:
    """[(env, result)] in file order."""
    runs, env = [], None
    with open(path) as fh:
        for line in fh:
            if line.startswith("env "):
                env = json.loads(line[4:])
            elif line.startswith("{") and env is not None:
                runs.append((env, json.loads(line)))
                env = None
    return runs


def groups(runs) -> dict[tuple[str, int], dict[str, list[float]]]:
    out: dict = defaultdict(lambda: defaultdict(list))
    for env, res in runs:
        key = (env["workload"], env["trace"])
        for name, m in res["metrics"].items():
            out[key][name].append(m["value"])
        if not env["trace"]:
            # median wall seconds per op, from the env line; not gated
            out[key]["wall.op_s_p50"].append(statistics.median(env["op_samples"]))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with Python's default quartiles."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med) if med else 0.0


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    logs = [load(p) for p in argv]
    cores = {env["nproc"] for runs in logs for env, _ in runs}
    if len(cores) > 1:
        print(f"refusing to compare results from hosts with {sorted(cores)} cores",
              file=sys.stderr)
        return 3
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    base = groups(logs[0])
    new = groups(logs[1]) if len(logs) == 2 else {}
    for key in sorted(base):
        wl, trace = key
        print(f"== {wl} trace={trace} runs={len(next(iter(base[key].values())))}")
        for name, vals in base[key].items():
            med, sp = spread(vals)
            line = f"  {name:48s} median {med:12.4f}  spread {sp:6.3f}"
            if key in new and name in new[key] and name in bounds:
                b = bounds[name]
                new_med, _ = spread(new[key][name])
                worse = (new_med - med) / med if b["better"] == "lower" else (
                    med - new_med) / med
                flag = "WORSE" if worse > b["bound"] else "ok"
                line += f"  new {new_med:12.4f}  worse-by {worse:+.3f} {flag}"
            print(line)
    for wl in sorted({w for w, _ in base}):
        plain, traced = base.get((wl, 0), {}), base.get((wl, 1), {})
        if "wall.op_s_p50" in plain and "trace.op_s" in traced:
            over = statistics.median(traced["trace.op_s"]) - statistics.median(
                plain["wall.op_s_p50"])
            print(f"tracing overhead {wl}: {over:+.3f} s per op")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
