#!/usr/bin/env python3
"""Median, quartiles and spread of every metric over saved runs.

    for s in $(seq 1 10); do
        python3 perfbench/run.py --workload queries --seed $s --seconds 30 --trace 0 > runs/queries-$s.out
    done
    python3 perfbench/summarize.py runs/*.out

Each file holds one run's stdout: the info line, then the result line.
Untraced runs also get rows for the warm-pass latency of their info line
(``info.pass_s``, ``info.op_p50_s``).
Quartiles are ``statistics.quantiles(values, n=4)`` and the spread is
(q3 - q1) / median, the figure a metric's bound is checked against. Prints
a markdown table, one row per workload and metric. For traced runs a last
column gives each per-pass time metric as a share of the traced warm pass
(``trace.pass_s``): the median over runs of value / trace.pass_s.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

PASS = "trace.pass_s"
# layer times taken once per run, in set-up: no share of a pass
PER_RUN = ("session.boot_s", "session.pyworker_warm_s", "llm.queries.shared_build_s")


def load(paths) -> dict[str, list[dict]]:
    """Result objects by workload name."""
    runs: dict[str, list[dict]] = {}
    for path in paths:
        with open(path) as f:
            lines = f.read().strip().splitlines()
        if len(lines) < 2:
            raise ValueError(f"{path}: no result line")
        info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
        if not info.get("trace"):
            # the warm-pass latency of untraced runs, as info.<name>
            for name, value in info.get("warm", {}).items():
                result["metrics"][f"info.{name}"] = {"value": value, "unit": "s"}
        runs.setdefault(info["workload"], []).append(result)
    return runs


def rows(runs: dict[str, list[dict]]) -> list[str]:
    traced = any(PASS in rs[0]["metrics"] for rs in runs.values())
    head = "| workload | metric | unit | runs | incorrect | median | q1 | q3 | spread |"
    out = [head + " share |" * traced, "| --- " * (9 + traced) + "|"]
    for workload, results in sorted(runs.items()):
        bad = sum(not r["correct"] for r in results)
        for name, m in results[0]["metrics"].items():
            xs = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = stats.quartiles(xs)
            line = (f"| `{workload}` | `{name}` | {m['unit']} | {len(xs)} | {bad} "
                    f"| {med:.4g} | {q1:.4g} | {q3:.4g} | {stats.iqr_share(xs):.3f} |")
            if traced:
                share = (statistics.median(r["metrics"][name]["value"] / r["metrics"][PASS]["value"]
                                           for r in results)
                         if m["unit"] == "s" and name not in (PASS, *PER_RUN) and PASS in results[0]["metrics"]
                         else None)
                line += f" {share:.2%} |" if share is not None else " |"
            out.append(line)
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print("\n".join(rows(load(sys.argv[1:]))))
