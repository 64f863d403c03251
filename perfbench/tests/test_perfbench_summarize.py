"""The ten-run summary over saved run outputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import summarize  # noqa: E402


def _save(tmp_path, i, workload, value, correct=True, metrics=None, info=None):
    p = tmp_path / f"{workload}-{i}.out"
    result = {"correct": correct, "attempted": 3, "failed": int(not correct),
              "metrics": metrics or {"pass_s": {"value": value, "unit": "s"}}}
    info = {"workload": workload, **(info or {})}
    p.write_text("spark log noise\n" + json.dumps({"info": info}) + "\n" + json.dumps(result) + "\n")
    return str(p)


def test_rows_give_quartiles_and_spread_per_workload(tmp_path):
    paths = [_save(tmp_path, i, "w1", v) for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0])]
    paths.append(_save(tmp_path, 9, "w0", 7.0, correct=False))
    paths.append(_save(tmp_path, 8, "w0", 9.0))
    lines = summarize.rows(summarize.load(paths))
    # quantiles([1..5], n=4) = (1.5, 3.0, 4.5): spread (4.5 - 1.5) / 3
    assert lines[2:] == [
        "| `w0` | `pass_s` | s | 2 | 1 | 8 | 6.5 | 9.5 | 0.375 |",
        "| `w1` | `pass_s` | s | 5 | 0 | 3 | 1.5 | 4.5 | 1.000 |",
    ]


def test_untraced_rows_add_the_warm_pass_latency_of_the_info_line(tmp_path):
    paths = [
        _save(tmp_path, i, "w", 1.0, metrics={"setup_s": {"value": 30.0, "unit": "s"}},
              info={"trace": 0, "warm": {"pass_s": v, "op_p50_s": v / 10}})
        for i, v in enumerate([4.0, 5.0, 6.0])
    ]
    lines = summarize.rows(summarize.load(paths))
    assert [line.split(" | ")[1] for line in lines[2:]] == ["`setup_s`", "`info.pass_s`", "`info.op_p50_s`"]
    assert lines[3].startswith("| `w` | `info.pass_s` | s | 3 | 0 | 5 |")


def test_traced_rows_give_each_time_metric_as_a_share_of_the_pass(tmp_path):
    def traced(layer_s, pass_s):
        return {"catalog.open_s": {"value": layer_s, "unit": "s"},
                "catalog.entries": {"value": 157, "unit": "count"},
                "trace.pass_s": {"value": pass_s, "unit": "s"}}

    paths = [_save(tmp_path, i, "w", None, metrics=traced(a, b))
             for i, (a, b) in enumerate([(1.0, 10.0), (1.0, 5.0), (3.0, 10.0)])]
    lines = summarize.rows(summarize.load(paths))
    assert lines[0].endswith("| spread | share |")
    # shares 0.1, 0.2, 0.3: median 20 %; counts and the pass itself get none
    assert lines[2].startswith("| `w` | `catalog.open_s` |") and lines[2].endswith("| 20.00% |")
    assert lines[3].endswith("| 0.000 | |") and lines[4].endswith(" | |")
