#!/usr/bin/env python
"""Capture the FINAL adaptive plan (isFinalPlan=true) for the named
queries: execute the frame into the noop sink first, then explain the
same QueryExecution — AQE only materializes ReusedExchange /
AQEShuffleRead decisions at runtime, so a pre-execution capture shows
isFinalPlan=false and misses them (r11 VERDICT item #4).

Usage: python _capture_final.py q59,q32 [suffix]   (default suffix
"final")."""
from __future__ import annotations

import os
import sys

here = os.path.dirname(os.path.abspath(__file__))
repo = os.path.dirname(os.path.dirname(here))
sys.path.insert(0, repo)

only = sys.argv[1].split(",") if len(sys.argv) > 1 else ["q59", "q32"]
suffix = sys.argv[2] if len(sys.argv) > 2 else "final"
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from intake_spark.benchqueries import get_queries  # noqa: E402
from intake_spark.session import get_session  # noqa: E402

spark = get_session("intake_spark_final_plan_capture")
spark.sparkContext.setLogLevel("ERROR")

from intake_spark.llm.queries import shared, shared_labels  # noqa: E402

for label in shared_labels():
    shared(spark, sf_dir, label)

queries = get_queries()
names = [n for n in sorted(queries) if any(n.startswith(p) for p in only)]

mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
    "formatted"
)
for name in names:
    df = queries[name](spark, sf_dir)
    # execute THIS frame's QueryExecution (a .write would plan a fresh
    # one and leave df's adaptive plan unfinalized) — result sets here
    # are pair tables, small enough to collect
    df.collect()
    txt = df._jdf.queryExecution().explainString(mode)
    out = os.path.join(here, f"{name}_{suffix}.txt")
    with open(out, "w") as f:
        f.write(txt)
    print(name, "->", out, "isFinalPlan=true" if "isFinalPlan=true" in txt
          else "NO-FINAL-MARKER", flush=True)
