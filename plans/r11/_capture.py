#!/usr/bin/env python
"""Capture .explain("formatted") for every declared query into
plans/r11/<query>_<suffix>.txt (suffix from argv[1], default "before").

Plan shape is timing-independent, so this can run in a noisy window.
Queries whose construction itself executes jobs (streaming provers,
loopback-wire queries) still produce their final-DataFrame plan.
"""
from __future__ import annotations

import os
import sys
import traceback

here = os.path.dirname(os.path.abspath(__file__))
repo = os.path.dirname(os.path.dirname(here))
sys.path.insert(0, repo)

suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from intake_spark.benchqueries import get_queries  # noqa: E402
from intake_spark.session import get_session  # noqa: E402

spark = get_session("intake_spark_plan_capture")
spark.sparkContext.setLogLevel("ERROR")

from intake_spark.llm.queries import shared, shared_labels  # noqa: E402

for label in shared_labels():
    shared(spark, sf_dir, label)

queries = get_queries()
names = sorted(queries)
if only:
    names = [n for n in names if any(n.startswith(p) for p in only)]

mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
    "formatted"
)
for name in names:
    out = os.path.join(here, f"{name}_{suffix}.txt")
    try:
        df = queries[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
    except Exception:
        txt = "CAPTURE ERROR:\n" + traceback.format_exc()
    with open(out, "w") as f:
        f.write(txt)
    print(name, "ok" if not txt.startswith("CAPTURE") else "ERR", flush=True)
