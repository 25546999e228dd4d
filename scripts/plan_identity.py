#!/usr/bin/env python
"""Plan-identity check between two code trees (storm-immune A/B
adjudicator): if a query's OPTIMIZED + PHYSICAL plans are identical
(modulo expression ids) in both trees, the trees cannot differ in
execution — any measured wall-clock delta is window noise or plan-
BUILD time, not the executed code.

Usage: python scripts/plan_identity.py A_DIR B_DIR q1,q2,...
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

PROBE = r"""
import json, os, re, sys
repo = sys.argv[1]
names = sys.argv[2].split(",")
sys.path.insert(0, repo)
os.chdir(repo)
import __spark_entry__ as entrymod
from gdal_boots_spark.session import get_spark
spark = get_spark("plan-probe", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
qs = entrymod.all_queries()  # board queries and the extras
out = {}
for n in names:
    df = qs[n](spark, sf)
    qe = df._jdf.queryExecution()
    plans = {"optimized": qe.optimizedPlan().toString(),
             "physical": qe.executedPlan().toString()}
    canon = {}
    for k, s in plans.items():
        s = re.sub(r"#\d+[L]?", "#_", s)          # expression ids
        s = re.sub(r"plan_id=\d+", "plan_id=_", s)
        s = re.sub(r"\[id=#?\d+\]", "[id=_]", s)  # codegen/stage ids
        s = re.sub(r"cachedrdd-\d+", "cachedrdd-_", s)
        canon[k] = s
    out[n] = canon
print("PLANJSON" + json.dumps(out))
spark.stop()
"""


def main() -> None:
    a_dir, b_dir, qlist = sys.argv[1], sys.argv[2], sys.argv[3]
    plans = {}
    for repo in (a_dir, b_dir):
        p = subprocess.run(
            [sys.executable, "-c", PROBE, repo, qlist],
            capture_output=True, text=True, env=dict(os.environ),
        )
        line = next((l for l in p.stdout.splitlines() if l.startswith("PLANJSON")), None)
        if line is None:
            print(json.dumps({"repo": repo, "error": p.stderr[-800:]}))
            sys.exit(1)
        plans[repo] = json.loads(line[len("PLANJSON"):])
    verdict = {}
    for n in qlist.split(","):
        verdict[n] = {
            k: plans[a_dir][n][k] == plans[b_dir][n][k] for k in ("optimized", "physical")
        }
        for k, same in verdict[n].items():
            if not same:
                import difflib

                diff = "\n".join(
                    difflib.unified_diff(
                        plans[a_dir][n][k].splitlines(),
                        plans[b_dir][n][k].splitlines(),
                        lineterm="", n=1,
                    )
                )
                print(f"--- {n}/{k} differs ---\n{diff[:4000]}\n", file=sys.stderr)
    print(json.dumps({"identical": verdict}))


if __name__ == "__main__":
    main()
