#!/usr/bin/env python3
"""Catalyst rule time per operation of the ``sercom_upsert`` benchmark
workload (``perfbench/workloads.py``): the same inputs, prior state and
operation as ``perfbench/run.py --workload sercom_upsert``, with
``RuleExecutor``'s meter read around each timed operation.

Run from the root of a checkout (it reads that checkout's engine and
``perfbench`` package; ``scripts/plan_cost.py`` need not exist there):

    python3 plans/pr2/sercom_rule_cost.py --seed 41 --ops 4

Prints one JSON line per timed operation: wall seconds, total rule
seconds, ``ConvertToLocalRelation`` seconds and the output check.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

_RULE_LINE = re.compile(r"^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$")


def rule_s(dump: str, rule: str) -> float:
    for line in dump.splitlines():
        m = _RULE_LINE.match(line.strip())
        if m and m.group(1).endswith("." + rule):
            return int(m.group(3)) / 1e9
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=41)
    ap.add_argument("--ops", type=int, default=4)
    args = ap.parse_args()

    from perfbench import trace, workloads

    from etl_python_azure_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="sercom_rule_cost_")
    spark = get_spark("sercom-rule-cost", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        wl = workloads.SercomUpsert(work, args.seed, 1.0, int(os.environ["SPARK_GRAFT_CPUS"]),
                                    trace.NullTracer())
        wl.generate()
        wl.prepare(spark)
        problems = wl.warm(spark)
        meter = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        for i in range(args.ops):
            wl.reset(spark)
            meter.resetMetrics()
            t0 = time.perf_counter()
            wl.op(spark)
            wall = time.perf_counter() - t0
            dump = meter.dumpTimeSpent()
            total = meter.getCurrentMetrics().time() / 1e9
            print(json.dumps({
                "op": i, "seed": args.seed, "wall_s": round(wall, 3),
                "rule_s": round(total, 3),
                "ConvertToLocalRelation_s": round(rule_s(dump, "ConvertToLocalRelation"), 4),
                "problems": problems + wl.check()}), flush=True)
            workloads.collect_garbage(spark)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
