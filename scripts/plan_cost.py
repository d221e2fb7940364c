#!/usr/bin/env python
"""Where does driver planning time go? Run one synthetic pipeline or
registry query warm and print, per timed run:

- one line per Spark action (SQL execution): its wall time and the
  analysis / optimization / planning phases of its QueryExecution,
  taken from a ``QueryExecutionListener``;
- the run's total time in Catalyst rules (analyzer, optimizer and AQE
  re-optimization, from ``RuleExecutor``'s process-wide meter) and
  the rules that took the most of it.

The last stdout line is one JSON object with the same figures.

Usage:
    python scripts/plan_cost.py sercom [--sf 0.2] [--repeats 2] [--top 8]
    python scripts/plan_cost.py latinad [--sf 0.2]
    python scripts/plan_cost.py query NAME [--sf-dir perfbench/data/sf0.01]

``sercom`` and ``latinad`` are ``plans.synthetic.bench_sercom`` /
``bench_latinad`` (``--sf 0.2`` is 10k Sercom tasks); ``query`` builds
a registry query and writes it to a noop sink. One untimed run warms
the JVM first. Set ``SPARK_GRAFT_CPUS`` to pin the core count.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import re
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from etl_python_azure_spark.session import get_spark  # noqa: E402

# "<rule>   <effective ns> / <total ns>   <effective runs> / <runs>"
_RULE_LINE = re.compile(r"^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$")


class _ActionListener:
    """py4j proxy of ``org.apache.spark.sql.util.QueryExecutionListener``:
    records (action, seconds, {phase: seconds}) per finished action."""

    def __init__(self):
        self.actions: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        self.actions.append({"action": func_name, "s": duration_ns / 1e9, **phases})

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.actions.append({"action": func_name, "failed": str(exception)[:200]})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def rule_times(rule_executor) -> dict[str, float]:
    """Seconds per rule since the meter's last reset, short names."""
    out = {}
    for line in rule_executor.dumpTimeSpent().splitlines():
        m = _RULE_LINE.match(line.strip())
        if m and int(m.group(3)):
            out[m.group(1).rsplit(".", 1)[-1]] = int(m.group(3)) / 1e9
    return out


def _target(spark, args, scratch: str):
    """A callable that runs the target once (every action included)."""
    if args.target in ("sercom", "latinad"):
        from etl_python_azure_spark.plans import synthetic

        bench = synthetic.bench_sercom if args.target == "sercom" else synthetic.bench_latinad
        runs = itertools.count()

        def run():
            root = os.path.join(scratch, f"run{next(runs)}")
            bench(spark, args.sf, root)
            shutil.rmtree(root, ignore_errors=True)

        return run

    from etl_python_azure_spark.queries import registry

    builder = registry()[args.name].builder

    def run():
        builder(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    return run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("target", choices=["sercom", "latinad", "query"])
    ap.add_argument("name", nargs="?", help="registry query name (target 'query')")
    ap.add_argument("--sf", type=float, default=0.2, help="pipeline scale")
    ap.add_argument("--sf-dir", default=os.path.join(_REPO, "perfbench", "data", "sf0.01"))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args()
    if (args.target == "query") != bool(args.name):
        ap.error("a query NAME is needed with target 'query', and only there")

    from pyspark.java_gateway import ensure_callback_server_started

    spark = get_spark("plan-cost")
    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    listener = _ActionListener()
    spark._jsparkSession.listenerManager().register(listener)
    meter = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    bus = sc._jsc.sc().listenerBus()

    scratch = tempfile.mkdtemp(prefix="plan_cost_")
    label = args.name or args.target
    summary = {"target": label, "cpus": sc.defaultParallelism, "runs": []}
    try:
        run = _target(spark, args, scratch)
        run()  # warm: JVM start, JIT, parquet schema cache
        for i in range(args.repeats):
            bus.waitUntilEmpty()
            listener.actions.clear()
            meter.resetMetrics()
            t0 = time.perf_counter()
            run()
            wall = time.perf_counter() - t0
            bus.waitUntilEmpty()
            rules = rule_times(meter)
            rule_s = meter.getCurrentMetrics().time() / 1e9
            top = dict(sorted(rules.items(), key=lambda kv: -kv[1])[: args.top])
            print(f"{label} run {i}: wall {wall:.3f} s, {len(listener.actions)} actions, "
                  f"rule time {rule_s:.3f} s")
            for a in listener.actions:
                if "failed" in a:
                    print(f"  {a['action']:<12} FAILED {a['failed']}")
                    continue
                print(f"  {a['action']:<12} {a['s']:7.3f} s  analysis {a.get('analysis', 0):.3f}"
                      f"  optimization {a.get('optimization', 0):.3f}"
                      f"  planning {a.get('planning', 0):.3f}")
            for name, s in top.items():
                print(f"  rule {name:<48} {s:7.3f} s")
            summary["runs"].append({
                "wall_s": round(wall, 4), "rule_s": round(rule_s, 4),
                "optimization_s": round(sum(a.get("optimization", 0) for a in listener.actions), 4),
                "actions": list(listener.actions),
                "top_rules": {k: round(v, 4) for k, v in top.items()},
                "ConvertToLocalRelation_s": round(rules.get("ConvertToLocalRelation", 0.0), 4),
            })
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
