#!/usr/bin/env python3
"""Run sets of benchmark runs, and compare two sets.

    python3 perfbench/sets.py run --workload W --seeds 1-10 --seconds 5 --out A.jsonl
    python3 perfbench/sets.py compare A.jsonl B.jsonl

``run`` runs ``perfbench/run.py --trace 0`` once per seed and appends
each run's context line and result line, as one JSON object, to
``--out``. ``compare`` prints, for each workload and end-to-end metric
of ``BENCHMARK.json``, the spread (interquartile range over median) of
each set and the shift of the second set's median from the first,
beside the shift of the calibration probe's median. A metric that got
worse by more than its bound while the probe slowed by more than
``CALIBRATION_TOLERANCE`` is marked as likely host drift rather than a
change of the program. The exit code is 0 only when every run was
correct and every spread and shift is within its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

# the probe is single-core and brief: over 20 runs of a workload its
# correlation with run_s was 0.25 (relational mix) to 0.73 (Sercom), and
# two sets of the same code had probe medians up to 22% apart while no
# metric median moved more than 8%. So it only explains a failure; it
# never passes or fails a comparison.
CALIBRATION_TOLERANCE = 0.10


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(args) -> int:
    with open(args.out, "a") as out:
        for seed in _seeds(args.seeds):
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            row = {"context": json.loads(lines[-2])["perfbench"], **json.loads(lines[-1])}
            out.write(json.dumps(row) + "\n")
            out.flush()
            m = {k: round(v["value"], 3) for k, v in row["metrics"].items()}
            print(f"seed {seed}: correct={row['correct']} attempted={row['attempted']} "
                  f"failed={row['failed']} calibration_s="
                  f"{row['context']['calibration_s']:.4f} {m}", flush=True)
    return 0


def _load(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            row = json.loads(line)
            by_workload.setdefault(row["context"]["workload"], []).append(row)
    return by_workload


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def compare(args) -> int:
    with open("BENCHMARK.json") as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    first, second = _load(args.first), _load(args.second)
    ok = True
    for wl in sorted(set(first) & set(second)):
        a, b = first[wl], second[wl]
        cal = [statistics.median(r["context"]["calibration_s"] for r in s) for s in (a, b)]
        drift = cal[1] / cal[0] - 1
        print(f"{wl}: {len(a)} and {len(b)} runs, calibration median "
              f"{cal[0]:.4f} s -> {cal[1]:.4f} s ({drift:+.1%})")
        ok &= all(r["correct"] for r in a + b)
        for name, bound in bounds.items():
            va = [r["metrics"][name]["value"] for r in a]
            vb = [r["metrics"][name]["value"] for r in b]
            sa, sb = spread(va), spread(vb)
            shift = statistics.median(vb) / statistics.median(va) - 1
            within = shift <= bound and (name == "setup_s" or max(sa, sb) <= bound)
            ok &= within
            note = "" if within else "  OUT"
            if shift > bound and drift > CALIBRATION_TOLERANCE:
                note += ", likely host drift: the calibration probe slowed too"
            print(f"  {name:12} spread {sa:.3f} / {sb:.3f}  median "
                  f"{statistics.median(va):.4g} -> {statistics.median(vb):.4g} "
                  f"({shift:+.1%})  bound {bound}{note}")
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="a seed or a range such as 1-10")
    r.add_argument("--seconds", type=float, required=True)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = p.parse_args()
    return run_set(args) if args.cmd == "run" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
