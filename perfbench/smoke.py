"""Smoke check of the benchmark on a tiny corpus.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced, on a
few thousand turns for one second each, and fails unless each run's
result line names exactly the metrics of BENCHMARK.json with their units,
is marked correct and has no failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TURNS = 3000


def check(spec: dict, workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--turns", str(TURNS)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError(f"unexpected result keys {sorted(line)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {n: m["unit"] for n, m in line["metrics"].items()}
    if got != want:
        missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
        wrong = sorted(n for n in set(want) & set(got) if want[n] != got[n])
        raise RuntimeError(
            f"{workload} trace={trace}: missing {missing}, extra {extra}, wrong unit {wrong}")
    if not line["correct"] or line["failed"] != 0 or line["attempted"] < 1:
        raise RuntimeError(f"{workload} trace={trace}: failed {line['failed']} "
                           f"of {line['attempted']}")
    print(f"ok  {workload:20s} trace={trace}  attempted={line['attempted']}", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(spec, w["name"], trace)


if __name__ == "__main__":
    main()
