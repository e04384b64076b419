"""Fast smoke of the benchmark: every workload at scale 0.001, untraced
and traced, each in a fresh process, with all output checks on.

    python3 perfbench/smoke.py

Fails (exit 1) when a run exits non-zero, reports a wrong result, or
prints metric names other than those ``BENCHMARK.json`` declares.
Takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect = {0: {m["name"] for m in spec["end_to_end"]},
              1: {m["name"] for m in spec["per_layer"]}}
    bad = 0
    for name in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", name, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--sf", "0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            problem = None
            if proc.returncode != 0 or not lines:
                problem = f"exit {proc.returncode}: {proc.stderr[-2000:]}"
            else:
                res = json.loads(lines[-1])
                if not res["correct"] or res["failed"]:
                    problem = "wrong results: " + "; ".join(
                        ln for ln in lines if ln.startswith("error"))
                elif set(res["metrics"]) != expect[trace]:
                    diff = sorted(set(res["metrics"]) ^ expect[trace])
                    problem = f"metrics differ from BENCHMARK.json: {diff}"
            print(f"{name} trace={trace}: "
                  f"{'ok' if problem is None else 'FAIL ' + problem}",
                  flush=True)
            bad += problem is not None
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
