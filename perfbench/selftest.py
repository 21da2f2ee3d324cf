#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (five to seven minutes on 4 cores).

    python3 perfbench/selftest.py

For each workload it runs ``run.py --size tiny`` untraced and traced, and
checks that the last line has exactly the result keys, that every metric
BENCHMARK.json names is printed with its declared unit, and that a clean
run counts no failed operation. The untraced runs plant an output
mismatch (``--plant-mismatch``), which must be counted in ``failed``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_run(spec: dict, workload: str, trace: int, planted: bool) -> list[str]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    if planted:
        cmd.append("--plant-mismatch")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    what = f"{workload} trace={trace}{' planted' if planted else ''}"
    if proc.returncode != 0:
        return [f"{what}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{what}: result keys {sorted(result)}")
    declared = spec["per_layer" if trace else "end_to_end"]
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None:
            errors.append(f"{what}: metric {m['name']} missing")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            errors.append(f"{what}: metric {m['name']} printed as {got}")
    extra = set(result["metrics"]) - {m["name"] for m in declared}
    if extra:
        errors.append(f"{what}: undeclared metrics {sorted(extra)}")
    if planted and (result["failed"] < 1 or result["correct"]):
        errors.append(f"{what}: planted mismatch not counted ({result['failed']} failed)")
    if not planted and (result["failed"] != 0 or not result["correct"]):
        errors.append(f"{what}: {result['failed']} failed on a clean run")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check_run(spec, w["name"], trace, planted=trace == 0)
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
