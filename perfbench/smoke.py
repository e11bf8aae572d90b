#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (~sf0.001, 1-2 rounds).

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced with
``--size smoke`` and checks that each run exits 0, passes every output
check, and prints every end-to-end (untraced) or per-layer (traced)
metric of BENCHMARK.json with its unit and nothing else. Exits 1 on
the first failure. Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(workload: str, trace: int, expected: dict[str, str]) -> list[str]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"checks: correct={res.get('correct')} failed={res.get('failed')} "
                      f"attempted={res.get('attempted')}")
    got = res.get("metrics", {})
    if set(got) != set(expected):
        errors.append(f"metric names differ: missing {sorted(set(expected) - set(got))}, "
                      f"extra {sorted(set(got) - set(expected))}")
    for name, unit in expected.items():
        m = got.get(name, {})
        if m.get("unit") != unit:
            errors.append(f"{name}: unit {m.get('unit')!r}, expected {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            errors.append(f"{name}: value {v!r} is not a finite number")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = 0
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            errors = check(w["name"], trace, {m["name"]: m["unit"] for m in bench[key]})
            print(f"{w['name']} trace={trace}: {'ok' if not errors else 'FAIL'}", flush=True)
            for e in errors:
                print(f"  {e}")
            failures += bool(errors)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
