"""Smoke self-test of the benchmark.

Runs every workload of BENCHMARK.json once untraced and once traced at tiny
size (sf0.001 tables, a 3-channel API corpus) and asserts that the result
line carries every end-to-end (untraced) or per-layer (traced) metric of
BENCHMARK.json with its unit, that every output check passed and that no
operation failed.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} failed={res.get('failed')} attempted={res.get('attempted')}")
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != want:
        problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"units {sorted(k for k in set(want) & set(got) if want[k] != got[k])}")
    bad = [k for k, v in res.get("metrics", {}).items() if not isinstance(v.get("value"), (int, float))]
    if bad:
        problems.append(f"non-numeric values {bad}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0
    for wl in spec["workloads"]:
        for trace in (0, 1):
            problems = run_one(spec, wl["name"], trace)
            print(f"{'FAIL' if problems else 'ok  '} {wl['name']} trace={trace} {'; '.join(problems)}", flush=True)
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
