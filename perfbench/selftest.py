"""Self-test of the benchmark: every workload, traced and untraced,
for one tiny iteration; then the run with the package absent.

    python3 perfbench/selftest.py

Checks that each run exits 0, that its last line parses as strict
JSON with exactly ``correct``, ``attempted``, ``failed`` and
``metrics``, that every metric declared in ``BENCHMARK.json`` is there
with its unit and a finite value, and that no operation failed. Then
it copies only ``BENCHMARK.json`` and ``perfbench/`` into an empty
directory and checks that the benchmark exits non-zero there without
printing a result. Exits non-zero on the first broken check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _reject_constant(token: str):
    raise ValueError(f"non-strict JSON token {token}")


def check_result(line: str, declared: list[dict]) -> list[str]:
    problems = []
    result = json.loads(line, parse_constant=_reject_constant)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if result.get("failed") != 0 or result.get("correct") is not True:
        problems.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        problems.append(f"attempted={result.get('attempted')}")
    metrics = result.get("metrics", {})
    if set(metrics) != {m["name"] for m in declared}:
        problems.append(f"metric names differ: {sorted(set(metrics) ^ {m['name'] for m in declared})}")
    for m in declared:
        got = metrics.get(m["name"], {})
        v = got.get("value")
        if got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r}, declared {m['unit']!r}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{m['name']}: value {v!r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                problems = [f"exit {p.returncode}: {p.stderr[-1500:]}"]
            else:
                declared = spec["per_layer" if trace else "end_to_end"]
                problems = check_result(p.stdout.strip().splitlines()[-1], declared)
                if problems:
                    problems.append("record: " + p.stdout.strip().splitlines()[-2][:1500])
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for msg in problems:
                print("   ", msg)
            ok &= not problems

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    printed = p.stdout.strip()
    bare_ok = p.returncode != 0 and not printed
    print(f"without the package: exit {p.returncode}, stdout {printed[:200]!r}: "
          f"{'ok' if bare_ok else 'FAIL'}")
    return 0 if ok and bare_ok else 1


if __name__ == "__main__":
    sys.exit(main())
