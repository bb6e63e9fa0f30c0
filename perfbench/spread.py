"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload registry_batch --seeds 1-10

Each run is untraced and measures ``run_seconds`` from
``BENCHMARK.json``. For every end-to-end metric: the median over the
runs and the distance between the first and third quartile as a share
of that median (``statistics.quantiles(values, n=4)``), next to the
metric's bound. Runs are sequential; the results are
also appended, one JSON line per run, to ``--log``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--log", default=os.path.join(ROOT, ".perfbench", "spread.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(args.log), exist_ok=True)

    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(args.log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "wall_s": walls[-1], **result}) + "\n")
        if not result["correct"]:
            print(f"seed {seed}: incorrect output: {p.stdout.splitlines()[-2][:2000]}",
                  file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall", file=sys.stderr)

    print(f"{args.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
        print(f"  {name:40s} median {med:12.4f}  spread {spread:7.3%}"
              f"  bound {bound if bound is not None else '-'}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
