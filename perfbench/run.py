"""Benchmark entry point.

    python3 perfbench/run.py --workload import_pipeline --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The workloads, their metrics and units
are declared in ``BENCHMARK.json``; ``perfbench/README.md`` says which
end-to-end metric each per-layer metric should move. The last line of
standard output is one strict-JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``). The line before
it is the run record: environment, failures by name, and extra
figures; the same record, with the spans of a traced run, is written
to ``.perfbench/out/``.

The runner pins the environment itself: ``local[<cpus>]`` on half the
usable CPUs (the other half runs the driver, the JIT compiler and GC),
with as many shuffle partitions as task threads, the Spark UI off,
Spark's local dirs, temp dirs and warehouse inside ``.perfbench/``,
``PYTHONPATH`` at the repository root (Spark's Python workers import
the package from there), and a 2 GB driver heap.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "universal_importer_duckdb_spark"
DRIVER_MEMORY = "2g"
DEADLINE_S = 170  # the run must end within 180 s


class Deadline(BaseException):
    """Not an ``Exception``: a failed-operation handler must not
    swallow it."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def pin_environment(work: str, trace: bool) -> int:
    """Set every variable the program and Spark read, before pyspark
    is imported. Returns the CPU count the session uses."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            # zstandard is not installed, so the log stays uncompressed
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
    args = ["--driver-memory", DRIVER_MEMORY]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in args + ["pyspark-shell"]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
    )
    sys.path[:0] = [ROOT, HERE]
    return cpus


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_mb() -> float | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return None
    with open(f"/proc/{gw.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process
    they started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    workers = []
    if proc is not None:
        workers = _children(proc.pid)
        workers += [c for w in workers for c in _children(w)]
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    t0 = time.time()
    while any(_alive(p) for p in workers):
        if time.time() - t0 > 15:
            for p in workers:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)
        if time.time() - t0 > 20:
            break


def finite(v):
    """Strict JSON: non-finite numbers become null."""
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, dict):
        return {k: finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [finite(x) for x in v]
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's inputs")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    cpus = pin_environment(work, bool(args.trace))
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)

    import workloads  # after the environment is pinned
    from tracer import Tracer

    tracer = Tracer(bool(args.trace))
    run = workloads.Run(args.workload, args.seed, args.seconds, work, args.scale, tracer)
    t_start = time.perf_counter()
    cpu0 = workloads.cpu_jiffies()
    try:
        workloads.execute(run)
        jvm_mb = jvm_peak_mb()
    finally:  # on any error too: no process outlives the run
        signal.alarm(0)
        t_stop = time.perf_counter()
        stop_spark(run.spark)
        run.info["stop_s"] = time.perf_counter() - t_stop
    if args.trace:
        workloads.event_log_layers(run, os.path.join(work, "eventlog"))
    steal = workloads.steal_share(cpu0, workloads.cpu_jiffies())
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    med = workloads.median
    ops = run.quiet_ops()
    e2e = {
        "setup_s": run.setup_s,
        "iter_s_p50": med(run.quiet_iterations()),
        "query_s_p50": med(ops),
    }
    layer = {k: med(v) for k, v in run.layer.items()}
    layer["trace.iter_s_p50"] = e2e["iter_s_p50"]
    # too noisy run to run for end-to-end: JVM heap growth follows GC
    # timing (10-18%); p90 of 4-6 calls is the slowest entry (15-22%)
    layer["driver_rss_peak_mb"] = py_mb + jvm_mb if jvm_mb is not None else None
    if len(ops) >= 2:
        layer["query_s_p90"] = statistics.quantiles(ops, n=10, method="inclusive")[-1]
    values = layer if args.trace else e2e
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in declared}
    missing = [k for k, m in metrics.items() if m["value"] is None]

    failed = len(run.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_threads": cpus,
        # CPU time the hypervisor gave to other guests during the run
        "steal_frac": steal,
        "wall_s": time.perf_counter() - t_start,
        "setup_s": run.setup_s,
        "iter_times": run.iter_times,
        # steal share during each iteration; the medians take only the
        # iterations within STEAL_MAX (all of them if none is)
        "iter_steal": run.iter_steal,
        "quiet_iterations": len(run.quiet_iterations()),
        "ops": len(run.op_times),
        "failed_frac": failed / max(run.attempted, 1),
        "failures": run.failures,
        "missing_metrics": missing,
        "e2e": e2e,
        "layer_medians": {k: v for k, v in layer.items() if v is not None},
        # samples behind each per-layer median
        "layer_samples": {k: len(v) for k, v in run.layer.items()},
        "driver_rss_peak_mb": layer["driver_rss_peak_mb"],
        **run.info,
    }
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    if args.trace:
        tracer.dump(os.path.join(out_dir, name), finite({"record": record, "layers": layer}))
    else:
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(finite(record), f, indent=1, allow_nan=False)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(finite({k: v for k, v in record.items() if k != "failures"}
                            | {"failures": [f["op"] + ": " + f["error"] for f in run.failures]}),
                     allow_nan=False))
    result = {
        "correct": failed == 0 and not missing,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(finite(result), allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
