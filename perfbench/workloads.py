"""The benchmark workloads and the traced run's layer census.

Each workload is one closed-loop client in this process: it sends the
next operation only after the previous one returned. A run is

1. set-up: one pass on a fresh JVM, the same operations as an
   iteration. It pays code generation, JIT compilation and Python
   worker start-up. ``setup_s`` is its time, so a cost moved into a
   first call shows in it;
2. the measured loop: whole iterations until ``seconds`` have passed
   and three quiet ones are in (see ``STEAL_MAX``), or until
   ``LOOP_CAP`` times ``seconds`` have passed;
3. traced runs only: the layer census, then per-layer metrics.

Every operation's output is checked against numbers fixed before it
ran (planted counts, DuckDB oracle counts). An operation that raises or
returns a wrong result counts as failed and is named in the record.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

import yaml
from pyspark.sql import functions as F

import gen
from tracer import Tracer, read_event_log

from universal_importer_duckdb_spark import entry_queries
from universal_importer_duckdb_spark.caching import release_scoped
from universal_importer_duckdb_spark.config.loader import load_config, validate_config
from universal_importer_duckdb_spark.config.schema_compiler import compile_schema
from universal_importer_duckdb_spark.operators.dedup import dedupe_cascade
from universal_importer_duckdb_spark.operators.project import create_projections
from universal_importer_duckdb_spark.operators.rules import execute_custom_validations
from universal_importer_duckdb_spark.operators.validate import validate_dataframe
from universal_importer_duckdb_spark.plans.pipeline import run_pipeline
from universal_importer_duckdb_spark.session import get_spark
from universal_importer_duckdb_spark.sources.readers import (
    INGEST_ORD,
    read_csv_with_ingest_order,
)
from universal_importer_duckdb_spark.sources.writers import export_csv, save_errors

# Registry entries run by registry_batch, in this order.
MIX = (
    "pipeline_flagship",
    "docs_minhash_lsh_neardup",
    "docs_multisignal_admission",
)
# the loop runs whole iterations for ``seconds``, and at least three,
# so the median of a run is never that of one or two samples
MIN_ITERATIONS = 3
# An iteration during which the hypervisor gave more than this share of
# the host's CPU time to other guests (steal, in /proc/stat) is recorded
# but left out of the medians, and the loop runs on to replace it. On a
# shared 4-vCPU host, iterations with up to 3% steal repeated within
# 10%, while 4-22% steal made them up to three times slower.
STEAL_MAX = 0.03
# ... but the loop stops at LOOP_CAP x ``seconds`` whatever it has, so a
# host that stays loaded cannot stretch a run much; the medians then take
# every iteration when none was quiet
LOOP_CAP = 3
ENTITY = "employees"
# input sizes: (csv rows, lineitem rows, documents, embeddings)
SCALES = {"full": (10_000, 60_000, 500, 500), "tiny": (2_000, 6_000, 200, 200)}


def median(xs):
    return statistics.median(xs) if xs else None


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (steal is field 8)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    work: str
    scale: str
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failures: list = field(default_factory=list)
    setup_s: float | None = None
    iter_times: list = field(default_factory=list)
    iter_steal: list = field(default_factory=list)
    op_times: list = field(default_factory=list)  # (seconds, steal)
    # per-layer samples: name -> list of values (median reported)
    layer: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)  # (iteration key, job group)
    info: dict = field(default_factory=dict)
    registry: dict = field(default_factory=dict)
    entry_groups: dict = field(default_factory=dict)  # entry -> [[group]]

    # ---- bookkeeping -------------------------------------------------
    def sample(self, name: str, value) -> None:
        self.layer.setdefault(name, []).append(value)

    def count(self, name: str, value: int) -> None:
        """A census row count, reported in the run record beside the
        stage times (it is checked, not measured)."""
        self.info.setdefault("census_counts", {})[name] = value

    def check(self, op: str, ok: bool, detail: str) -> None:
        """One checked operation: counts as attempted, and as failed
        when its output is wrong."""
        self.attempted += 1
        if not ok:
            self.failures.append({"op": op, "error": f"wrong output: {detail}"})

    def attempt(self, op: str, fn):
        """Run ``fn`` (which does its own ``check``); an exception is
        a failed operation, recorded with its type and message."""
        try:
            return fn()
        except Exception as e:  # every failure is counted and named
            self.attempted += 1
            self.failures.append(
                {
                    "op": op,
                    "error": f"{type(e).__name__}: {str(e)[:400]}",
                    "trace": traceback.format_exc(limit=6)[-1500:],
                }
            )
            return None

    def group(self, key: str, name: str) -> str | None:
        """A job-group id for one layer call (traced runs only)."""
        if not self.tracer.enabled:
            return None
        g = f"{key}:{name}"
        self.groups.append((key, g))
        return g

    def counts(self, group: str | None) -> dict[str, int]:
        if group is None:
            return {}
        return self.tracer.job_counts(group)

    def quiet(self, times: list, steal: list) -> list:
        """The samples taken with steal within STEAL_MAX, or all of
        them if there are none."""
        return [t for t, s in zip(times, steal) if s <= STEAL_MAX] or list(times)

    def quiet_iterations(self) -> list:
        return self.quiet(self.iter_times, self.iter_steal)

    def quiet_ops(self) -> list:
        return self.quiet(*zip(*self.op_times)) if self.op_times else []

    def end_iteration(self, key: str, seconds: float, steal: float) -> None:
        self.iter_times.append(seconds)
        self.iter_steal.append(steal)
        if self.tracer.enabled:
            tot = {"jobs": 0, "stages": 0, "tasks": 0}
            for k, g in self.groups:
                if k == key:
                    for m, v in self.counts(g).items():
                        tot[m] += v
            for m, v in tot.items():
                self.sample(f"iter.{m}", v)


def measure(run: Run, body) -> None:
    """The measured loop. ``body(key)`` runs one iteration and returns
    its time (None when an operation failed) and its operations'
    times."""
    t0 = time.perf_counter()
    k = 0
    while True:
        elapsed = time.perf_counter() - t0
        quiet = sum(s <= STEAL_MAX for s in run.iter_steal)
        if k >= MIN_ITERATIONS and (
            elapsed >= LOOP_CAP * run.seconds
            or (elapsed >= run.seconds and quiet >= MIN_ITERATIONS)
        ):
            break
        key = f"it{k}"
        j0 = cpu_jiffies()
        dt, ops = body(key)
        steal = steal_share(j0, cpu_jiffies())
        if dt is not None:
            run.end_iteration(key, dt, steal)
        run.op_times += [(t, steal) for t in ops]
        k += 1


def _layered(key: str) -> bool:
    """Per-layer samples come from the measured loop and the census,
    never from set-up or a warm-up call."""
    return key.startswith("it") or key == "census"


# ---------------------------------------------------------------------
# import_pipeline
# ---------------------------------------------------------------------


class ImportInputs:
    """One generated employees CSV; each import reads a fresh copy of
    it under a new path, so no operation can reuse another's read."""

    def __init__(self, run: Run, rows: int):
        self.dir = os.path.join(run.work, "import")
        os.makedirs(self.dir, exist_ok=True)
        self.csv = os.path.join(self.dir, "employees.csv")
        self.planted = gen.write_employees_csv(self.csv, rows, run.seed)
        self.csv_bytes = os.path.getsize(self.csv)
        self.n = 0
        run.info["csv_rows"] = rows
        run.info["csv_bytes"] = self.csv_bytes
        run.info["planted"] = vars(self.planted) | {"valid": self.planted.valid}

    def fresh(self) -> tuple[str, str, str]:
        """(config yaml, csv, output dir) for the next import."""
        self.n += 1
        src = os.path.join(self.dir, f"employees_{self.n}.csv")
        shutil.copyfile(self.csv, src)
        cfg = os.path.join(self.dir, f"config_{self.n}.yaml")
        with open(cfg, "w") as f:
            yaml.safe_dump(gen.employees_config(src), f)
        return cfg, src, os.path.join(self.dir, f"out_{self.n}")


def _check_import(run: Run, op: str, inputs: ImportInputs, summary, out: str) -> None:
    p = inputs.planted
    got = (
        summary.total_records,
        summary.schema_errors,
        summary.duplicates_removed,
        summary.custom_validation_errors,
        summary.valid_records,
    )
    want = (p.total, p.schema_errors, p.duplicates, p.under_age, p.valid)
    run.check(op, got == want, f"summary {got} != planted {want}")
    for proj in gen.PROJECTIONS:
        name = proj["name"]
        rows = gen.count_csv_rows(os.path.join(out, "exports", f"{name}.csv"))
        n = summary.projection_counts.get(name)
        run.check(
            f"{op}:{name}.csv",
            rows == n == p.valid,
            f"exported {rows} rows, projection count {n}, planted valid {p.valid}",
        )


def import_op(run: Run, inputs: ImportInputs, key: str) -> float:
    """One import: load the config, run the pipeline with export, then
    release its fan-out caches as the CLI does. Returns its time."""
    cfg_path, src, out = inputs.fresh()
    g = run.group(key, "import")
    with run.tracer.span("plans.pipeline.run_pipeline", g) as sp:
        cfg = load_config(cfg_path)
        result = run_pipeline(run.spark, cfg, ENTITY, today=gen.TODAY, output_dir=out)
        frames = release_scoped(run.spark)
    dt = sp["end"] - sp["start"]
    if key.startswith("it"):
        run.sample("caching.scoped_frames", frames)
    if g and _layered(key):
        for k, v in run.counts(g).items():
            run.sample(f"plans.pipeline.{k}", v)
    _check_import(run, key, inputs, result.summary, out)
    shutil.rmtree(out, ignore_errors=True)
    os.remove(src)
    return dt


def import_pipeline(run: Run) -> None:
    rows = SCALES[run.scale][0]
    inputs = ImportInputs(run, rows)
    _start_spark(run)
    t0 = time.perf_counter()
    run.attempt("setup:import", lambda: import_op(run, inputs, "setup"))
    run.setup_s = time.perf_counter() - t0

    def body(key):
        dt = run.attempt(f"{key}:import", lambda: import_op(run, inputs, key))
        return dt, [] if dt is None else [dt]

    measure(run, body)
    it = run.quiet_iterations()
    run.info["rows_per_s"] = rows / median(it) if it else None
    if run.tracer.enabled:
        import_census(run, inputs)
        registry_census(run)


# ---------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------


class RegistryInputs:
    """Generated registry tables and their DuckDB oracle row counts.

    The oracle counts run in a thread while the Spark session starts
    (DuckDB releases the interpreter lock), outside every timed
    region."""

    def __init__(self, run: Run):
        _, lineitems, docs, vecs = SCALES[run.scale]
        self.base = os.path.join(run.work, "registry")
        gen.write_registry_tables(self.base, lineitems, docs, vecs, run.seed)
        run.info["registry_rows"] = {"lineitem": lineitems, "documents": docs, "embeddings": vecs}
        self.oracle: dict[str, int] = {}
        self._err: list = []
        self._thread = threading.Thread(target=self._count, daemon=True)
        self._thread.start()

    def _count(self) -> None:
        import duckdb

        try:
            con = duckdb.connect()
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for f in os.listdir(self.base):
                t = f.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.base}/{f}')"
                )
            sql = entry_queries.oracle_sql()
            for name in MIX:
                if name in sql:
                    q = f"SELECT count(*) FROM ({sql[name]})"
                    self.oracle[name] = con.execute(q).fetchone()[0]
            con.close()
        except Exception as e:  # surfaced by wait()
            self._err.append(e)

    def wait(self) -> None:
        self._thread.join()
        if self._err:
            raise self._err[0]


def _count_check(run: Run, op: str, name: str, n: int, inputs: RegistryInputs, seen: dict):
    want = inputs.oracle.get(name)
    if want is None:  # no oracle: the count must not change between calls
        want = seen.setdefault(name, n)
    run.check(op, n == want, f"{name} returned {n} rows, expected {want}")


def _exec_counted(df):
    """Run ``df`` once through a noop sink; its row count rides the
    same action through an observation."""
    from pyspark.sql import Observation

    obs = Observation()
    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


def cold_op(run: Run, inputs, d: str, name: str, key: str, seen: dict) -> float:
    """One-shot entry: unwrapped builder (no prepared plan), noop
    write, then release of its scoped caches and ``clearCache``."""
    builder = run.registry[name].__wrapped__
    g_build, g_exec = run.group(key, f"{name}:build"), run.group(key, f"{name}:exec")
    with run.tracer.span(f"registry.{name}", None) as sp:
        with run.tracer.span(f"registry.{name}.build", g_build) as b:
            df = builder(run.spark, d)
        with run.tracer.span(f"registry.{name}.exec", g_exec) as e:
            n = _exec_counted(df)
        frames = release_scoped(run.spark)
        run.spark.catalog.clearCache()
    if _layered(key):
        run.sample(f"registry.{name}.build_s", b["end"] - b["start"])
        run.sample(f"registry.{name}.exec_s", e["end"] - e["start"])
        _entry_counts(run, name, g_build, g_exec)
    if key.startswith("it"):
        run.sample("caching.scoped_frames", frames)
    _count_check(run, f"{key}:{name}", name, n, inputs, seen)
    return sp["end"] - sp["start"]


def _entry_counts(run: Run, name: str, *groups) -> None:
    if run.tracer.enabled:
        jobs = sum(run.counts(g).get("jobs", 0) for g in groups if g)
        run.sample(f"registry.{name}.jobs", jobs)
        run.entry_groups.setdefault(name, []).append([g for g in groups if g])


def _registry_loop(run: Run, inputs, d: str, seen: dict) -> None:
    def body(key):
        it0 = time.perf_counter()
        ops = []
        for name in MIX:
            dt = run.attempt(f"{key}:{name}", lambda: cold_op(run, inputs, d, name, key, seen))
            if dt is not None:
                ops.append(dt)
        ok = len(ops) == len(MIX)
        return (time.perf_counter() - it0 if ok else None), ops

    measure(run, body)


def registry_batch(run: Run) -> None:
    inputs = RegistryInputs(run)
    run.info["mix"] = list(MIX)
    _start_spark(run)
    inputs.wait()
    run.info["oracle_rows"] = dict(inputs.oracle)
    seen: dict = {}
    d = inputs.base
    t0 = time.perf_counter()
    for name in MIX:
        run.attempt(f"setup:{name}", lambda: cold_op(run, inputs, d, name, "setup", seen))
    run.setup_s = time.perf_counter() - t0
    _registry_loop(run, inputs, d, seen)
    if run.tracer.enabled:
        plancache_probe(run, d)
        import_census(run, ImportInputs(run, SCALES[run.scale][0]))


# ---------------------------------------------------------------------
# traced-run census
# ---------------------------------------------------------------------


def registry_census(run: Run) -> None:
    """Registry layers for a workload that does not run the registry:
    per entry, one unsampled warm-up call (the entry's first in this
    JVM) and one sampled call; then the plan-cache probe."""
    inputs = RegistryInputs(run)
    inputs.wait()
    seen: dict = {}
    for key in ("warmup", "census"):
        for name in MIX:
            run.attempt(f"{key}:{name}",
                        lambda: cold_op(run, inputs, inputs.base, name, key, seen))
    plancache_probe(run, inputs.base)


def plancache_probe(run: Run, d: str) -> None:
    """``plancache.hit_s``: build each prepared plan once, then time a
    second call, which the plan cache answers."""
    for name in MIX:
        def one(name=name):
            run.registry[name](run.spark, d)
            with run.tracer.span("plancache.call", None) as h:
                run.registry[name](run.spark, d)
            run.sample("plancache.hit_s", h["end"] - h["start"])

        run.attempt(f"census:plancache:{name}", one)
    release_scoped(run.spark)
    run.spark.catalog.clearCache()


def import_census(run: Run, inputs: ImportInputs) -> None:
    """Force each import stage once through its public function.

    Each stage reads its input from a checkpoint of the previous
    stage's output (made untimed), so a stage's time is its own; its
    reject or removed count is checked against the planted counts.

    A workload that does not import first runs one full import, which
    gives the pipeline's jobs, stages, tasks and source reads (counts,
    the same on a first import as on a later one) and leaves no stage
    to be timed on its first call in this JVM."""
    if run.workload != "import_pipeline":
        run.attempt("census:pipeline", lambda: import_op(run, inputs, "census"))
    run.attempt("census:import", lambda: _import_stages(run, inputs))
    run.attempt("census:plan", lambda: _plan_probe(run, inputs))


def _timed(run: Run, metric: str, name: str, fn):
    g = run.group("census", name)
    with run.tracer.span(name, g) as sp:
        out = fn()
    run.sample(metric, sp["end"] - sp["start"])
    return out


def _import_stages(run: Run, inputs: ImportInputs) -> None:
    spark, p = run.spark, inputs.planted
    cfg_path, src, out = inputs.fresh()

    def compile_():
        details = validate_config(load_config(cfg_path), ENTITY)
        fields = details["validations"]["schema"]["fields"]
        return details, compile_schema(fields)

    details, schema = _timed(run, "config.compile_s", "config.compile", compile_)

    raw = read_csv_with_ingest_order(spark, src)
    _timed(run, "sources.readers.read_s", "sources.readers.read", lambda: _noop(raw))
    raw = raw.localCheckpoint(eager=True)
    run.count("sources.readers.rows", raw.count())

    valid, errors = validate_dataframe(raw, schema, ingest_ord=INGEST_ORD)
    _timed(run, "operators.validate.validate_s", "operators.validate",
           lambda: (_noop(valid), _noop(errors)))
    valid = valid.localCheckpoint(eager=True)
    errors = errors.localCheckpoint(eager=True)
    n = errors.count()
    run.count("operators.validate.rejects", n)
    run.check("census:validate", n == p.schema_errors, f"{n} rejects, planted {p.schema_errors}")

    keys = details["settings"]["unique_composite"]
    kept, dups = dedupe_cascade(valid, keys, "last", [INGEST_ORD])
    _timed(run, "operators.dedup.dedup_s", "operators.dedup",
           lambda: (_noop(kept), _noop(dups)))
    kept = kept.localCheckpoint(eager=True)
    dups = dups.localCheckpoint(eager=True)
    n = dups.count()
    run.count("operators.dedup.removed", n)
    run.check("census:dedup", n == p.duplicates, f"{n} removed, planted {p.duplicates}")

    rules = details["validations"]["custom"]["rules"]
    ruled, issues = execute_custom_validations(kept, rules, mode="skip", today=gen.TODAY)
    _timed(run, "operators.rules.rules_s", "operators.rules",
           lambda: [_noop(ruled)] + [_noop(i["invalid"]) for i in issues])
    ruled = ruled.localCheckpoint(eager=True)
    invalid = [i["invalid"].localCheckpoint(eager=True) for i in issues]
    n = sum(i.count() for i in invalid)
    run.count("operators.rules.rejects", n)
    run.check("census:rules", n == p.under_age, f"{n} rejects, planted {p.under_age}")

    stage = ruled.drop(INGEST_ORD)
    projections = _timed(
        run, "operators.project.project_s", "operators.project",
        lambda: _project(spark, stage, details, schema),
    )
    n = sum(df.count() for df in projections.values())
    run.count("operators.project.rows", n)
    run.check("census:project", n == 2 * p.valid, f"{n} projected rows, planted 2 x {p.valid}")

    _timed(run, "sources.writers.export_s", "sources.writers.export",
           lambda: export_csv(projections, out))

    def errors_():
        save_errors(ENTITY, "schema_validation", errors, out)
        save_errors(ENTITY, "duplicates", dups.drop(INGEST_ORD), out)
        for i, df in zip(issues, invalid):
            save_errors(ENTITY, f"custom_{i['field']}", df.drop(INGEST_ORD), out)

    _timed(run, "sources.writers.errors_s", "sources.writers.errors", errors_)
    run.sample("sources.writers.bytes_written", _dir_bytes(out))
    release_scoped(spark)
    shutil.rmtree(out, ignore_errors=True)
    os.remove(src)


def _project(spark, stage, details, schema):
    projections = create_projections(
        spark, ENTITY, stage, details["projections"], schema.columns
    )
    for df in projections.values():
        _noop(df)
    return projections


def _plan_probe(run: Run, inputs: ImportInputs) -> None:
    """``plans.pipeline.plan_s``: declaring the whole lineage with no
    summary and no output."""
    cfg_path, src, _ = inputs.fresh()
    cfg = load_config(cfg_path)
    _timed(run, "plans.pipeline.plan_s", "plans.pipeline.plan",
           lambda: run_pipeline(run.spark, cfg, ENTITY, today=gen.TODAY, compute_summary=False))
    os.remove(src)


# ---------------------------------------------------------------------
# session and results
# ---------------------------------------------------------------------


def _start_spark(run: Run) -> None:
    t0 = time.perf_counter()
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    run.spark = get_spark(master=f"local[{n}]")
    run.spark.sparkContext.setLogLevel("ERROR")
    run.tracer.bind(run.spark)
    run.registry = entry_queries.queries()
    run.info["spark_start_s"] = time.perf_counter() - t0
    run.info["spark_version"] = run.spark.version


def execute(run: Run) -> None:
    {"import_pipeline": import_pipeline, "registry_batch": registry_batch}[run.workload](run)


def event_log_layers(run: Run, log_dir: str) -> None:
    """Per-iteration Spark counters and per-entry shuffle/spill from
    the event log (read after the session stopped)."""
    per_group = read_event_log(log_dir)
    per_iter: dict[str, dict[str, float]] = {}
    for key, g in run.groups:
        if key.startswith("it"):
            acc = per_iter.setdefault(key, {})
            for m, v in per_group.get(g, {}).items():
                acc[m] = acc.get(m, 0.0) + v
    for key in sorted(per_iter):
        m = per_iter[key]
        run.sample("spark.executor_run_s", m.get("executor_run_ms", 0.0) / 1000)
        run.sample("spark.input_bytes", m.get("input_bytes", 0.0))
        run.sample("spark.shuffle_write_bytes", m.get("shuffle_write_bytes", 0.0))
        run.sample("spark.spill_bytes", m.get("spill_bytes", 0.0))
    for name, calls in run.entry_groups.items():
        for groups in calls:
            tot: dict[str, float] = {}
            for g in groups:
                for m, v in per_group.get(g, {}).items():
                    tot[m] = tot.get(m, 0.0) + v
            run.sample(f"registry.{name}.shuffle_write_bytes", tot.get("shuffle_write_bytes", 0.0))
            run.sample(f"registry.{name}.spill_bytes", tot.get("spill_bytes", 0.0))
    read = [
        per_group.get(g, {}).get("input_bytes", 0.0)
        for key, g in run.groups
        if g.endswith(":import") and (key.startswith("it") or key == "census")
    ]
    if read and "csv_bytes" in run.info:
        run.sample("plans.pipeline.source_reads", median(read) / run.info["csv_bytes"])
