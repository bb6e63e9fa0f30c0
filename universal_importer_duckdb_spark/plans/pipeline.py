"""The 7-stage pipeline as pure DataFrame lineage (reference
``main`` driver, main.py:401-505).

Stages: read → schema-validate → (stop gate) → dedup cascade → custom
rules → projections → export → summary.

The counted run (``compute_summary=True``, the CLI's path) is one
pass over one routed frame, like the reference's one stage table:
every source row is validated, ranked once per dedup key and given a
``_sink`` — ``schema_validation``, ``duplicates``, ``custom_<field>``
(the first rule it fails, in config order) or ``kept``. That frame is
cached once; a single ``groupBy("_sink", <partition>)`` aggregate
fills the cache and returns every summary number (plus the
per-partition sizes that turn the read-time row id into the dense
1-based error ``row``), and each output — the stage, the projections,
each error file — is a filter of the cache. The uncounted run
(``compute_summary=False``) declares the same routed frame, uncached,
and returns its sink filters without running an action; Catalyst
pushes each filter down the lineage (the validation filter below the
dedup exchange, ``WindowGroupLimit`` on each key), so the stage plan
is the one the stage-by-stage operator chain would give.

Scale notes: validation is a narrow map (no shuffle); the only
shuffles are one per dedup composite key. Projections run through
Spark SQL on the staged view, so config queries get predicate
pushdown / column pruning / join strategies from Catalyst for free.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import errno
import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from universal_importer_duckdb_spark.caching import release_scoped, scoped_cache
from universal_importer_duckdb_spark.config.loader import load_config, validate_config
from universal_importer_duckdb_spark.config.schema_compiler import (
    CompiledSchema,
    compile_schema,
    quote_ident,
    sql_literal,
)
from universal_importer_duckdb_spark.operators.dedup import dedup_rank_sql
from universal_importer_duckdb_spark.operators.project import create_projections
from universal_importer_duckdb_spark.operators.rules import rule_failure, stop_message
from universal_importer_duckdb_spark.operators.summary import RunSummary
from universal_importer_duckdb_spark.operators.validate import (
    ERRORS_COL,
    FLAG_COL,
    ROW_COL,
    declared_frame,
    errors_sql,
    flag_sql,
    typed_columns_sql,
)
from universal_importer_duckdb_spark.sources.readers import INGEST_ORD
from universal_importer_duckdb_spark.sources.writers import export_csv, save_errors

SINK = "_sink"
KEPT = "kept"
SCHEMA_SINK = "schema_validation"
DUP_SINK = "duplicates"
# read-time row id of a frame without an ingest order:
# monotonically_increasing_id, i.e. (partition index << 33) + row index
# within the partition
_MID = "__mid"
_MSG = "__msg"


@dataclass
class PipelineResult:
    entity: str
    stage: DataFrame | None = None
    schema_errors: DataFrame | None = None
    duplicates: DataFrame | None = None
    custom_issues: list[dict[str, Any]] = field(default_factory=list)
    projections: dict[str, DataFrame] = field(default_factory=dict)
    summary: RunSummary | None = None
    # counted run: rows per _sink, from the routing aggregate
    sink_counts: dict[str, int] = field(default_factory=dict)


@dataclass
class _Spec:
    """One entity's config, parsed."""

    entity: str
    source: str
    schema: CompiledSchema
    rules: list[dict[str, Any]]
    keys: list[list[str]]
    resolution: str
    mode: str
    projections: list[dict[str, Any]]


def run_pipeline(
    spark: SparkSession,
    config: dict[str, Any],
    entity: str,
    source_df: DataFrame | None = None,
    today: str | None = None,
    output_dir: str | None = None,
    fillna: dict[str, Any] | None = None,
    strict_required: bool = False,
    order_cols: list[str] | None = None,
    compute_summary: bool = True,
) -> PipelineResult:
    """Run the full pipeline for ``entity``.

    ``source_df`` overrides the config ``source`` CSV. Its
    ``_ingest_ord`` column, if any, is the ingest order and the error
    ``row``; without one, its partition order is stamped with
    ``monotonically_increasing_id()``. ``order_cols`` orders dedup by
    those columns instead (error ``row`` is then NULL).

    ``compute_summary=True`` routes every row once (module docstring):
    one cached frame, one aggregate for the whole summary, then one
    write per output. Projection counts ride their export writes as
    ``Observation``s, or are counted when there is no ``output_dir``.
    ``result.sink_counts`` holds the aggregate's rows per sink.

    ``compute_summary=False`` returns the same routed frame's sink
    filters, uncached and uncounted, leaving ``result.summary`` None
    and ``result.sink_counts`` empty. It runs no Spark job over a
    caller's ``source_df``; reading the config CSV costs one job, the
    header read. Without a count there are no per-partition offsets,
    so the error ``row`` is ``_ingest_ord`` when the source has one,
    else NULL. Writing files and stop mode need the counts: stop mode
    takes the counted run whatever ``compute_summary`` says, and
    ``output_dir`` with ``compute_summary=False`` raises
    ``ValueError``, as does any value but ``True`` or ``False``.
    """
    if not isinstance(compute_summary, bool):
        raise ValueError(f"compute_summary must be True or False, not {compute_summary!r}")
    if output_dir and not compute_summary:
        raise ValueError("output_dir needs compute_summary=True: empty sinks write no file")
    details = validate_config(config, entity)
    settings = details.get("settings", {})
    validations = details.get("validations", {})
    spec = _Spec(
        entity=entity,
        source=details["source"],
        schema=compile_schema(
            validations.get("schema", {}).get("fields", {}), strict_required=strict_required
        ),
        rules=validations.get("custom", {}).get("rules", []),
        keys=settings.get("unique_composite", []) or [],
        resolution=settings.get("duplicate_resolution", "first"),
        mode=settings.get("custom_validation_mode", "skip"),
        projections=details.get("projections", []),
    )
    today = today or _dt.date.today().isoformat()
    return _run_routed(
        spark, spec, source_df, today, output_dir, fillna, order_cols,
        count=compute_summary or spec.mode == "stop",
    )


def _check_order_cols(spec: _Spec, order_cols: list[str] | None, columns: list[str]) -> None:
    """Caller-named ordering columns must exist — never silently skip
    dedup (a data-correctness trap)."""
    missing = [c for c in order_cols or [] if c not in columns]
    if spec.keys and missing:
        raise ValueError(
            f"unique_composite dedup for '{spec.entity}' needs order columns "
            f"{missing} that are absent from the frame"
        )


def _run_routed(
    spark: SparkSession,
    spec: _Spec,
    source_df: DataFrame | None,
    today: str,
    output_dir: str | None,
    fillna: dict[str, Any] | None,
    order_cols: list[str] | None,
    count: bool,
) -> PipelineResult:
    schema, cols = spec.schema, spec.schema.columns
    if source_df is None:
        try:
            source_df = spark.read.option("header", True).option("inferSchema", False).csv(
                spec.source
            )
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            raise FileNotFoundError(
                errno.ENOENT, os.strerror(errno.ENOENT), spec.source
            ) from None
    keep = [INGEST_ORD] if INGEST_ORD in source_df.columns else []
    _check_order_cols(spec, order_cols, cols + keep)
    if order_cols:
        order = order_cols
    elif keep:
        order = keep
    else:
        # file order, stamped JVM-side at the scan; the dense ordinal
        # comes from the routing aggregate, so no offsets job is needed
        source_df = source_df.selectExpr("*", f"monotonically_increasing_id() AS {_MID}")
        keep = order = [_MID]

    flagged = declared_frame(source_df, schema, fillna, keep).selectExpr(
        "*", f"{flag_sql(schema)} AS {FLAG_COL}"
    )
    # raw values and the message are only read on schema-error rows
    ranked = flagged.selectExpr(
        *[
            f"CASE WHEN {FLAG_COL} THEN {quote_ident(c)} END AS __raw{i}"
            for i, c in enumerate(cols)
        ],
        *typed_columns_sql(schema),
        f"CASE WHEN {FLAG_COL} THEN {errors_sql(schema)} END AS {_MSG}",
        *[quote_ident(k) for k in keep],
        f"NOT {FLAG_COL} AS __sc0",
    )
    # __sc{i}: the rows key i ranks, i.e. the valid rows every earlier
    # key kept. A named column, because Catalyst pushes a filter below
    # a window only when every PARTITION BY item is a plain column.
    for i, keys in enumerate(spec.keys):
        rank = dedup_rank_sql(keys, spec.resolution, order, scope=f"__sc{i}")
        ranked = ranked.selectExpr("*", f"{rank} AS __rk{i}").selectExpr(
            "*", f"__sc{i} AND __rk{i} = 1 AS __sc{i + 1}"
        )
    kept_scope = f"__sc{len(spec.keys)}"

    sink = F.when(~F.col("__sc0"), SCHEMA_SINK)
    if spec.keys:
        sink = sink.when(~F.col(kept_scope), DUP_SINK)
    # rules sharing a field share its sink (and its error file)
    issues: list[dict[str, Any]] = []
    for rule in spec.rules:
        fail = rule_failure(rule, today)
        issue = {"field": rule.get("field"), "validation": rule.get("validation"),
                 "params": rule.get("params", {}), "invalid": None, "skipped": fail is None}
        if fail is not None:
            issue["sink"] = f"custom_{rule.get('field')}"
            sink = sink.when(fail, issue["sink"])
        issues.append(issue)
    # kept_scope stays: the rows every key kept, the only ones that
    # reach the stage or a rule's sink
    n_keys = len(spec.keys)
    routed = ranked.withColumn(SINK, sink.otherwise(KEPT)).drop(
        *[f"__sc{i}" for i in range(n_keys)], *[f"__rk{i}" for i in range(n_keys)]
    )

    aggs = []
    if count:
        # THE action: fills the cache and counts every sink, per partition
        routed = scoped_cache(routed)
        by = [F.col(SINK)]
        if keep == [_MID]:
            by.append(F.expr(f"shiftright({_MID}, 33)").alias("pid"))
        aggs = routed.groupBy(*by).agg(
            F.expr("count(1)").alias("n"),
            *([F.expr(f"min({_MID})").alias("lo")] if keep == [_MID] else []),
        ).collect()
    counts: dict[str, int] = {}
    for r in aggs:
        counts[r[SINK]] = counts.get(r[SINK], 0) + r["n"]

    result = PipelineResult(entity=spec.entity, sink_counts=counts, custom_issues=issues)
    # the reference reuses custom_validation_mode for the schema-error
    # gate too (main.py:435-439, a conflation kept for parity)
    if spec.mode == "stop":
        failed = [(SCHEMA_SINK, None)] + [(i["sink"], i) for i in issues if not i["skipped"]]
        for name, issue in failed:
            n = counts.get(name, 0)
            if n:
                routed.unpersist()
                if issue is None:
                    raise ValueError(
                        f"Schema validation failed for {n} rows in '{spec.entity}'"
                    )
                raise ValueError(stop_message(issue, n))

    def sink_rows(name: str) -> DataFrame:
        # naming the scope of the stage and rule sinks lets Catalyst push
        # their filter down the cascade: WindowGroupLimit on each key,
        # the validation filter below the first exchange
        scope = "" if name in (SCHEMA_SINK, DUP_SINK) else f"{kept_scope} AND "
        return routed.filter(f"{scope}{SINK} = {sql_literal(name)}")

    typed_q = [quote_ident(c) for c in cols]
    if INGEST_ORD in keep:
        row = f"CAST({quote_ident(INGEST_ORD)} AS bigint)"
    elif keep == [_MID] and count:
        row = _dense_ordinal(aggs)
    else:
        row = "CAST(NULL AS bigint)"
    result.schema_errors = sink_rows(SCHEMA_SINK).selectExpr(
        *[f"__raw{i} AS {quote_ident(c)}" for i, c in enumerate(cols)],
        f"{row} AS {ROW_COL}",
        f"{_MSG} AS {ERRORS_COL}",
    )
    result.duplicates = sink_rows(DUP_SINK).selectExpr(*typed_q)
    for issue in issues:
        if not issue["skipped"]:
            issue["invalid"] = sink_rows(issue["sink"]).selectExpr(*typed_q)
    result.stage = sink_rows(KEPT).selectExpr(*typed_q)
    result.stage.createOrReplaceTempView(f"{spec.entity}_stage")
    result.projections = create_projections(
        spark, spec.entity, result.stage, spec.projections, cols
    )
    if not count:
        return result

    result.summary = summary = RunSummary(
        entity=spec.entity,
        total_records=sum(counts.values()),
        valid_records=counts.get(KEPT, 0),
        schema_errors=counts.get(SCHEMA_SINK, 0),
        custom_validation_errors=sum(
            n for s, n in counts.items() if s not in (KEPT, SCHEMA_SINK, DUP_SINK)
        ),
        duplicates_removed=counts.get(DUP_SINK, 0),
    )
    if not output_dir:
        summary.projection_counts = {n: df.count() for n, df in result.projections.items()}
        return result
    observed = {name: Observation() for name in result.projections}
    export_csv(
        {
            name: df.observe(observed[name], F.expr("count(1)").alias("n"))
            for name, df in result.projections.items()
        },
        output_dir,
    )
    summary.projection_counts = {name: ob.get["n"] for name, ob in observed.items()}
    # empty sinks write no file (the reference writes nothing then);
    # the schema-error file keeps file order, as the reference's does
    if counts.get(SCHEMA_SINK):
        ordered = result.schema_errors.coalesce(1).sortWithinPartitions(ROW_COL)
        save_errors(spec.entity, SCHEMA_SINK, ordered, output_dir)
    if counts.get(DUP_SINK):
        save_errors(spec.entity, DUP_SINK, result.duplicates, output_dir)
    for issue in issues:
        if not issue["skipped"] and counts.get(issue["sink"]):
            save_errors(spec.entity, issue["sink"], issue["invalid"], output_dir)
    return result


def _dense_ordinal(aggs: list) -> str:
    """SQL for the dense 1-based file-order ordinal of a row stamped
    with ``_MID``, from the aggregate's per-partition (count, min id):
    ``id + offset[id >> 33]`` through a literal map, so neither an
    offsets job nor a join is needed."""
    parts: dict[int, list[int]] = {}
    for r in aggs:
        p = parts.setdefault(r["pid"], [0, r["lo"]])
        p[0] += r["n"]
        p[1] = min(p[1], r["lo"])
    offsets, before = [], 0
    for pid in sorted(parts):
        n, lo = parts[pid]
        offsets.append((pid, before - lo + 1))
        before += n
    if len(offsets) == 1:
        return f"({_MID} + {offsets[0][1]})"
    pairs = ", ".join(f"{pid}, {off}" for pid, off in offsets)
    return f"({_MID} + element_at(map({pairs}), shiftright({_MID}, 33)))"


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference (main.py:402-406):
    ``python -m universal_importer_duckdb_spark.plans.pipeline <entity>
    [--config config.yaml] [--output_dir output]``.

    Besides the exports and error files it writes
    ``<output_dir>/run.json`` (strict JSON): the summary fields, rows
    per sink from the routing aggregate, wall time, Spark version and
    ``config_sha256``, the SHA-256 of the entity's config as canonical
    JSON (sorted keys; YAML dates as ISO strings).

    Errors print one line, as the reference's do, and exit with a code
    per kind (``sysexits.h``): a missing config or source file
    ``EX_NOINPUT`` (66), a missing config key ``EX_CONFIG`` (78), a
    ``ValueError`` (a stop-mode validation failure or a bad setting)
    ``EX_DATAERR`` (65)."""
    from universal_importer_duckdb_spark.session import get_spark

    parser = argparse.ArgumentParser(description="Run the import pipeline for an entity")
    parser.add_argument("entity")
    parser.add_argument("--config", default="config.yaml")
    parser.add_argument("--output_dir", default="output")
    args = parser.parse_args(argv)

    # typed error handling mirroring the reference's except blocks
    # (reference main.py:496-505: print and exit, no traceback)
    try:
        spark = get_spark(app_name=f"pipeline-{args.entity}")
        t0 = time.perf_counter()
        config = load_config(args.config)
        result = run_pipeline(spark, config, args.entity, output_dir=args.output_dir)
        wall_s = time.perf_counter() - t0
    except FileNotFoundError as e:
        print(f"File not found: {e}")
        return os.EX_NOINPUT
    except KeyError as e:
        print(f"Configuration error: {e}")
        return os.EX_CONFIG
    except ValueError as e:
        print(f"Validation error: {e}")
        return os.EX_DATAERR
    print(result.summary.report())
    record = asdict(result.summary) | {
        "sink_counts": result.sink_counts,
        "wall_s": round(wall_s, 3),
        "spark_version": spark.version,
        "config_sha256": hashlib.sha256(
            json.dumps(
                config["transformations_config"][args.entity], sort_keys=True, default=str
            ).encode()
        ).hexdigest(),
    }
    os.makedirs(args.output_dir, exist_ok=True)
    with open(os.path.join(args.output_dir, "run.json"), "w") as f:
        json.dump(record, f, indent=2, allow_nan=False)
    # CLI is the terminal consumer: release the run's cache so
    # repeated invocations in one long-lived session don't accumulate
    release_scoped(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
