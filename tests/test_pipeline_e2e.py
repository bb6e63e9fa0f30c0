"""Golden end-to-end: reproduces the reference's documented example run
shape (readme.md:206-216): 12 total / 10 valid / 2 schema errors /
1 custom error / 2 duplicates removed — on our own synthetic fixture."""

from __future__ import annotations

import os

import pytest

CONFIG = {
    "transformations_config": {
        "employees": {
            "source": "SET_AT_RUNTIME",
            "settings": {
                "duplicate_resolution": "last",
                "custom_validation_mode": "skip",
                "unique_composite": [["employee_id", "company_id"]],
            },
            "projections": [
                {
                    "name": "personal_data",
                    "type": "table",
                    "query": "SELECT employee_id, company_id, first_name, email FROM employees",
                },
                {
                    "name": "contract_data",
                    "type": "view",
                    "query": "SELECT employee_id, salary_amount FROM employees",
                    "aliases": {"employee_id": "emp_id"},
                },
            ],
            "validations": {
                "schema": {
                    "fields": {
                        "company_id": {"type": "int", "required": True},
                        "employee_id": {"type": "int", "required": True},
                        "first_name": {"type": "str", "required": True},
                        "email": {
                            "type": "str",
                            "required": True,
                            "pattern": "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$",
                        },
                        "birthday_on": {
                            "type": "str",
                            "required": True,
                            "pattern": "^\\d{4}-\\d{2}-\\d{2}$",
                        },
                        "salary_amount": {"type": "float"},
                    }
                },
                "custom": {
                    "rules": [
                        {
                            "field": "birthday_on",
                            "validation": "age_gte",
                            "params": {"min_age": 35},
                        }
                    ]
                },
            },
        }
    }
}

CSV = """company_id,employee_id,first_name,email,birthday_on,salary_amount,phone
101,1,Ana,ana@x.com,1980-01-01,50000,111
101,2,Bo,bo@x.com,1975-05-05,60000,222
101,3,Cy,cy-bad-email,1970-01-01,70000,333
101,4,Di,di@x.com,1999-12-31,40000,444
101,5,Ed,ed@x.com,1960-06-06,55000,555
102,6,Fi,fi@x.com,not-a-date,45000,666
101,7,Gus,gus@x.com,1985-03-03,65000,777
101,8,Hana,hana@x.com,1982-02-02,52000,888
101,9,Ivo,ivo@x.com,1978-08-08,58000,999
101,10,Jo,jo@x.com,1965-09-09,62000,000
101,1,Ana2,ana2@x.com,1980-01-02,51000,111
101,8,Hana2,hana2@x.com,1982-02-03,53000,888
"""


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("e2e")
    src = os.path.join(tmp, "employees.csv")
    with open(src, "w") as f:
        f.write(CSV)
    import copy

    cfg = copy.deepcopy(CONFIG)
    cfg["transformations_config"]["employees"]["source"] = src
    out_dir = os.path.join(tmp, "output")
    return (
        run_pipeline(
            spark, cfg, "employees", today="2026-08-13", output_dir=str(out_dir)
        ),
        str(out_dir),
    )


def test_summary_counts(pipeline_result):
    result, _ = pipeline_result
    s = result.summary
    # 12 total; rows 3 (bad email) + 6 (bad date) fail schema; dups on
    # (1,101) and (8,101) remove the *first*-ingested copies under
    # 'last'; row 4 (age 26) fails age_gte in skip mode.
    assert s.total_records == 12
    assert s.schema_errors == 2
    assert s.duplicates_removed == 2
    assert s.custom_validation_errors == 1
    assert s.valid_records == 7  # 12 - 2 schema - 2 dups - 1 custom


def test_last_resolution_kept_late_rows(pipeline_result):
    result, _ = pipeline_result
    names = {r.first_name for r in result.stage.collect()}
    assert "Ana2" in names and "Ana" not in names
    assert "Hana2" in names and "Hana" not in names


def test_projection_alias_applied(pipeline_result):
    result, _ = pipeline_result
    assert result.projections["contract_data"].columns == ["emp_id", "salary_amount"]


def test_undeclared_column_dropped(pipeline_result):
    result, _ = pipeline_result
    assert "phone" not in result.stage.columns


def test_export_files_written(pipeline_result):
    _, out_dir = pipeline_result
    assert os.path.exists(os.path.join(out_dir, "exports", "personal_data.csv"))
    assert os.path.exists(os.path.join(out_dir, "errors", "employees_schema_validation_errors.csv"))
    assert os.path.exists(os.path.join(out_dir, "errors", "employees_duplicates_errors.csv"))
    assert os.path.exists(os.path.join(out_dir, "errors", "employees_custom_birthday_on_errors.csv"))


def test_stop_mode_on_schema_errors_raises(spark, tmp_path):
    import copy

    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    src = tmp_path / "employees.csv"
    src.write_text(CSV)
    cfg = copy.deepcopy(CONFIG)
    ent = cfg["transformations_config"]["employees"]
    ent["source"] = str(src)
    ent["settings"]["custom_validation_mode"] = "stop"
    with pytest.raises(ValueError, match="Schema validation failed"):
        run_pipeline(spark, cfg, "employees", today="2026-08-13")


def test_caller_frame_without_ingest_ord_still_dedups(spark, tmp_path):
    """unique_composite configured + caller-supplied source_df with no
    _ingest_ord and no order_cols: an ingest order is derived so dedup
    ALWAYS runs (silently skipping it would leak duplicates into every
    projection — the reference always dedups), in the counted and the
    uncounted run alike."""
    import copy

    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline
    from universal_importer_duckdb_spark.sources.readers import (
        read_csv_with_ingest_order,
    )

    src = tmp_path / "employees.csv"
    src.write_text(CSV)
    # a frame WITHOUT the stamp (drop it after a normal read)
    df = read_csv_with_ingest_order(spark, str(src)).drop("_ingest_ord")
    cfg = copy.deepcopy(CONFIG)
    cfg["transformations_config"]["employees"]["source"] = str(src)
    result = run_pipeline(
        spark, cfg, "employees", source_df=df, today="2026-08-13"
    )
    assert result.summary.duplicates_removed == 2
    assert result.stage.count() == 7
    lazy = run_pipeline(
        spark, cfg, "employees", source_df=df, today="2026-08-13", compute_summary=False
    )
    assert lazy.stage.columns == result.stage.columns
    kept = sorted(lazy.stage.collect())
    assert kept == sorted(result.stage.collect())
    # 'last' resolution in file order: the later copies survive
    assert len(kept) == 7 and {"Ana2", "Hana2"} <= {r.first_name for r in kept}


def test_missing_explicit_order_cols_raise(spark, tmp_path):
    import copy

    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline
    from universal_importer_duckdb_spark.sources.readers import (
        read_csv_with_ingest_order,
    )

    src = tmp_path / "employees.csv"
    src.write_text(CSV)
    df = read_csv_with_ingest_order(spark, str(src)).drop("_ingest_ord")
    cfg = copy.deepcopy(CONFIG)
    cfg["transformations_config"]["employees"]["source"] = str(src)
    with pytest.raises(ValueError, match="order columns"):
        run_pipeline(
            spark, cfg, "employees", source_df=df,
            order_cols=["no_such_column"], today="2026-08-13",
        )


def _csv_rows(path: str) -> list[tuple[str, ...]]:
    import csv

    with open(path, newline="") as f:
        return [tuple(r) for r in csv.reader(f)]


def _outputs(out_dir: str) -> dict[str, list[tuple[str, ...]]]:
    """Every CSV the run wrote, by file name: header first, then the
    data rows as a sorted multiset."""
    found = {}
    for sub in ("exports", "errors"):
        d = os.path.join(out_dir, sub)
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            if name.endswith(".csv"):
                rows = _csv_rows(os.path.join(d, name))
                found[name] = [rows[0]] + sorted(rows[1:])
    return found


def _write_fixture(tmp_path, csv_text: str, **settings) -> dict:
    import copy

    src = tmp_path / "employees.csv"
    src.write_text(csv_text)
    cfg = copy.deepcopy(CONFIG)
    ent = cfg["transformations_config"]["employees"]
    ent["source"] = str(src)
    ent["settings"].update(settings)
    return cfg


def _operator_chain(spark, cfg: dict, out_dir: str, today: str = "2026-08-13"):
    """The stage-by-stage operator chain, the oracle of the routed run
    in skip mode: ``read_csv_with_ingest_order`` → ``validate_dataframe``
    → ``dedupe_cascade`` → ``execute_custom_validations`` →
    ``export_csv``/``save_errors``. Each stage returns ``(kept,
    rejected)``; rules on one field share that field's error file."""
    from universal_importer_duckdb_spark.config.loader import validate_config
    from universal_importer_duckdb_spark.config.schema_compiler import compile_schema
    from universal_importer_duckdb_spark.operators.dedup import dedupe_cascade
    from universal_importer_duckdb_spark.operators.project import create_projections
    from universal_importer_duckdb_spark.operators.rules import execute_custom_validations
    from universal_importer_duckdb_spark.operators.validate import validate_dataframe
    from universal_importer_duckdb_spark.plans.pipeline import PipelineResult
    from universal_importer_duckdb_spark.sources.readers import (
        INGEST_ORD,
        read_csv_with_ingest_order,
    )
    from universal_importer_duckdb_spark.sources.writers import export_csv, save_errors

    details = validate_config(cfg, "employees")
    settings, validations = details["settings"], details["validations"]
    schema = compile_schema(validations["schema"]["fields"])
    source = read_csv_with_ingest_order(spark, details["source"])
    valid, errors = validate_dataframe(source, schema, ingest_ord=INGEST_ORD)
    kept, dups = dedupe_cascade(
        valid, settings["unique_composite"], settings["duplicate_resolution"], INGEST_ORD
    )
    kept, issues = execute_custom_validations(
        kept, validations["custom"]["rules"], mode="skip", today=today
    )
    stage = kept.drop(INGEST_ORD)
    projections = create_projections(
        spark, "employees", stage, details["projections"], schema.columns
    )
    export_csv(projections, out_dir)
    save_errors("employees", "schema_validation", errors, out_dir)
    save_errors("employees", "duplicates", dups.drop(INGEST_ORD), out_dir)
    by_field = {}
    for issue in issues:
        if issue["invalid"] is not None:
            invalid = issue["invalid"].drop(INGEST_ORD)
            f = issue["field"]
            by_field[f] = by_field[f].unionByName(invalid) if f in by_field else invalid
    for f, invalid in by_field.items():
        save_errors("employees", f"custom_{f}", invalid, out_dir)
    return PipelineResult(
        entity="employees", stage=stage, schema_errors=errors,
        duplicates=dups.drop(INGEST_ORD), custom_issues=issues, projections=projections,
    )


def _multiset(df, drop=()):
    return sorted(df.drop(*drop).collect(), key=repr)


def _assert_uncounted_matches(spark, cfg: dict, counted) -> None:
    """The uncounted run (the same routed frame, uncached) returns the
    counted run's rows: stage, duplicates, schema errors (their ``row``
    is NULL without an ingest order) and each rule's invalid rows."""
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    lazy = run_pipeline(spark, cfg, "employees", today="2026-08-13", compute_summary=False)
    assert lazy.summary is None and lazy.sink_counts == {}
    assert _multiset(lazy.stage) == _multiset(counted.stage)
    assert _multiset(lazy.duplicates) == _multiset(counted.duplicates)
    assert _multiset(lazy.schema_errors, ["row"]) == _multiset(counted.schema_errors, ["row"])
    assert len(lazy.custom_issues) == len(counted.custom_issues)
    for got, want in zip(lazy.custom_issues, counted.custom_issues):
        assert _multiset(got["invalid"]) == _multiset(want["invalid"])


EMAIL_MSG = (
    "email: string should match pattern "
    "'^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$'"
)
DATE_MSG = "birthday_on: string should match pattern '^\\d{4}-\\d{2}-\\d{2}$'"


def test_output_files_row_multisets(pipeline_result):
    """All five files hold exactly the fixture's rows: kept rows in both
    projections, raw values + row + message for schema errors, typed
    values for the duplicates and the age_gte failure."""
    _, out_dir = pipeline_result
    kept = [("1", "Ana2", "ana2@x.com", "51000.0"), ("2", "Bo", "bo@x.com", "60000.0"),
            ("5", "Ed", "ed@x.com", "55000.0"), ("7", "Gus", "gus@x.com", "65000.0"),
            ("8", "Hana2", "hana2@x.com", "53000.0"), ("9", "Ivo", "ivo@x.com", "58000.0"),
            ("10", "Jo", "jo@x.com", "62000.0")]
    typed_cols = ("company_id", "employee_id", "first_name", "email", "birthday_on",
                  "salary_amount")
    assert _outputs(out_dir) == {
        "personal_data.csv": [("employee_id", "company_id", "first_name", "email")]
        + sorted((e, "101", n, m) for e, n, m, _ in kept),
        "contract_data.csv": [("emp_id", "salary_amount")]
        + sorted((e, s) for e, _, _, s in kept),
        "employees_schema_validation_errors.csv": [typed_cols + ("row", "errors")] + sorted([
            # Spark's CSV writer escapes a backslash inside a quoted value
            ("101", "3", "Cy", "cy-bad-email", "1970-01-01", "70000", "3",
             EMAIL_MSG.replace("\\", "\\\\")),
            ("102", "6", "Fi", "fi@x.com", "not-a-date", "45000", "6", DATE_MSG),
        ]),
        "employees_duplicates_errors.csv": [typed_cols] + sorted([
            ("101", "1", "Ana", "ana@x.com", "1980-01-01", "50000.0"),
            ("101", "8", "Hana", "hana@x.com", "1982-02-02", "52000.0"),
        ]),
        "employees_custom_birthday_on_errors.csv": [typed_cols]
        + [("101", "4", "Di", "di@x.com", "1999-12-31", "40000.0")],
    }
    # the schema-error file is in file order: row is the 1-based line
    rows = _csv_rows(os.path.join(out_dir, "errors", "employees_schema_validation_errors.csv"))
    assert [r[6] for r in rows[1:]] == ["3", "6"]


# born in the 1980s or later fails; of those, Di (1999) fails age_gte first
BORN_BEFORE_1980 = {"field": "birthday_on", "validation": "regex_match",
                    "params": {"pattern": "^19[0-7]"}}


@pytest.mark.parametrize(
    "settings, extra_rules, expected",
    [
        ({}, [], (12, 7, 2, 2, 1)),
        ({"duplicate_resolution": "first"}, [], (12, 7, 2, 2, 1)),
        ({"duplicate_resolution": "exclude_all"}, [], (12, 5, 2, 4, 1)),
        ({"unique_composite": [["employee_id", "company_id"], ["company_id", "salary_amount"]]},
         [], (12, 7, 2, 2, 1)),
        # every valid row shares company 101: the stage ends up empty
        ({"duplicate_resolution": "exclude_all",
          "unique_composite": [["company_id"], ["employee_id"]]}, [], (12, 0, 2, 10, 0)),
        # two rules on one field share its sink and its error file
        ({}, [BORN_BEFORE_1980], (12, 4, 2, 2, 4)),
    ],
    ids=["last", "first", "exclude_all", "cascade_last", "cascade_exclude_all",
         "same_field_rules"],
)
def test_routed_run_matches_operator_chain(spark, tmp_path, settings, extra_rules, expected):
    """The counted run (one routed frame) writes the same files, row for
    row, as the operator chain (validate, dedupe_cascade, rules), and
    its summary — (total, valid, schema errors, duplicates, custom
    errors) — counts those files' rows. The uncounted run returns the
    counted run's rows."""
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    cfg = _write_fixture(tmp_path, CSV, **settings)
    cfg["transformations_config"]["employees"]["validations"]["custom"]["rules"] += extra_rules
    routed = run_pipeline(
        spark, cfg, "employees", today="2026-08-13", output_dir=str(tmp_path / "routed")
    )
    _operator_chain(spark, cfg, str(tmp_path / "chain"))
    files = _outputs(str(tmp_path / "chain"))
    assert _outputs(str(tmp_path / "routed")) == files
    _assert_uncounted_matches(spark, cfg, routed)

    def rows(name):
        return len(files.get(f"employees_{name}_errors.csv", [()])) - 1

    s = routed.summary
    assert (s.total_records, s.valid_records, s.schema_errors, s.duplicates_removed,
            s.custom_validation_errors) == expected
    assert (s.schema_errors, s.duplicates_removed, s.custom_validation_errors,
            s.valid_records) == (rows("schema_validation"), rows("duplicates"),
                                 rows("custom_birthday_on"), len(files["personal_data.csv"]) - 1)
    assert s.total_records == sum(routed.sink_counts.values()) == 12
    sinks = {"kept": s.valid_records, "schema_validation": s.schema_errors,
             "duplicates": s.duplicates_removed, "custom_birthday_on": s.custom_validation_errors}
    assert routed.sink_counts == {k: n for k, n in sinks.items() if n}
    # both exports are written, with their header, even when empty
    assert files["personal_data.csv"][0] == ("employee_id", "company_id", "first_name", "email")
    assert files["contract_data.csv"][0] == ("emp_id", "salary_amount")
    assert len(files["contract_data.csv"]) - 1 == s.valid_records


def test_compute_summary_takes_only_booleans(spark, tmp_path):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    cfg = _write_fixture(tmp_path, CSV)
    with pytest.raises(ValueError, match="compute_summary must be True or False"):
        run_pipeline(spark, cfg, "employees", today="2026-08-13", compute_summary="observe")


def test_stop_mode_on_custom_rule_raises(spark, tmp_path):
    """No schema errors, so the stop gate passes; the first failing
    rule then stops the run with its failure count."""
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    lines = CSV.splitlines(keepends=True)
    clean = "".join(l for l in lines if "cy-bad-email" not in l and "not-a-date" not in l)
    cfg = _write_fixture(tmp_path, clean, custom_validation_mode="stop")
    with pytest.raises(
        ValueError,
        match="Custom validation 'age_gte' failed for 1 rows on field 'birthday_on'",
    ):
        run_pipeline(spark, cfg, "employees", today="2026-08-13")


def test_stop_mode_passes_clean_data_and_always_counts(spark, tmp_path):
    """With nothing to stop on, a stop-mode run returns the stage; it
    counts even when asked not to, since the gate needs the counts."""
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    lines = CSV.splitlines(keepends=True)
    bad = ("cy-bad-email", "not-a-date", "1999-12-31")  # two schema errors, one age_gte
    clean = "".join(l for l in lines if not any(b in l for b in bad))
    for cascade in ([["employee_id", "company_id"]],
                    [["employee_id", "company_id"], ["company_id", "salary_amount"]]):
        cfg = _write_fixture(tmp_path, clean, custom_validation_mode="stop",
                             unique_composite=cascade)
        for compute_summary in (True, False):
            result = run_pipeline(spark, cfg, "employees", today="2026-08-13",
                                  compute_summary=compute_summary)
            assert result.summary.valid_records == 7
            assert result.sink_counts == {"kept": 7, "duplicates": 2}
            assert result.stage.count() == 7


def test_no_duplicates_writes_no_duplicates_file(spark, tmp_path):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    unique = "".join(CSV.splitlines(keepends=True)[:-2])  # drop Ana2 and Hana2
    cfg = _write_fixture(tmp_path, unique)
    out_dir = str(tmp_path / "output")
    result = run_pipeline(spark, cfg, "employees", today="2026-08-13", output_dir=out_dir)
    assert result.summary.duplicates_removed == 0
    assert result.summary.valid_records == 7
    errors = sorted(os.listdir(os.path.join(out_dir, "errors")))
    assert errors == [
        "employees_custom_birthday_on_errors.csv",
        "employees_schema_validation_errors.csv",
    ]


def test_cli_writes_run_record(spark, tmp_path):
    """The CLI's run.json carries the summary, the rows per sink, the
    run's wall time and Spark version and the SHA-256 of the entity's
    config as canonical JSON, as strict JSON."""
    import hashlib
    import json

    import yaml

    from universal_importer_duckdb_spark.plans.pipeline import main

    cfg = _write_fixture(tmp_path, CSV)
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    out_dir = tmp_path / "output"
    assert main(["employees", "--config", str(cfg_path), "--output_dir", str(out_dir)]) == 0

    def strict(token):
        raise ValueError(f"non-finite number {token} in run.json")

    with open(out_dir / "run.json") as f:
        record = json.load(f, parse_constant=strict)
    assert record["total_records"] == 12
    assert record["valid_records"] == 7
    assert record["schema_errors"] == 2
    assert record["duplicates_removed"] == 2
    assert record["custom_validation_errors"] == 1
    assert record["sink_counts"] == {
        "kept": 7, "schema_validation": 2, "duplicates": 2, "custom_birthday_on": 1,
    }
    assert record["projection_counts"] == {"personal_data": 7, "contract_data": 7}
    assert record["spark_version"] == spark.version
    assert record["wall_s"] > 0
    canonical = json.dumps(cfg["transformations_config"]["employees"], sort_keys=True)
    assert record["config_sha256"] == hashlib.sha256(canonical.encode()).hexdigest()


# Spark jobs of one counted run with export on this fixture: the CSV
# header read, the routing aggregate (scan + window stage, then the
# aggregate; it fills the cache), two exports and three error files.
JOB_BUDGET = 11


def test_counted_run_job_and_scan_budget(spark, tmp_path):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    cfg = _write_fixture(tmp_path, CSV)
    sc = spark.sparkContext
    group = f"budget-{tmp_path.name}"
    sc.setJobGroup(group, "counted run job budget")
    try:
        result = run_pipeline(
            spark, cfg, "employees", today="2026-08-13", output_dir=str(tmp_path / "out")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= JOB_BUDGET, sorted(jobs)
    # the routed frame reads its source once: no offsets pass, no join
    plan = result.stage._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan csv") == 1, plan


def test_multi_partition_source_rows_match_stamped_order(spark, tmp_path):
    """A source read as several partitions: the routed run's dense error
    ``row`` (read-time id plus a per-partition offset from the routing
    aggregate) equals the ordinal the read-time stamp of the operator
    chain gives, and every output file agrees."""
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    header, *lines = CSV.splitlines(keepends=True)
    src = tmp_path / "parts"
    src.mkdir()
    # three files of different sizes, each its own input partition
    for i, chunk in enumerate((lines[:2], lines[2:7], lines[7:])):
        (src / f"part{i}.csv").write_text(header + "".join(chunk))
    cfg = _write_fixture(tmp_path, CSV)
    cfg["transformations_config"]["employees"]["source"] = str(src)
    routed = run_pipeline(
        spark, cfg, "employees", today="2026-08-13", output_dir=str(tmp_path / "routed")
    )
    assert spark.read.option("header", True).csv(str(src)).rdd.getNumPartitions() == 3
    chain = _operator_chain(spark, cfg, str(tmp_path / "chain"))
    assert _outputs(str(tmp_path / "routed")) == _outputs(str(tmp_path / "chain"))
    got = sorted((r.employee_id, r.row) for r in routed.schema_errors.collect())
    assert got == sorted((r.employee_id, r.row) for r in chain.schema_errors.collect())
    assert sorted(r for _, r in got) != [3, 6]  # file order is not line order here
    _assert_uncounted_matches(spark, cfg, routed)


def test_uncounted_run_writes_nothing(spark, tmp_path):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    cfg = _write_fixture(tmp_path, CSV)
    with pytest.raises(ValueError, match="output_dir needs compute_summary=True"):
        run_pipeline(
            spark, cfg, "employees", today="2026-08-13", output_dir=str(tmp_path / "out"),
            compute_summary=False,
        )
    assert not (tmp_path / "out").exists()


def test_uncounted_cascade_plan_filters_before_each_exchange(spark, tmp_path):
    """A two-key cascade, uncounted: one exchange per key, the schema
    filter below the first, and a WindowGroupLimit (partial before the
    exchange, final after it) on each key."""
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    cfg = _write_fixture(
        tmp_path, CSV,
        unique_composite=[["employee_id", "company_id"], ["company_id", "salary_amount"]],
    )
    lazy = run_pipeline(spark, cfg, "employees", today="2026-08-13", compute_summary=False)
    plan = lazy.stage._jdf.queryExecution().executedPlan().toString()
    nodes = [line.lstrip(" :+-") for line in plan.split("== Initial Plan ==")[0].splitlines()]
    names = [n.split(" ")[0] for n in nodes]
    assert names.count("Exchange") == 2, plan
    limits = [n for n in nodes if n.startswith("WindowGroupLimit")]
    assert [n.rsplit(", ", 1)[1] for n in limits] == ["Final", "Partial"] * 2, plan
    # below the first exchange: a Filter over the scan (the plan prints top-down)
    first = len(names) - 1 - names[::-1].index("Exchange")
    assert "Filter" in names[first:], plan


def test_uncounted_run_runs_no_job_but_the_header_read(spark, tmp_path):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    cfg = _write_fixture(tmp_path, CSV)
    caller = spark.read.option("header", True).csv(str(tmp_path / "employees.csv"))
    sc = spark.sparkContext

    def jobs(**kw):
        group = f"uncounted-{len(kw)}-{tmp_path.name}"
        sc.setJobGroup(group, "uncounted run")
        try:
            run_pipeline(spark, cfg, "employees", today="2026-08-13",
                         compute_summary=False, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    assert jobs(source_df=caller) == []
    # the config CSV: the header read that names its columns
    assert len(jobs()) == 1


@pytest.mark.parametrize(
    "case, code, message",
    [
        ("missing_config", 66, "File not found: [Errno 2] No such file or directory: "),
        ("missing_source", 66, "File not found: [Errno 2] No such file or directory: "),
        ("unknown_entity", 78, "Configuration error: \"Entity 'staff' not found in config\""),
        ("stop_failure", 65,
         "Validation error: Schema validation failed for 2 rows in 'employees'"),
    ],
)
def test_cli_error_exit_codes(spark, tmp_path, capsys, case, code, message):
    """Each error kind prints one line and exits with its own code, with
    no traceback: a missing config or source file, an unknown entity, a
    stop-mode validation failure."""
    import yaml

    from universal_importer_duckdb_spark.plans.pipeline import main

    cfg = _write_fixture(tmp_path, CSV)
    ent = cfg["transformations_config"]["employees"]
    cfg_path, entity = tmp_path / "config.yaml", "employees"
    if case == "missing_source":
        ent["source"] = str(tmp_path / "absent.csv")
    elif case == "unknown_entity":
        entity = "staff"
    elif case == "stop_failure":
        ent["settings"]["custom_validation_mode"] = "stop"
    if case != "missing_config":
        cfg_path.write_text(yaml.safe_dump(cfg))
    assert main([entity, "--config", str(cfg_path), "--output_dir",
                 str(tmp_path / "out")]) == code
    out, err = capsys.readouterr()
    assert out.startswith(message) and out.count("\n") == 1, out
    missing = {"missing_config": cfg_path, "missing_source": tmp_path / "absent.csv"}
    if case in missing:
        assert out == f"{message}'{missing[case]}'\n"
    assert "Traceback" not in out + err and "Exception" not in out + err
