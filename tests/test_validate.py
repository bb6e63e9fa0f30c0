from __future__ import annotations

from universal_importer_duckdb_spark.config.schema_compiler import compile_schema
from universal_importer_duckdb_spark.operators.validate import validate_dataframe

SCHEMA = {
    "id": {"type": "int", "required": True},
    "email": {"type": "str", "required": True,
              "pattern": "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"},
    "salary": {"type": "float", "min": 0},
    "active": {"type": "bool"},
}


def _df(spark):
    rows = [
        ("1", "a@b.com", "100.5", "true", 1),
        ("2", "bad-email", "50", "false", 2),     # pattern error
        (None, "c@d.com", "10", "true", 3),       # required error
        ("xx", "e@f.com", "10", "true", 4),       # int coercion error
        ("5", "g@h.com", "-3", "true", 5),        # min error
        ("6", "i@j.com", None, None, 6),          # nulls on optional fields: ok
    ]
    return spark.createDataFrame(
        rows, "id string, email string, salary string, active string, _ingest_ord int"
    )


def test_validate_splits_valid_and_errors(spark):
    schema = compile_schema(SCHEMA)
    valid, errors = validate_dataframe(_df(spark), schema, ingest_ord="_ingest_ord")
    assert sorted(r.id for r in valid.collect()) == [1, 6]
    errs = {r.row: r.errors for r in errors.collect()}
    assert set(errs) == {2, 3, 4, 5}
    assert "email: string should match pattern" in errs[2]
    assert errs[3] == "id: field required"
    assert "id: value is not a valid int" in errs[4]
    assert "salary: value should be >= 0" in errs[5]


def test_validate_coerces_types(spark):
    schema = compile_schema(SCHEMA)
    valid, _ = validate_dataframe(_df(spark), schema, ingest_ord="_ingest_ord")
    dtypes = dict(valid.dtypes)
    assert dtypes["id"] == "bigint"
    assert dtypes["salary"] == "double"
    assert dtypes["active"] == "boolean"


def test_validate_drops_undeclared_columns(spark):
    df = spark.createDataFrame([("1", "a@b.com", "zap")], "id string, email string, phone string")
    schema = compile_schema({"id": {"type": "int"}, "email": {"type": "str"}})
    valid, _ = validate_dataframe(df, schema)
    assert valid.columns == ["id", "email"]


def test_validate_fillna_patches_before_required_check(spark):
    df = spark.createDataFrame([("1", None)], "id string, note string")
    schema = compile_schema({"id": {"type": "int"}, "note": {"type": "str", "required": True}})
    valid, errors = validate_dataframe(df, schema, fillna={"note": ""})
    assert valid.count() == 1 and errors.count() == 0


def test_validate_errors_keep_raw_values(spark):
    schema = compile_schema(SCHEMA)
    _, errors = validate_dataframe(_df(spark), schema, ingest_ord="_ingest_ord")
    raw = {r.row: r.id for r in errors.collect()}
    assert raw[4] == "xx"


def test_apply_defaults_substitutes_before_constraints(spark):
    """Config `default` key: ignored by default (reference parity,
    main.py:40-52), honored when compile_schema(apply_defaults=True) —
    a NULL required-with-default field takes the default instead of
    failing required."""
    schema_cfg = {
        "id": {"type": "int", "required": True},
        "dept": {"type": "str", "required": True, "default": "unassigned"},
        "score": {"type": "float", "default": 1.5},
    }
    rows = [("1", "eng", "9.9", 1), ("2", None, None, 2), (None, None, "3.0", 3)]
    df = spark.createDataFrame(rows, "id string, dept string, score string, _ingest_ord int")

    # Reference behavior: default parsed but never applied.
    ignored = compile_schema(schema_cfg)
    valid, errors = validate_dataframe(df, ignored, ingest_ord="_ingest_ord")
    errs = {r.row: r.errors for r in errors.collect()}
    assert "dept: field required" in errs[2]

    # Opt-in behavior: defaults fill NULLs before any constraint runs.
    applied = compile_schema(schema_cfg, apply_defaults=True)
    valid, errors = validate_dataframe(df, applied, ingest_ord="_ingest_ord")
    got = {r.id: (r.dept, r.score) for r in valid.collect()}
    assert got == {1: ("eng", 9.9), 2: ("unassigned", 1.5)}
    # id has no default, so row 3 still fails required.
    errs = {r.row: r.errors for r in errors.collect()}
    assert errs == {3: "id: field required"}


def test_dotted_field_names_and_escaped_patterns(spark):
    """A dotted CSV header is a column name, not a struct access, and a
    pattern holding a quote and a backslash reaches the regex engine
    unchanged."""
    schema = compile_schema(
        {
            "emp.id": {"type": "int", "required": True},
            "name": {"type": "str", "pattern": r"^o'\w+\\?$"},
        }
    )
    rows = [("1", "o'neil", 1), (None, "o'hara\\", 2), ("x", "oneil", 3), ("4", None, 4)]
    df = spark.createDataFrame(rows, "`emp.id` string, name string, _ingest_ord int")
    valid, errors = validate_dataframe(df, schema, ingest_ord="_ingest_ord")
    assert valid.columns == ["emp.id", "name", "_ingest_ord"]
    assert sorted((r[0], r[1]) for r in valid.collect()) == [(1, "o'neil"), (4, None)]
    errs = {r.row: r.errors for r in errors.collect()}
    assert errs == {
        2: "emp.id: field required",
        3: "emp.id: value is not a valid int; "
        "name: string should match pattern '^o'\\w+\\\\?$'",
    }


def test_sql_constraints_match_column_oracle(spark):
    """Differential: every SQL-text constraint evaluates, row for row
    and null for null, like the Column-tree compiler it replaced."""
    from pyspark.sql import functions as F
    from schema_oracle import column_constraints

    fields = {
        "i": {"type": "int", "required": True, "min": 3},
        "f": {"type": "float", "min": -0.5},
        "big": {"type": "int", "min": 3_000_000_000},
        "b": {"type": "bool"},
        "s": {"type": "str", "required": True, "pattern": r"^[a-z]+\d?$"},
        "q": {"type": "str", "pattern": "^it's$"},
    }
    schema = compile_schema(fields, strict_required=False)
    values = [None, "", "2", "3", "-1", "x", "2.5", "-0.5", "-0.75", "1e3", "NaN",
              "Infinity", "true", "FALSE", "abc", "abc7", "ab77", "it's", "3000000000",
              "2999999999", " 4 "]
    n = len(values)  # 21: each stride below is co-prime to it, so every
    rows = [  # column takes every value
        tuple(values[(k * stride + j) % n] for j, stride in enumerate((1, 2, 4, 5, 8, 10)))
        for k in range(2 * n)
    ]
    df = spark.createDataFrame(rows, "i string, f string, big string, b string, s string, q string")
    oracle = column_constraints(schema.fields)
    assert [(c.field, c.check, c.message) for c in schema.constraints] == [
        (f, chk, msg) for f, chk, _, msg in oracle
    ]
    assert {c.check for c in schema.constraints} == {"required", "type", "pattern", "min"}
    mismatch = df.select(
        *[
            (~F.expr(c.sql).eqNullSafe(col)).alias(f"{c.field}_{c.check}")
            for c, (_, _, col, _) in zip(schema.constraints, oracle)
        ]
    ).collect()
    assert not any(any(r) for r in mismatch)
    # and the checks are not vacuous on this data
    hits = df.select(
        *[F.count_if(F.expr(c.sql)).alias(f"{c.field}_{c.check}") for c in schema.constraints]
    ).collect()[0]
    assert all(n > 0 for n in hits), hits


def test_sql_literal_round_trips(spark):
    from universal_importer_duckdb_spark.config.schema_compiler import (
        quote_ident,
        sql_literal,
    )

    values = ["a'b", "back\\slash", "\\d{2}", "both '\\'", 7, -2, 3_000_000_000, 0.1,
              -1e-7, True]
    got = spark.range(1).selectExpr(*[f"{sql_literal(v)} AS c{i}" for i, v in
                                      enumerate(values)]).collect()[0]
    assert list(got) == values
    assert quote_ident("we`ird.name") == "`we``ird.name`"
