"""Compile the YAML field-schema grammar to Spark types + constraints.

The reference compiles its per-field dicts into a dynamic Pydantic
model with ``eval()`` on the type name (reference main.py:35-54) and
validates row-by-row. Here the same grammar compiles to:

- a ``StructType`` (whitelist type map — never ``eval``), and
- a list of :class:`Constraint` — vectorized predicates (cast-success,
  not-null, regex, lower bound) written as Spark SQL text, which
  ``operators.validate`` hands to ``selectExpr`` in one pass over the
  DataFrame. SQL text costs one JVM call per output where ``Column``
  trees cost one per node (thousands for a 24-field schema), and
  compiling needs no Spark session at all. Identifiers are
  backtick-quoted, so a dotted header such as ``emp.id`` is a column
  name, not a struct access.

Schema keys (reference config.yaml:24-49):
  type: int | str | float | bool
  required: bool (default False as declared; NOTE the reference
      effectively requires every declared field because generated
      Pydantic fields get no default — reference main.py:52. Pass
      ``strict_required=True`` to reproduce that behavior.)
  pattern: anchored regex the string value must fully match
      (Pydantic ``pattern`` is re.match-based; configs anchor with
      ^...$ so ``rlike`` with the anchors kept is equivalent)
  min: numeric lower bound (Pydantic ``ge``)
  default: declared in configs but silently ignored by the reference
      (SURVEY.md §1.2); honored here only when ``apply_defaults=True``.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

import math

from pyspark.sql import types as T

# Whitelist map replacing the reference's eval() (main.py:41).
TYPE_MAP: dict[str, T.DataType] = {
    "int": T.LongType(),
    "str": T.StringType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
}

SPARK_CAST: dict[str, str] = {
    "int": "bigint",
    "str": "string",
    "float": "double",
    "bool": "boolean",
}


@dataclass
class FieldSpec:
    name: str
    type: str = "str"
    required: bool = False
    pattern: str | None = None
    min: float | int | None = None
    default: Any = None

    @classmethod
    def from_dict(cls, name: str, spec: dict[str, Any]) -> "FieldSpec":
        unknown = set(spec) - {"type", "required", "pattern", "min", "default"}
        if unknown:
            raise ValueError(f"Unknown schema keys for field '{name}': {sorted(unknown)}")
        ftype = spec.get("type", "str")
        if ftype not in TYPE_MAP:
            raise ValueError(f"Unsupported type '{ftype}' for field '{name}'")
        return cls(
            name=name,
            type=ftype,
            required=bool(spec.get("required", False)),
            pattern=spec.get("pattern"),
            min=spec.get("min"),
            default=spec.get("default"),
        )


@dataclass
class Constraint:
    """One vectorized check: ``sql`` is a Spark SQL boolean expression
    that is true for rows violating the check; ``message`` mirrors the
    reference's "field: msg" error strings (main.py:73-78)."""

    field: str
    check: str
    sql: str
    message: str


@dataclass
class CompiledSchema:
    struct: T.StructType
    fields: list[FieldSpec]
    constraints: list[Constraint] = dc_field(default_factory=list)
    apply_defaults: bool = False

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.fields]


def quote_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted, any
    backtick inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: Any) -> str:
    """``value`` as a Spark SQL literal of the type ``F.lit`` would
    give it. Strings escape backslash and quote for Spark's parser
    (which unescapes backslash sequences in string literals)."""
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value}' AS DOUBLE)"
    text = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{text}'"


def typed_sql(fs: FieldSpec) -> str:
    """The column coerced to its declared type (lenient, like Pydantic
    coercion: ``try_cast`` returns NULL on failure instead of raising —
    required under Spark 4's default ANSI mode)."""
    return f"try_cast({quote_ident(fs.name)} AS {SPARK_CAST[fs.type]})"


def compile_schema(
    fields_config: dict[str, dict[str, Any]],
    strict_required: bool = False,
    apply_defaults: bool = False,
) -> CompiledSchema:
    """fields_config is the ``validations.schema.fields`` mapping.

    ``apply_defaults=True`` makes ``operators.validate`` substitute a
    field's declared ``default`` for NULL/missing raw values before any
    constraint is evaluated (so a required field with a default never
    fails required). Default ``False`` reproduces the reference, which
    parses ``default`` but never applies it (main.py:40-52,
    config.yaml:39).
    """
    specs = [FieldSpec.from_dict(name, spec or {}) for name, spec in fields_config.items()]
    struct = T.StructType(
        [
            T.StructField(fs.name, TYPE_MAP[fs.type], nullable=not fs.required)
            for fs in specs
        ]
    )
    return CompiledSchema(
        struct=struct,
        fields=specs,
        constraints=_compile_constraints(specs, strict_required),
        apply_defaults=apply_defaults,
    )


def _compile_constraints(
    specs: list[FieldSpec], strict_required: bool
) -> list[Constraint]:
    constraints: list[Constraint] = []
    for fs in specs:
        col = quote_ident(fs.name)
        typed = typed_sql(fs)
        if fs.required or strict_required:
            # a NULL raw value is the only way the coerced value and the
            # raw value are both NULL
            constraints.append(
                Constraint(fs.name, "required", f"{col} IS NULL", "field required")
            )
        if fs.type != "str":
            # Coercion failure: a non-null raw value whose cast is null.
            constraints.append(
                Constraint(
                    fs.name,
                    "type",
                    f"({col} IS NOT NULL AND {typed} IS NULL)",
                    f"value is not a valid {fs.type}",
                )
            )
        if fs.pattern is not None:
            constraints.append(
                Constraint(
                    fs.name,
                    "pattern",
                    f"({col} IS NOT NULL AND NOT (try_cast({col} AS string)"
                    f" RLIKE {sql_literal(fs.pattern)}))",
                    f"string should match pattern '{fs.pattern}'",
                )
            )
        if fs.min is not None:
            constraints.append(
                Constraint(
                    fs.name,
                    "min",
                    f"({typed} IS NOT NULL AND {typed} < {sql_literal(fs.min)})",
                    f"value should be >= {fs.min}",
                )
            )
    return constraints
