"""Column-tree schema constraints: the differential oracle for the
SQL-text compiler in ``config/schema_compiler.py``.

This is the compiler the package used before constraints became SQL
text, kept verbatim in its semantics: one ``Column`` per check, built
through the DataFrame API with ``F.col`` (so it cannot address a
dotted column name — the SQL-text compiler quotes identifiers).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from universal_importer_duckdb_spark.config.schema_compiler import (
    SPARK_CAST,
    FieldSpec,
)


def _typed(fs: FieldSpec) -> Column:
    return F.col(fs.name).try_cast(SPARK_CAST[fs.type])


def column_constraints(
    specs: list[FieldSpec], strict_required: bool = False
) -> list[tuple[str, str, Column, str]]:
    """``(field, check, fail Column, message)`` in the SQL compiler's
    order."""
    out: list[tuple[str, str, Column, str]] = []
    for fs in specs:
        col = F.col(fs.name)
        typed = _typed(fs)
        if fs.required or strict_required:
            out.append((fs.name, "required", typed.isNull() & col.isNull(), "field required"))
        if fs.type != "str":
            out.append(
                (fs.name, "type", col.isNotNull() & typed.isNull(),
                 f"value is not a valid {fs.type}")
            )
        if fs.pattern is not None:
            out.append(
                (fs.name, "pattern",
                 col.isNotNull() & ~F.col(fs.name).try_cast("string").rlike(fs.pattern),
                 f"string should match pattern '{fs.pattern}'")
            )
        if fs.min is not None:
            out.append(
                (fs.name, "min", typed.isNotNull() & (typed < F.lit(fs.min)),
                 f"value should be >= {fs.min}")
            )
    return out
