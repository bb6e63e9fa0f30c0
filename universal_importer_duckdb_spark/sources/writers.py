"""Sinks: projection CSV exports (reference ``export_views_to_csv``
main.py:300-326) and typed error files (``save_errors``
main.py:367-399), plus a Parquet writer for scale paths.

The reference writes exactly one CSV file per projection under
``output/exports/`` and one per error type under ``output/errors/``
named ``{entity}_{error_type}_errors.csv``. ``coalesce(1)`` matches
that single-file contract (serializes the write — acceptable for
exports; large results should use :func:`write_parquet`)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _single_csv(df: DataFrame, final_path: str) -> str:
    """Write ``df`` as ONE csv file at ``final_path`` (Spark writes a
    directory; we move the part file to the exact filename)."""
    tmp = final_path + "._spark_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    shutil.move(part, final_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return final_path


def export_csv(views: dict[str, DataFrame], output_dir: str) -> dict[str, str]:
    """One file per projection: ``{output_dir}/exports/{name}.csv``."""
    out = {}
    for name, df in views.items():
        out[name] = _single_csv(df, os.path.join(output_dir, "exports", f"{name}.csv"))
    return out


def save_errors(
    entity: str, error_type: str, df: DataFrame, output_dir: str
) -> str | None:
    """``{output_dir}/errors/{entity}_{error_type}_errors.csv`` —
    naming contract from reference main.py:367-399. Returns None when
    there are no error rows (reference writes nothing then).

    One write: its row count rides the write as an ``Observation``,
    and a file that received no rows is removed again, so no separate
    emptiness probe re-runs the lineage."""
    if df is None:
        return None
    obs = Observation()
    path = _single_csv(
        df.observe(obs, F.count(F.lit(1)).alias("n")),
        os.path.join(output_dir, "errors", f"{entity}_{error_type}_errors.csv"),
    )
    if obs.get["n"] == 0:
        os.remove(path)
        return None
    return path


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> str:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def write_json(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").json(path)
    return path


def write_orc(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").orc(path)
    return path
