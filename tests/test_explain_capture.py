"""tools/explain_capture.py unit coverage (pure Python — no Spark):
a capture names the data directory by its basename, so the same plan
captured from two checkouts compares equal."""

from __future__ import annotations

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "explain_capture",
    os.path.join(os.path.dirname(__file__), "..", "tools", "explain_capture.py"),
)
ec = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ec)


def _capture(sf_dir: str) -> str:
    return (
        f"== q (after) sf_dir={sf_dir} ==\n"
        "(1) Scan parquet \n"
        f"Location: InMemoryFileIndex [file:{sf_dir}/lineitem.parquet]\n"
        f"Location: InMemoryFileIndex(1 paths)[file:{sf_dir}/orders.parquet, ...]\n"
    )


def test_portable_writes_the_basename_in_header_and_locations():
    got = ec.portable(_capture("/data/a/sf0.1"), "/data/a/sf0.1")
    assert got == (
        "== q (after) sf_dir=sf0.1 ==\n"
        "(1) Scan parquet \n"
        "Location: InMemoryFileIndex [file:sf0.1/lineitem.parquet]\n"
        "Location: InMemoryFileIndex(1 paths)[file:sf0.1/orders.parquet, ...]\n"
    )


def test_portable_captures_from_two_checkouts_compare_equal():
    a = ec.portable(_capture("/x/one/sf0.1"), "/x/one/sf0.1/")
    b = ec.portable(_capture("/y/two/sf0.1"), "/y/two/sf0.1")
    assert a == b


def test_portable_leaves_a_longer_sibling_path_alone():
    text = "Location: InMemoryFileIndex [file:/d/sf0.10/t.parquet]"
    assert ec.portable(text, "/d/sf0.1") == text
