"""The stored-index-at-rest story, substantiated: the incremental
family's docstrings promise that production keeps its indexes as
bucketed tables so the per-batch probe join is co-partitioned and the
INDEX side never shuffles again. These tests pin exactly that plan
property with write_bucketed_table (sources/bucketing.py; the
existing test_bucketing.py covers the symmetric fact-to-fact case —
here the probe side is a small UNBUCKETED batch and broadcast is
disabled, the 100 TB daily-ingest regime) — the
exchange is paid once at write time, amortized over every probe."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from universal_importer_duckdb_spark.sources.bucketing import (
    write_bucketed_table,
)


def _ancestor_lines(plan: str, marker: str) -> list[str]:
    """The ANCESTOR chain of the tree node whose line contains
    ``marker``, from the rendered executedPlan tree: walking upward,
    a line with strictly smaller tree-indentation than everything
    seen so far is an ancestor (the `:- / +-` rendering puts every
    ancestor on an earlier line at smaller depth). Structural — does
    not assume anything about where OTHER branches' nodes land in
    the flat string (the r10 advice: the old positional heuristic
    compared raw substring offsets)."""

    def depth(line: str) -> int:
        m = re.search(r"[^\s:+*-]", line)
        return m.start() if m else len(line)

    lines = plan.splitlines()
    i = next(i for i, l in enumerate(lines) if marker in l)
    out: list[str] = []
    d = depth(lines[i])
    for j in range(i - 1, -1, -1):
        dj = depth(lines[j])
        if dj < d:
            out.append(lines[j])
            d = dj
    return out


def test_bucketed_fingerprint_index_join_is_exchange_free_on_index_side(spark, sf_dir):
    """incremental_exact_dedup's production shape: the fingerprint
    index lives bucketed by fingerprint; the arriving batch's anti-
    join reads it WITHOUT an exchange (only the small batch side may
    shuffle). SortMergeJoin/ShuffledHashJoin on a bucketed side shows
    no Exchange above the index scan."""
    spark.sql("DROP TABLE IF EXISTS fp_index_bucketed")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = docs.select(
        F.md5(F.lower(F.col("text"))).alias("fingerprint")
    ).distinct()
    write_bucketed_table(
        index, "fp_index_bucketed", ["fingerprint"], num_buckets=8,
        sort_cols=["fingerprint"],
    )
    at_rest = spark.table("fp_index_bucketed")

    batch = docs.limit(200).select(
        F.col("doc_id"),
        F.md5(F.lower(F.col("text"))).alias("fingerprint"),
    )
    # disable broadcast so the join must use the co-partitioning (at
    # 100 TB the index NEVER fits a broadcast; this pins that regime)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = batch.join(at_rest, "fingerprint", "left_anti")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # final plan only
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS fp_index_bucketed")
    # the index-side scan must carry ZERO exchange: bucket metadata
    # supplies the join's required distribution. The batch side is
    # allowed its (small) exchange — so the assertion is on the
    # index scan's ANCESTOR chain, not the whole plan.
    ancestors = _ancestor_lines(plan, "fp_index_bucketed")
    assert ancestors, plan  # the scan is not the root
    assert not any("Exchange" in a for a in ancestors), plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_bucketed_gram_index_probe_plan(spark, sf_dir):
    """The self-dedup gram index at rest, through the NAMED storage
    API (corpus.py::store_gram_index, r11): bucketed by gram, the
    ingest screen's semi-join leaves the stored index unshuffled —
    and the stored index produces verdicts identical to the inline
    derive-from-at-rest form."""
    from universal_importer_duckdb_spark.operators.corpus import (
        _gram64,
        incremental_duplicate_spans,
        positioned_ngrams,
        store_gram_index,
    )

    spark.sql("DROP TABLE IF EXISTS gram_index_bucketed")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    at_rest = docs.filter(F.col("doc_id") % 10 != 0)
    arriving = docs.filter(F.col("doc_id") % 10 == 0)
    stored = store_gram_index(at_rest, "gram_index_bucketed", n=8,
                              num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        arr = positioned_ngrams(arriving, 8, hasher=_gram64)
        hits = arr.join(stored, "gram", "left_semi")
        n = hits.count()
        plan = hits._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # final plan only
        # the PROBE OPERATOR over the stored index equals the held
        # form — one definition, two storage shapes (held in the
        # session cache, bucketed table)
        via_table = sorted(map(tuple, incremental_duplicate_spans(
            at_rest, arriving, n=8, index=stored).collect()))
        inline = sorted(map(tuple, incremental_duplicate_spans(
            at_rest, arriving, n=8).collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS gram_index_bucketed")
    assert n > 0
    assert via_table == inline
    ancestors = _ancestor_lines(plan, "gram_index_bucketed")
    assert ancestors, plan
    assert not any("Exchange" in a for a in ancestors), plan
