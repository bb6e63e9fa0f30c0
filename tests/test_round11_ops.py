"""Round-11 additions: the HELD at-rest gram index (the
incremental-admission family's production serving shape — the r10
verdict's like-for-like bench fix) and its equivalence to the inline
one-shot form.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _corpus(spark):
    seen = " ".join(f"s{j}" for j in range(10))
    novel = " ".join(f"n{j}" for j in range(10))
    return (
        spark.createDataFrame(
            [(100, seen), (101, f"filler {seen} tail")],
            "doc_id bigint, text string",
        ),
        spark.createDataFrame(
            [(1, seen), (2, novel), (3, f"{seen} {novel}")],
            "doc_id bigint, text string",
        ),
    )


def test_held_gram_index_equals_inline_spans(spark):
    """incremental_duplicate_spans served from a built gram_index
    is row-identical to the inline derive-from-at-rest form — the
    held artifact changes WHEN the index is computed, never what any
    verdict says (the batch-order-free incremental contract)."""
    from universal_importer_duckdb_spark.operators.corpus import (
        gram_index,
        incremental_duplicate_spans,
    )

    at_rest, arriving = _corpus(spark)
    inline = sorted(
        map(tuple, incremental_duplicate_spans(at_rest, arriving, n=8).collect())
    )
    held = sorted(
        map(
            tuple,
            incremental_duplicate_spans(
                at_rest,
                arriving,
                n=8,
                index=gram_index(at_rest, n=8),
            ).collect(),
        )
    )
    assert held == inline and len(held) > 0


def test_held_gram_index_equals_inline_novelty(spark):
    """ingest_novelty over the held index matches the inline form,
    including the (0, 0) wordless/short-doc convention."""
    from universal_importer_duckdb_spark.operators.corpus import (
        gram_index,
        ingest_novelty,
    )

    at_rest, arriving = _corpus(spark)
    idx = gram_index(at_rest, n=8)
    inline = sorted(map(tuple, ingest_novelty(at_rest, arriving, n=8).collect()))
    held = sorted(
        map(tuple, ingest_novelty(at_rest, arriving, n=8, index=idx).collect())
    )
    assert held == inline and len(held) == 3


def test_gram_index_is_distinct_and_bounded(spark):
    """The stored index holds one row per DISTINCT gram (8 bytes each
    at scale) — repeated occurrences of a hot gram across the at-rest
    corpus collapse to a single index row, which is exactly what
    bounds the artifact by Heaps' law rather than the token stream."""
    from universal_importer_duckdb_spark.operators.corpus import gram_index

    seen = " ".join(f"s{j}" for j in range(8))
    at_rest = spark.createDataFrame(
        [(i, seen) for i in range(50)],  # one hot gram, 50 holders
        "doc_id bigint, text string",
    )
    idx = gram_index(at_rest, n=8)
    assert idx.count() == 1
    assert idx.columns == ["gram"]


def test_held_index_registry_entries_share_one_artifact_shape(spark, sf_dir):
    """Both registry entries build the SAME held-index artifact from
    the same at-rest split, and their serving plans read it through
    an in-memory scan (no parquet re-derivation of the index outside
    the held relation's own build plan): exactly one parquet scan
    remains — the arriving side's."""
    import re

    from test_plans import serving_plan

    from universal_importer_duckdb_spark import entry_queries as eq

    # parquet scans remaining = the ARRIVING side only: 1 for the
    # spans probe; 2 for novelty (probe + the arriving-ids left join
    # that restores the (0,0) short-doc rows). The index side is the
    # scoped-cached relation's scan in both.
    for name, n_scans in (
        ("docs_incremental_selfdup_spans", 1),
        ("docs_ingest_novelty", 2),
    ):
        full = (
            eq.REGISTRY[name][0](spark, sf_dir)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        assert "InMemoryRelation" in full, name
        plan = serving_plan(full)
        scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
        assert len(scans) == n_scans, (name, plan)
        assert "InMemoryTableScan" in plan, name


# ---------------------------------------------------------------
# Property: the r11 shared-gram verdict filter never changes spans
# ---------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.sampled_from([f"w{i}" for i in range(12)])
_doc = st.lists(_words, min_size=0, max_size=24).map(" ".join)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_doc, min_size=1, max_size=8))
def test_selfdup_spans_equal_unfiltered_form(spark, texts):
    """cross_doc_duplicate_spans (shared-gram-filtered join-back,
    r11) emits exactly the spans of the unfiltered reference form
    (join back against EVERY distinct gram's min holder) on random
    corpora with a tiny vocabulary — small n (3) forces heavy window
    overlap, the adversarial regime for the filter."""
    from pyspark.sql import functions as F

    from universal_importer_duckdb_spark.operators.corpus import (
        _gram64,
        cross_doc_duplicate_spans,
        merge_token_spans,
        positioned_ngrams,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = sorted(
        map(tuple, cross_doc_duplicate_spans(docs, n=3).collect())
    )
    # unfiltered reference: min-holder over ALL grams, then join-back
    pos = positioned_ngrams(docs, 3, "text", "doc_id", hasher=_gram64)
    firsts = pos.groupBy("gram").agg(F.min("doc_id").alias("__first"))
    hits = (
        pos.join(firsts, "gram")
        .filter(F.col("__first") < F.col("doc_id"))
        .select("doc_id", F.col("i").alias("s"), (F.col("i") + 2).alias("e"))
    )
    want = sorted(map(tuple, merge_token_spans(hits, "doc_id").collect()))
    assert got == want
