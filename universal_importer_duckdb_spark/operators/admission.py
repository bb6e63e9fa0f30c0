"""Multi-signal corpus admission: one verdict per arriving document.

The shape every production training-data pipeline converges on
(reference behavior: the dedup + validation gates of
/root/reference/main.py:1-510 generalized to a curation funnel): a
daily ingest batch is admitted document-by-document only if it clears
ALL of

1. the EXACT gate — not a byte-identical duplicate of the at-rest
   corpus (fingerprint index anti-join) nor of an earlier arrival in
   the same batch (first-occurrence window);
2. the QUALITY gate — the shipped linear model's milli-logit is
   non-negative AND the document is non-empty (the documented
   ``is_quality AND n_words >= 1`` combination from
   quality_model.py);
3. the SEMANTIC gate — no KEPT at-rest embedding in the arriving
   vector's k-means cluster within eps2 exact integer squared L2
   (SemDeDup admission control, operators/semdedup.py). Documents
   with no embedding abstain from this gate (``has_embedding`` is
   emitted so callers can route them to an embed-then-recheck queue).

Scale shape, gate by gate: the exact gate is one batch-sized window
plus a join against the corpus fingerprint index — an aggregate-shaped
artifact of a prior pass, and AQE broadcasts whichever side is small
(at 100 TB that is the arriving batch, never the index). The quality
gate is a zero-shuffle literal-map fold over the batch. The semantic
gate probes only the arriving vector's own cluster's kept members
(the IVF probe discipline — never the corpus). The three verdict
frames are batch-sized, so the final three-way join is broadcast-able
no matter how large the at-rest corpus grows; nothing in the plan
rescans at-rest data beyond the two index artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from universal_importer_duckdb_spark.operators.semdedup import (
    EPS2_DEFAULT,
    incremental_semdedup,
)


def corpus_fingerprint(text_col="text"):
    """The exact-dedup fingerprint shared with docs_incremental_dedup:
    md5 of the lowercased text — identical bytes in Spark and DuckDB."""
    return F.md5(F.lower(F.col(text_col)))


def multisignal_admission(
    doc_batch: DataFrame,
    doc_index: DataFrame,
    emb_at_rest: DataFrame,
    emb_arriving: DataFrame,
    weights: dict[str, int],
    n_clusters: int = 16,
    eps2: int = EPS2_DEFAULT,
) -> DataFrame:
    """Admission verdicts for ``doc_batch`` against the at-rest corpus
    (``doc_index`` + ``emb_at_rest``). Returns one row per batch
    document: ``(doc_id, exact_dup, n_words, is_quality,
    has_embedding, nn_d2, sem_dup, admitted)`` — every gate's raw
    verdict is emitted (not just the conjunction) so the driver hash
    pins each signal independently. The semantic gate's at-rest
    artifacts are held (operators/semdedup.py::at_rest_artifacts —
    the serving shape).
    """
    from universal_importer_duckdb_spark.operators.quality_model import (
        quality_model_scores,
    )

    # r16 (guide §5 driver costs / §2.4): the exact and quality gates
    # both derive from the SAME batch scan, so they are computed in
    # ONE pass — the quality fold runs as a stateless projection with
    # the fingerprint riding as a carry column (exactly the streaming
    # twin's shape, streaming/docs.py::streaming_multisignal_admission)
    # and the first-occurrence window + index join run over the scored
    # frame. The old shape built them as two frames and joined on
    # doc_id: one extra scan of the batch, one extra join, and one
    # extra broadcast-build driver job per run (the entry measured 11
    # jobs/run — the most on the bench board).
    fp = corpus_fingerprint()
    idx = (
        doc_index.select(fp.alias("fingerprint"))
        .distinct()
        .withColumn("__in_idx", F.lit(True))
    )
    gated = (
        quality_model_scores(
            doc_batch.withColumn("fingerprint", fp),
            weights,
            carry_cols=("fingerprint",),
        )
        .select("doc_id", "fingerprint", "n_words", "is_quality")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy("doc_id")
            ),
        )
        .join(idx, "fingerprint", "left")
        .select(
            "doc_id",
            ((F.col("rn") > 1) | F.col("__in_idx").isNotNull()).alias(
                "exact_dup"
            ),
            "n_words",
            "is_quality",
        )
    )

    sem = incremental_semdedup(
        emb_at_rest, emb_arriving, n_clusters=n_clusters, eps2=eps2
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.col("nn_d2").alias("__nn"),
        F.col("admitted").alias("__sem_adm"),
    )

    sem_ok = F.coalesce(F.col("__sem_adm"), F.lit(True))
    return (
        gated.join(sem, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            "n_words",
            "is_quality",
            F.col("__sem_adm").isNotNull().alias("has_embedding"),
            F.coalesce(F.col("__nn"), F.lit(-1))
            .cast("bigint")
            .alias("nn_d2"),
            (~sem_ok).alias("sem_dup"),
            (
                ~F.col("exact_dup")
                & F.col("is_quality")
                & (F.col("n_words") >= 1)
                & sem_ok
            ).alias("admitted"),
        )
    )


def multisignal_admission_sql(
    quality_sql: str,
    sem_sql: str,
    mod: int = 8,
    intra_batch: bool = True,
) -> str:
    """DuckDB oracle: the shipped-quality and incremental-semdedup
    oracles ride as subquery CTEs (both already engine-replayed by
    their own entries); the exact gate replays the fingerprint
    window + index EXISTS. Gate conjunction mirrors
    multisignal_admission column for column. ``intra_batch=False``
    drops the first-occurrence window term — the streaming twin's
    documented contract (index lookups at ingest; intra-batch ties
    belong to the batch compactor)."""
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        sql_md5_28,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        ARRIVAL_SALT,
    )

    arr_hash = sql_md5_28(f"'{ARRIVAL_SALT}:'||doc_id")
    arr = f"{arr_hash} % {mod}"
    in_batch_term = "f.rn > 1 OR " if intra_batch else ""
    return f"""
WITH
q AS MATERIALIZED (SELECT * FROM ({quality_sql})),
sem AS MATERIALIZED (SELECT * FROM ({sem_sql})),
batch AS MATERIALIZED (
  SELECT doc_id, md5(lower(text)) AS fingerprint
  FROM documents WHERE {arr} = 0),
idx AS MATERIALIZED (
  SELECT DISTINCT md5(lower(text)) AS fingerprint
  FROM documents WHERE {arr} <> 0),
firsts AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint
                            ORDER BY doc_id) AS rn
  FROM batch),
exact AS (
  SELECT f.doc_id,
         ({in_batch_term}EXISTS (
            SELECT 1 FROM idx i
            WHERE i.fingerprint = f.fingerprint)) AS exact_dup
  FROM firsts f)
SELECT e.doc_id, e.exact_dup, q.n_words, q.is_quality,
       s.vec_id IS NOT NULL AS has_embedding,
       CAST(COALESCE(s.nn_d2, -1) AS BIGINT) AS nn_d2,
       NOT COALESCE(s.admitted, TRUE) AS sem_dup,
       (NOT e.exact_dup AND q.is_quality AND q.n_words >= 1
        AND COALESCE(s.admitted, TRUE)) AS admitted
FROM exact e
JOIN q USING (doc_id)
LEFT JOIN sem s ON s.vec_id = e.doc_id
"""
