"""Streaming source + operators over the documents table.

Same file-stream pattern as ``streaming/events.py``: the sf directory
is the stream root with a glob filter so only documents.parquet is
listed. Document streams model continuous corpus ingest — the
curation checks (split-leakage below) then run incrementally instead
of re-scanning the corpus per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_RAW_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def stream_documents(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over document parquet in ``sf_dir`` (glob-filtered
    so sibling tables are not listed). ``max_files_per_trigger``
    throttles availableNow draining into multiple micro-batches —
    used by the convergence tests."""
    reader = (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(f"{sf_dir}/")


def streaming_fingerprint_splits(docs: DataFrame, salt: str = "split-v1") -> DataFrame:
    """Incremental split-leakage state: per content fingerprint, the
    set of splits its copies have landed in and the copy count —
    maintained by a streaming aggregation (update mode), so each
    micro-batch shuffles only its own arrivals against the state
    store. The fingerprint/split stamping is the identical narrow map
    the batch audit uses (operators/corpus.py), so the drained state
    converges to the batch answer however the source is split into
    batches.
    """
    from universal_importer_duckdb_spark.operators.corpus import hash_split

    tagged = hash_split(docs, id_col="doc_id", salt=salt).select(
        F.md5(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        .alias("fingerprint"),
        "split",
    )
    return tagged.groupBy("fingerprint").agg(
        F.collect_set("split").alias("splits"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


def finalize_fingerprint_splits(drained: DataFrame) -> DataFrame:
    """Fold the update-mode emissions (one row per fingerprint per
    batch that changed it) down to the final state — n_docs strictly
    increases on every emitted update, so max_by(n_docs) is the last
    state — then reduce to the batch audit's stratum table
    ``(n_splits, n_groups, n_docs)``."""
    last = drained.groupBy("fingerprint").agg(
        F.max("n_docs").alias("n_docs"),
        F.size(F.max_by("splits", "n_docs")).cast("bigint").alias("n_splits"),
    )
    return (
        last.groupBy("n_splits")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("n_splits")
    )


def streaming_dsir_scores(docs: DataFrame, contrib_w: DataFrame) -> DataFrame:
    """DSIR importance scored at INGEST against a held contribution
    artifact (operators/dsir.py::dsir_contribution_artifact — the
    production deployment: estimate the target/raw distributions
    once, then score arriving documents forever). The plan is a
    stateless explode + stream-static join on the vocab-bounded
    artifact + a per-document aggregation; each document arrives as
    ONE source row, so its tokens land in a single micro-batch and
    the update-mode state for its doc_id is final the moment it is
    first emitted — the drained output equals the batch scores
    however availableNow splits the source, and the batch oracle
    applies."""
    from universal_importer_duckdb_spark.operators.dsir import (
        dsir_score_with_artifact,
    )

    return dsir_score_with_artifact(docs, contrib_w)


def streaming_quality_scores(docs: DataFrame, weights: dict[str, int]) -> DataFrame:
    """The shipped linear quality model applied at INGEST: a stateless
    narrow map (operators/quality_model.py — literal-map fold), so it
    runs on a stream exactly as on a batch, with no state store and
    no watermark. The production placement of a first-tier quality
    filter: score documents as they arrive, before they ever land in
    the corpus."""
    from universal_importer_duckdb_spark.operators.quality_model import (
        quality_model_scores,
    )

    return quality_model_scores(docs, weights)


def streaming_lm_bits(docs: DataFrame, artifact: DataFrame) -> DataFrame:
    """Bigram-LM bits-per-token scored at INGEST against a held bit
    table (operators/lm.py::bigram_lm_artifact — the CCNet deployment
    shape: train the target LM once, perplexity-screen arriving
    documents forever). The plan is a stateless explode_outer +
    stream-static join on the vocab-bounded artifact + a per-document
    aggregation; each document arrives as ONE source row, so its
    bigrams land in a single micro-batch and the update-mode state
    for its doc_id is final when first emitted — the drained output
    equals the batch scores however availableNow splits the source,
    and the batch oracle applies (the streaming_dsir_scores
    contract)."""
    from universal_importer_duckdb_spark.operators.lm import (
        lm_bits_with_artifact,
    )

    return lm_bits_with_artifact(docs, artifact)


def streaming_multisignal_admission(
    docs_arriving: DataFrame,
    emb_static: DataFrame,
    fp_index: DataFrame,
    centroids,
    kept_q: DataFrame,
    weights: dict[str, int],
    eps2: int,
) -> DataFrame:
    """The three-gate admission funnel at INGEST (streaming twin of
    operators/admission.py::multisignal_admission): arriving documents
    are quality-scored by the stateless literal-map fold, fingerprint-
    checked by a stream-static join against the at-rest index, joined
    to their embedding (the embedder-sidecar output, static here),
    assigned to their k-means cluster by the null-safe Arrow-batched
    map, and min-folded against the cluster's kept members in one
    update-mode aggregation whose grouping keys carry the stateless
    verdicts through.

    STREAMING CONTRACT DIFFERENCE, by design: the exact gate checks
    the at-rest index ONLY — first-occurrence dedup WITHIN the
    arriving batch is a cross-arrival ordering question that the
    batch compactor owns (the production split: point lookups at
    ingest, periodic compaction for intra-batch ties), so this twin
    carries its own oracle (multisignal_admission_sql with
    intra_batch=False) rather than the batch entry's. Every other
    verdict depends only on at-rest state; each document is one
    source row, so its stream-static join matches complete within its
    own micro-batch and its single update-mode emission is final —
    the drained output equals the oracle however availableNow splits
    the source."""
    from universal_importer_duckdb_spark.operators.admission import (
        corpus_fingerprint,
    )
    from universal_importer_duckdb_spark.operators.quality_model import (
        quality_model_scores,
    )
    from universal_importer_duckdb_spark.operators.semdedup import _int_dist2
    from universal_importer_duckdb_spark.operators.similarity import (
        assign_to_centroids,
    )

    # the SAME stateless fold the batch funnel runs (one definition
    # governs both — finding from the r8 self-review); fingerprint
    # rides through as a carry column
    gated = (
        quality_model_scores(
            docs_arriving.withColumn(
                "fingerprint", corpus_fingerprint()
            ),
            weights,
            carry_cols=("fingerprint",),
        )
        .select("doc_id", "fingerprint", "n_words", "is_quality")
        .join(fp_index, "fingerprint", "left")
        .select(
            "doc_id",
            "n_words",
            "is_quality",
            F.col("__in_idx").isNotNull().alias("exact_dup"),
        )
        .join(
            emb_static.select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "doc_id",
            "left",
        )
    )
    assigned = assign_to_centroids(
        gated,
        centroids,
        id_col="doc_id",
        carry_cols=("n_words", "is_quality", "exact_dup"),
    )
    nn = (
        assigned.join(kept_q, "cluster", "left")
        .withColumn("dist2", _int_dist2(F.col("q"), F.col("qk")))
        .groupBy("doc_id", "exact_dup", "n_words", "is_quality", "cluster")
        .agg(F.min("dist2").alias("nn"))
    )
    sem_ok = F.col("nn").isNull() | (F.col("nn") > F.lit(int(eps2)))
    return nn.select(
        "doc_id",
        "exact_dup",
        "n_words",
        "is_quality",
        (F.col("cluster") >= 0).alias("has_embedding"),
        F.coalesce(F.col("nn"), F.lit(-1)).cast("bigint").alias("nn_d2"),
        (~sem_ok).alias("sem_dup"),
        (
            ~F.col("exact_dup")
            & F.col("is_quality")
            & (F.col("n_words") >= 1)
            & sem_ok
        ).alias("admitted"),
    )


def streaming_langid_scores(docs: DataFrame, artifact) -> DataFrame:
    """Rank-profile language ID at INGEST (streaming twin of
    operators/text_analysis.py::trigram_rank_langid): the vocab-
    bounded ``(profile_rows, m)`` artifact is trained once from the
    labeled batch corpus (langid_artifact) and rides in the Arrow
    scorer's closure; arriving documents are scored by a STATELESS
    per-row computation (trigram counts, top-n ranks, out-of-place
    distance) — no state store, no watermark, so the drained output
    equals the batch classifier however availableNow splits the
    source, and the batch oracle applies. The production
    langdetect-at-the-door placement."""
    from universal_importer_duckdb_spark.operators.text_analysis import (
        langid_score_with_profile,
    )

    return langid_score_with_profile(docs, artifact, n=20)
