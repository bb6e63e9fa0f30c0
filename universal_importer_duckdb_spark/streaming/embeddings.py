"""Streaming source + semantic-dedup admission over the embeddings
table.

Same file-stream pattern as ``streaming/docs.py``: the sf directory is
the stream root with a glob filter so only embeddings.parquet is
listed. An embedding stream models continuous vector ingest (new
documents being embedded into a deduplicated training corpus); the
SemDeDup admission check then runs per arrival instead of re-scanning
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

EMB_RAW_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def stream_embeddings(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "embeddings.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over embedding parquet in ``sf_dir`` (glob-filtered
    so sibling tables are not listed)."""
    reader = (
        spark.readStream.schema(EMB_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    return reader.load(f"{sf_dir}/")


def streaming_semdedup_ingest(
    arriving: DataFrame,
    centroids,
    kept_q: DataFrame,
    eps2: int,
) -> DataFrame:
    """SemDeDup admission at INGEST: arriving vectors are assigned to
    their integer k-means cluster (stateless Arrow-batched map with
    the centroid matrix in the closure), joined stream-static against
    the at-rest KEPT members of that cluster, and admitted iff no kept
    member lies within ``eps2`` exact integer squared L2.

    Verdicts depend only on the static at-rest state (never on other
    arrivals), so each vector's emission is final on first appearance
    and the drained output equals operators/semdedup.py::
    incremental_semdedup however availableNow splits the source — the
    batch oracle applies. The per-arrival aggregation (min over the
    cluster's kept members) is an update-mode streaming aggregate; at
    deployment scale the state it carries is one row per in-flight
    arrival, not per corpus member — the corpus side stays an at-rest
    broadcast-or-shuffle static frame, exactly the
    stream_incremental_upsert discipline.
    """
    from universal_importer_duckdb_spark.operators.semdedup import (
        _admit_against_kept,
    )
    from universal_importer_duckdb_spark.operators.similarity import (
        assign_to_centroids,
    )

    assigned = assign_to_centroids(arriving, centroids)
    return _admit_against_kept(assigned, kept_q, eps2)


def streaming_drift_registers(arriving: DataFrame, centroids) -> DataFrame:
    """The arriving side of embedding_ingest_drift as STREAMING state:
    assign each arriving vector to its at-rest cluster (stateless
    Arrow map, centroid matrix in the closure) and maintain the
    per-cluster (count, sum d2) aggregate in update mode — the state
    store is capped at n_clusters rows forever (the CMS/HLL bounded-
    state class: additive integer monoid, so partial aggregation
    absorbs any arrival rate). Emissions only grow; the drained
    output max-folds to the final per-cluster totals
    (finalize_drift_registers), which then join the batch at-rest
    side exactly as in operators/similarity.py::
    embedding_ingest_drift — same verdicts, same oracle."""
    from universal_importer_duckdb_spark.operators.similarity import (
        drift_registers,
    )

    return drift_registers(arriving, centroids, "arriving")


def finalize_drift_registers(drained: DataFrame) -> DataFrame:
    """Fold update-mode emissions (one row per cluster per micro-batch
    that touched it) to the final totals: counts and sums only ever
    grow, so MAX per cluster is the last state — the
    finalize_cms_sketch idiom."""
    from pyspark.sql import functions as F

    return drained.groupBy("cluster").agg(
        F.max("n_arriving").cast("bigint").alias("n_arriving"),
        F.max("__s_arriving").cast("bigint").alias("__s_arriving"),
    )
