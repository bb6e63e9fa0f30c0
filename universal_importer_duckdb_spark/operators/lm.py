"""Bigram language-model quality filtering (the CCNet lineage).

CCNet (Wenzek et al. 2020, arXiv:1911.00359) — and after it the
LLaMA/RedPajama web pipelines — scores every document by the
perplexity of a small language model trained on a high-quality target
corpus (Wikipedia), then keeps the low-perplexity tail. The model is
trained ONCE and becomes an at-rest artifact; scoring is a stateless
per-document pass, which is why the same operator serves batch
curation and streaming ingest. Reference anchor: none — the reference
(main.py) has no model-based selection; this is north-star scope for
the 100 TB pipeline, sibling to the DSIR tier (dsir.py) which scores
hashed-ngram IMPORTANCE where this scores sequential LIKELIHOOD.

Engine-exact formulation: floats and ``log()`` drift across engines,
so the per-bigram surprisal is the INTEGER BIT BUCKET

    bits(w1, w2) = length(binary(c1(w1) div c2(w1, w2)))
                 = floor(log2(c1 div c2)) + 1   >= 1

where ``c2`` is the bigram's count in the target corpus and
``c1(w1) = sum_w2 c2(w1, w2)`` its conditioning total — i.e. the
integer bit cost of the conditional probability ``c2/c1``, computed
via base-2 string conversion (Spark ``conv(x, 10, 2)`` == DuckDB
``bin(x)``), which both engines define exactly on BIGINT. An
out-of-vocabulary bigram costs a flat ``oov_bits`` (default 24 —
above any in-vocabulary cost until the target corpus exceeds 2^23
occurrences of one conditioning word, and an explicit parameter, not
a hidden smoothing). A document's score is

    bits_milli = 1000 * sum(bits over its bigrams) div n_bigrams

— scaled-integer bits-per-token, bit-identical across engines and
reduction orders (BIGINT sums), so rank cuts are reproducible
anywhere, the fixed-point discipline of dsir.py/quality_model.py.

Scale shape: the artifact is one map-side-combinable aggregation of
the TARGET subset only (bigram vocabulary: Heaps-bounded like the
DSIR/textrank/BPE artifacts), materialized via localCheckpoint; the
scoring pass is one corpus bigram explode joined against the
vocab-bounded artifact (explicit broadcast under the measured
BROADCAST_VOCAB_ROWS gate — a checkpointed frame has no catalog
stats for AQE — else a declarative shuffle join on (w1, w2)) into a
map-side-combinable per-document sum. No corpus-scale cache, no
window over a skewable key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from universal_importer_duckdb_spark.operators.dsir import (
    BROADCAST_VOCAB_ROWS,
)
from universal_importer_duckdb_spark.operators.quality_model import (
    quality_tokens,
)

OOV_BITS = 24


def _bigrams(text_col: str) -> Column:
    """``array<struct<w1,w2>>`` of adjacent token pairs over the
    shared lowered/space-split/empty-filtered token stream
    (quality_model.quality_tokens — one tokenization definition
    across the quality/DSIR/LM tiers).

    The token array is lambda-BOUND (text_analysis._bind) before the
    per-position lambda: lambda closures sit outside subexpression
    elimination, so capturing the quality_tokens EXPRESSION directly
    re-ran the full lower+split+filter once per element_at — twice per
    bigram, O(n·tokenize) per document. Measured (x16 replicated
    sf0.1, 80k docs): the bigram map stage was 27.9 s expression-
    captured vs 0.36 s bound — the entire "map-side explode floor"
    the r11 decomposition attributed to this entry was re-tokenization
    waste, found when the r12 scale probe showed the entry scaling
    data-proportionally (exp 0.77) instead of flat like a floor."""
    from universal_importer_duckdb_spark.operators.text_analysis import (
        _bind,
    )

    def body(toks):
        n = F.size(toks)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        )

    return _bind(quality_tokens(text_col), body)


def bigram_lm_artifact(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
) -> DataFrame:
    """Train the bigram bit-cost table on the target subset: one
    corpus pass (bigram explode of target rows only), two
    vocab-bounded aggregations, materialized with localCheckpoint
    (the dsir_contribution_artifact discipline: train once, hold at
    rest, score forever). Returns ``(w1, w2, bits)``."""
    pairs = (
        docs.filter(is_target)
        .select(F.explode(_bigrams(text_col)).alias("b"))
        .select("b.w1", "b.w2")
    )
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c2")
    )
    c1 = c2.groupBy("w1").agg(F.sum("__c2").cast("bigint").alias("__c1"))
    # a lineage cut, not scoped_cache: held in the session cache, the
    # warm re-query was slower — docs_bigram_lm_bits at sf0.1, 4 vCPUs,
    # median of 5 runs after release + clearCache, 6 interleaved
    # sweeps: 0.187 s checkpointed vs 0.263 s cached, slower in 6 of 6
    # pairs (stream_lm_bits, which rebuilds the artifact per call, was
    # 1.00 vs 0.88 s the other way)
    return (
        c2.join(c1, "w1")
        .select(
            "w1",
            "w2",
            F.length(
                F.conv(
                    F.expr("CAST(__c1 div __c2 AS BIGINT)").cast("string"),
                    10,
                    2,
                )
            )
            .cast("bigint")
            .alias("bits"),
        )
        .localCheckpoint()
    )


def lm_bits_with_artifact(
    docs: DataFrame,
    artifact: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_bits: int = OOV_BITS,
) -> DataFrame:
    """Score documents (batch frame OR readStream frame — the plan is
    a stateless explode + stream-static-joinable artifact lookup +
    per-document aggregation) against a held bigram bit table.
    Documents with fewer than two tokens have no bigram evidence:
    ``n_bigrams = 0, bits_milli = 0`` (the wordless-document
    convention of quality_model.py — no evidence is not high
    surprisal). Returns ``(id, n_bigrams, bits_milli)`` for EVERY
    input document."""
    if not docs.isStreaming and artifact.count() <= BROADCAST_VOCAB_ROWS:
        artifact = F.broadcast(artifact)
    # explode_OUTER so a sub-2-token document still emits one (null)
    # row and appears in the output with zero evidence — a base-frame
    # rejoin would work for batch but be a stream-stream join in the
    # ingest twin; this keeps the whole plan a stateless explode +
    # stream-static lookup + per-doc aggregation (the dsir.py
    # include_wordless idiom)
    exploded = docs.select(
        F.col(id_col), F.explode_outer(_bigrams(text_col)).alias("b")
    ).select(id_col, "b.w1", "b.w2")
    return (
        # left join: an unseen bigram — the NORMAL case for raw web
        # text against a curated target model — costs oov_bits, it is
        # never dropped (the dsir.py OOV contract); null explode rows
        # match nothing and count nothing
        exploded.join(artifact, ["w1", "w2"], "left")
        .groupBy(id_col)
        .agg(
            F.count("w1").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.when(
                    F.col("w1").isNotNull(),
                    F.coalesce(F.col("bits"), F.lit(oov_bits)),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("__s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.expr(
                "CAST(CASE WHEN n_bigrams > 0 THEN (1000 * __s) div "
                "n_bigrams ELSE 0 END AS BIGINT)"
            ).alias("bits_milli"),
        )
    )


def bigram_lm_bits(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_bits: int = OOV_BITS,
) -> DataFrame:
    """Train on the target subset of ``docs``, score EVERY document
    (target rows included) — the one-call batch form mirroring
    dsir_scores."""
    artifact = bigram_lm_artifact(docs, is_target, text_col=text_col)
    return lm_bits_with_artifact(
        docs, artifact, text_col=text_col, id_col=id_col, oov_bits=oov_bits
    )
