"""Corpus-assembly operators: the steps between "a cleaned document
set" and "tensors on a trainer" that the dedup/quality stages
(dedup_text.py, text_analysis.py) feed into:

- hash_split            — deterministic train/val/test assignment by
                          content-independent key hash
- source_mixture_sample — per-source weighted downsampling with a
                          seeded hash threshold (domain mixing)
- benchmark_ngram_overlap — n-gram collision screening against a
                          held-out benchmark set (decontamination)
- pack_token_sequences  — GPT-style concat-and-split sequence packing
                          via a scale-safe two-level prefix sum
- cap_per_key           — at most k rows per key (domain balancing)
                          with a skew-safe two-stage top-k
- stratified_hash_sample — deterministic k-per-stratum uniform sample
                          by seeded hash order (eval-set carving)

All pure column expressions (no UDFs); every hash is md5-derived so
each operator replays bit-for-bit in the DuckDB oracle (see
entry_queries.py — the md5_28 discipline from operators/dedup_text.py).
Reference capability anchor: the reference ends at validated exports
(main.py:262); these extend the same declarative pipeline into
training-set assembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 28-bit md5 prefix of a key: uniform on [0, 2^28), portable to DuckDB
# as ('0x'||substr(md5(s),1,7))::BIGINT — see dedup_text.shingle_hash.
_HASH_SPACE = 1 << 28


def _md5_28(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("string").cast("binary")), 1, 7), 16, 10
    ).cast("bigint")


def _gram64(col):
    """The self-dedup GRAM SPACE: xxhash64 (full 64 bits). For hashes
    compared corpus-AGAINST-ITSELF — self-dedup squares the collision
    exposure relative to a small-probe join, and a 28-bit space over
    ~1M distinct grams expects thousands of colliding pairs, each of
    which would mark (and excise!) genuine text; at 64 bits the
    expectation is ~3e-8 (the r9 md5-60 widening, re-based r10).

    xxhash64 instead of an md5 prefix for two reasons: (1) it is
    ~4x cheaper per window (measured at sf0.1: the positional gram
    explode drops 0.32 -> 0.23 s), and the gram hash runs once per
    token window — the hottest expression in the self-dedup family;
    (2) the DuckDB oracles keep their md5-60 gram space, so the two
    engines now inhabit INDEPENDENT collision spaces: a false span
    born of a hash collision on either side value-hash-MISMATCHES at
    the driver gate instead of being invisibly shared (the r9 review
    found exactly such a shared-space artifact at 28 bits). Gram
    hashes never appear in any output — only token spans and counts
    do — so parity holds whenever neither space collides, which at
    ~1M grams is a ~1e-7 event even pairwise-squared."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.98), ("val", 0.01), ("test", 0.01),
    ),
    salt: str = "split-v1",
) -> DataFrame:
    """Assign every row to a split by hashing (salt, id) — the only
    split rule that survives re-runs, re-partitioning, and incremental
    ingest (a doc's split never changes when other docs arrive, unlike
    randomSplit, which depends on partitioning). A narrow map: no
    shuffle, no state. Weights are cumulative thresholds on the 28-bit
    hash space; change ``salt`` to draw a fresh assignment."""
    total = sum(w for _, w in weights)
    h = _md5_28(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    expr = None
    acc = 0.0
    for name, w in weights:
        acc += w
        bound = int(_HASH_SPACE * (acc / total))
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # top bound may round below 2^28; close the interval explicitly
    expr = expr.otherwise(F.lit(weights[-1][0]))
    return df.withColumn("split", expr)


def source_mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "mix-v1",
) -> DataFrame:
    """Domain mixing: keep each row with its source's target rate,
    decided by a seeded hash of (salt, id) — deterministic, exactly
    reproducible on re-runs, and independent per row (no shuffle, no
    sampling state; at 100 TB this is a filter pushed onto the scan).
    The thresholds quantize to the 28-bit hash space, so realized
    rates match requested rates to ~4e-9."""
    h = _md5_28(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    bound = None
    for src, rate in sorted(rates.items()):
        b = F.lit(int(_HASH_SPACE * min(max(rate, 0.0), 1.0)))
        bound = F.when(F.col(source_col) == src, b) if bound is None else bound.when(
            F.col(source_col) == src, b
        )
    bound = (
        bound.otherwise(F.lit(int(_HASH_SPACE * default_rate)))
        if bound is not None
        else F.lit(int(_HASH_SPACE * default_rate))
    )
    return df.filter(h < bound)


def word_ngrams_hashed(
    frame: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "gram",
    hasher=None,
) -> DataFrame:
    """(id, hashed word n-gram) pairs, distinct per doc (the
    ``array_distinct`` runs BEFORE the explode — right for consumers
    that need the per-DOC gram set, like decontamination overlap
    counts; wrong for a grams-only global index, where interpreted
    O(windows²) array_distinct loses to the map-side combine of a
    plain distinct — measured, see incremental_duplicate_spans).
    Default hash md5-derived 28-bit — 8 bytes shuffled per gram,
    never the text, and bit-reproducible in DuckDB SQL.

    The token array is materialized as its own column BEFORE the
    per-gram lambda: Spark's subexpression elimination does not reach
    inside higher-order-function lambdas, so a split() captured in
    the lambda closure re-tokenizes the document once per gram —
    O(tokens²) per doc."""
    h = hasher or _md5_28
    base = frame.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("__wng_toks"),
    )
    toks = F.col("__wng_toks")
    # guard the short-doc case explicitly: F.sequence(1, 0) yields a
    # DESCENDING [1, 0] (phantom grams), not the empty list
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    g = F.transform(
        idx, lambda i: h(F.array_join(F.slice(toks, i, n), " "))
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(g)).alias(out)
    )


def word_ngrams_hashed_kernel(
    frame: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "gram",
) -> DataFrame:
    """Arrow-batched twin of ``word_ngrams_hashed`` for the md5-28
    gram space: identical (id, per-doc-distinct hashed gram) output,
    built inside a ``mapInPandas`` kernel instead of the interpreted
    per-window HOF chain.

    Why (r14, closing the r13 contamination floor): higher-order
    lambdas evaluate INTERPRETED (~1 µs/element, see the r12/r13
    probes), and the window build runs slice+array_join+md5+transform
    per window — measured 10.9 µs/window of core time at x16 (the
    gram build alone was 1.28 s of docs_benchmark_contamination's
    1.97 s). The same work in CPython — ``str.split``, list-slice
    join, ``hashlib.md5`` — measures 1.39 µs/window single-core, an
    ~8x per-core win, and the md5-28 value is BIT-IDENTICAL
    (``int(md5(gram).hexdigest()[:7], 16)`` ==
    ``conv(substring(md5(gram), 1, 7), 16, 10)`` == the oracle's
    ``('0x'||substr(md5(gram),1,7))::BIGINT``), so the shared
    hash space — which the overlap COUNTS depend on — is preserved
    exactly; no parity risk.

    Contracts mirrored from the HOF form:
      * ``split(lower(text), ' ')`` tokenization — Java and Python
        split-on-single-space agree including empty tokens from
        consecutive spaces ("" stays a token), and ' '.join over any
        token window reconstructs the exact original substring, so
        the gram STRINGS are identical (ASCII certification data;
        exotic locale-sensitive case folds are out of contract);
      * per-doc distinct BEFORE the explode (a set per doc);
      * short docs (< n tokens) and NULL text emit nothing.

    Map-only: ``mapInPandas`` preserves the no-exchange contract the
    100 TB adjudication demands — parallelism is the input's split
    count (spread upstream if single-split), and kernel memory is one
    Arrow batch plus a per-doc gram set, independent of corpus size.
    """
    import hashlib

    import pandas as pd

    id_type = frame.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out} long"
    width = n - 1

    def kernel(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            grams: list = []
            for did, text in zip(pdf[id_col].values, pdf[text_col].values):
                if text is None:
                    continue
                toks = text.lower().split(" ")
                m = len(toks) - width
                if m <= 0:
                    continue
                seen = set()
                for i in range(m):
                    seen.add(
                        int(
                            md5(" ".join(toks[i:i + n]).encode("utf-8"))
                            .hexdigest()[:7],
                            16,
                        )
                    )
                ids.extend([did] * len(seen))
                grams.extend(seen)
            yield pd.DataFrame({id_col: ids, out: grams})

    return frame.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def benchmark_ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination screening: for every document, how many of its
    word n-grams appear anywhere in the benchmark set (the GPT-3/Pile
    procedure: held-out eval text must not leak into training data).

    Shape at scale: both sides explode to DISTINCT hashed n-grams
    (md5-derived bigints — 8 bytes shuffled per gram, never the text),
    the benchmark side is collapsed to its distinct gram set (tiny vs
    the corpus: eval suites are MBs), and one inner join + count-agg
    per doc yields overlap counts. Catalyst broadcasts the benchmark
    gram set when it fits — the common case — so the corpus side never
    shuffles at all; flagged docs come back id-only.

    r14: the gram build runs the Arrow kernel twin
    (``word_ngrams_hashed_kernel`` — same md5-28 values, same per-doc
    distinct, ~8x cheaper per core than the interpreted HOF window
    chain that was 1.28 s of the 1.97 s x16 entry)."""
    doc_grams = word_ngrams_hashed_kernel(docs, n, text_col, id_col)
    bench_grams = (
        word_ngrams_hashed_kernel(benchmark, n, text_col, id_col)
        .select("gram")
        .distinct()
    )
    overlap = (
        doc_grams.join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap_ngrams", F.lit(0)).alias("n_overlap_ngrams"),
            (F.coalesce("n_overlap_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def cross_doc_ngram_dup(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplication diagnostics: for every doc, the
    fraction of its distinct word n-grams that appear in at least one
    OTHER doc (n=13 is the Gopher/MassiveText constant for "memorized
    span"). Exact copies score 1.0; partial template reuse scores in
    between — the measurement that tells you whether near-dup dedup is
    actually done.

    Shape at scale: the classic inverted-index build — explode to
    distinct (doc, gram) pairs, one hash-agg for per-gram document
    frequency, one shuffle join back on the 8-byte gram hash, one
    per-doc agg. Every shuffled payload is (bigint, bigint)."""
    doc_grams = word_ngrams_hashed(docs, n, text_col, id_col)
    gram_df = doc_grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__df")
    )
    per_doc = (
        doc_grams.join(gram_df, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_dup_grams") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
            frac.alias("dup_gram_frac"),
        )
    )


def cap_per_key(
    df: DataFrame,
    key_cols,
    k: int,
    order_cols,
    rank_col: str = "rn",
    presift_salts: int = 8,
) -> DataFrame:
    """Keep at most ``k`` rows per key, taken in ``order_cols`` order —
    the web-corpus domain-balancing step (no single domain may dominate
    the training mix). ``order_cols`` must induce a TOTAL order within
    each key (end with a unique id) so the kept set is deterministic.

    Skew is the whole problem here: a plain per-key ROW_NUMBER window
    shuffles every row of a hot key (a crawl's biggest domain can be
    billions of rows) into ONE reducer. This runs the classic two-stage
    top-k instead: stage 1 ranks within (key, salt) — a deterministic
    hash-salt splitting each hot key across ``presift_salts`` reducers
    — and discards everything past k, so stage 2's exact per-key window
    sees at most k*presift_salts rows per key, bounded regardless of
    how hot the key is. The global top-k is a subset of the union of
    per-salt top-ks, so the result is identical to the one-stage form
    for ANY salt count — which is what the plain-window SQL oracle
    certifies. Set ``presift_salts=0`` to skip the pre-sift (tiny
    inputs, or when the planner should see a single exchange)."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order_cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    out = df
    if presift_salts:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(presift_salts)
        )
        w_pre = Window.partitionBy(*key_cols, "__salt").orderBy(*order_cols)
        out = (
            out.withColumn("__salt", salt)
            .withColumn("__prn", F.row_number().over(w_pre))
            .filter(F.col("__prn") <= k)
            .drop("__salt", "__prn")
        )
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        out.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
        .filter(F.col(rank_col) <= k)
    )


def stratified_hash_sample(
    df: DataFrame,
    strata_cols,
    k: int,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
    rank_col: str = "rn",
) -> DataFrame:
    """Exactly ``k`` rows per stratum (fewer if the stratum is
    smaller), chosen uniformly and DETERMINISTICALLY by ranking on a
    seeded md5 hash of the id — the eval-set carving step (fixed-size
    per-language/per-source holdouts that never change across re-runs
    or repartitioning, unlike sampleBy). Membership is stable under
    corpus growth in the same sense as hash_split: a new doc displaces
    at most one old doc per stratum rather than reshuffling the set.
    Rides on :func:`cap_per_key`, so hot strata get the same two-stage
    skew treatment; the hash replays in DuckDB for the oracle."""
    h = _md5_28(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    return (
        cap_per_key(
            df.withColumn("__h", h),
            strata_cols,
            k,
            ["__h", id_col],
            rank_col=rank_col,
        )
        .drop("__h")
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "prio-v1",
) -> DataFrame:
    """Weighted k-row sample without replacement — sequential Poisson
    (priority) sampling (Ohlsson '98): each row draws a deterministic
    uniform u from the seeded 28-bit md5 of its id and gets priority
    u/weight; the k SMALLEST priorities win, so a row's inclusion
    probability is ~proportional to its weight. The workhorse for
    weight-aware corpus subsampling (weight = token count, quality
    score, domain multiplier...) with the same determinism contract as
    hash_split: membership is a pure function of (salt, id, weight),
    stable under re-runs and re-partitioning, and a new row displaces
    at most one old one.

    The priority is ONE double division of two exact integers, so it
    replays bit-identically in the SQL oracle — no pow/log (classic
    A-ES uses u^(1/w); the Ohlsson variant is transcendental-free,
    which is why it's the one used here). Weights scale to fixed-point
    integers (6 implied decimals) first, so FRACTIONAL weights —
    quality scores in (0,1), the docstring's own example — keep their
    relative magnitudes instead of truncating to zero, and the
    division stays exact-int over exact-int; weights below 5e-7 round
    to zero and are excluded like any non-positive weight. Top-k is
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    u = _md5_28(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = F.round(F.col(weight_col) * 1_000_000).cast("bigint")
    pri = (u / w).alias("priority")
    return (
        df.filter(w > 0)
        .select("*", pri)
        .orderBy("priority", id_col)
        .limit(k)
    )


def pack_token_sequences(
    chunks: DataFrame,
    seq_len: int = 2048,
    tokens_col: str = "chunk_tokens",
    order_cols: tuple[str, str] = ("doc_id", "chunk_idx"),
    bucket_width: int = 4096,
) -> DataFrame:
    """GPT-style sequence packing: concatenate all chunks in a fixed
    global order and cut every ``seq_len`` tokens; each chunk learns
    which packed sequence it starts in (``seq_id``) and at which
    offset (``seq_offset``). This is the concat-and-split packing used
    to build dense training batches (no padding waste).

    The global running token count is a prefix sum, computed
    scale-safely in two levels instead of one global-order window
    (which Spark executes in a SINGLE partition — the classic
    silent-bottleneck trap at any real size):

      1. bucket = doc_id DIV bucket_width (deterministic, contiguous
         in the global order). Within each bucket, a window cumsum —
         parallel across buckets.
      2. bucket totals (corpus/bucket_width rows — thousands, not
         billions) get the single-partition window cumsum, which is
         trivially small, then broadcast-join back as offsets.

    The result is identical to the one-level global cumsum for ANY
    bucket_width — partitioning never changes the sum — which is what
    the SQL oracle (plain global window cumsum) certifies."""
    doc_col, idx_col = order_cols
    bucket = (F.col(doc_col) / bucket_width).cast("bigint").alias("__bucket")
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(doc_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_local = chunks.select(
        F.col(doc_col), F.col(idx_col), F.col(tokens_col), bucket
    ).withColumn(
        "__local_before", F.coalesce(F.sum(tokens_col).over(w_in), F.lit(0)).cast("bigint")
    )
    totals = with_local.groupBy("__bucket").agg(
        F.sum(tokens_col).cast("bigint").alias("__bucket_total")
    )
    w_buckets = (
        Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__offset", F.coalesce(F.sum("__bucket_total").over(w_buckets), F.lit(0))
    ).select("__bucket", "__offset")
    before = (F.col("__local_before") + F.col("__offset")).alias("tokens_before")
    return (
        with_local.join(F.broadcast(offsets), "__bucket")
        .select(
            doc_col,
            idx_col,
            F.col(tokens_col),
            before,
        )
        .withColumn("seq_id", (F.col("tokens_before") / seq_len).cast("bigint"))
        .withColumn(
            "seq_offset", (F.col("tokens_before") % seq_len).cast("bigint")
        )
    )


def budget_select(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    id_col: str = "doc_id",
    token_budget: int = 100_000,
    n_buckets: int = 1024,
) -> DataFrame:
    """Token-budget corpus selection: order documents best-first and
    keep the maximal prefix whose cumulative token count fits the
    budget — the "give me the best N-token corpus" primitive behind
    data mixing and compute-matched ablations.

    Returns every input row with (score, n_tokens, tokens_before,
    selected); ``selected`` is the pure-prefix rule
    ``tokens_before + n_tokens <= budget`` on the (score desc, id)
    ordering, so the decision is deterministic and replayable.

    The global cumulative sum uses the same two-level prefix sum as
    :func:`pack_token_sequences`, with one twist: the level-1 bucket
    must be a NON-INCREASING function of the score so buckets are
    contiguous in the global order — ``floor((1 - score) * n_buckets)``
    for scores in [0, 1]. Within buckets the window cumsum runs in
    parallel; only the n_buckets bucket totals see a single-partition
    window. Identical to the one-level global cumsum for any
    n_buckets, which the SQL oracle (plain global window) certifies.
    Scores outside [0, 1] clamp into the edge buckets — correctness
    is unaffected (bucketing only affects parallelism when it
    degenerates).
    """
    b = F.floor((F.lit(1.0) - F.col(score_col)) * n_buckets)
    bucket = F.least(
        F.greatest(b, F.lit(0)), F.lit(n_buckets - 1)
    ).cast("bigint")
    base = df.select(
        F.col(id_col),
        F.col(score_col),
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
        bucket.alias("__bucket"),
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(F.desc(score_col), id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_local = base.withColumn(
        "__local_before",
        F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("bigint"),
    )
    totals = with_local.groupBy("__bucket").agg(
        F.sum("n_tokens").cast("bigint").alias("__t")
    )
    w_b = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__t").over(w_b), F.lit(0))
    ).select("__bucket", "__off")
    before = (F.col("__local_before") + F.col("__off")).alias("tokens_before")
    return (
        with_local.join(F.broadcast(offsets), "__bucket")
        .select(
            id_col,
            F.col(score_col).alias("score"),
            "n_tokens",
            before,
        )
        .withColumn(
            "selected",
            (F.col("tokens_before") + F.col("n_tokens"))
            <= F.lit(int(token_budget)),
        )
    )


def curriculum_stages(
    df: DataFrame,
    score_col: str,
    n_stages: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum-learning stage assignment: rank the corpus by a
    difficulty/quality score and split it into ``n_stages`` equal
    NTILE buckets (stage 1 = lowest score trains first). The ordering
    ties-breaks on the id so the assignment is deterministic and
    engine-portable (ANSI NTILE: the first ``count % n`` buckets get
    the extra row — Spark and DuckDB agree).

    A global NTILE is a total order — a single-partition window — so
    this is the one operator here that intentionally serializes. At
    100 TB you run it on the (id, score) projection only (two narrow
    columns), or swap the exact NTILE for quantile-boundary bucketing
    via approx percentiles when rank exactness isn't required; the
    exact form is the contract certified here.

    Reference anchor: none (main.py has no ordering operators) —
    training-data north-star scope.
    """
    w = Window.orderBy(F.col(score_col), F.col(id_col))
    return df.select(
        id_col,
        F.col(score_col).cast("bigint").alias("score"),
        F.ntile(n_stages).over(w).alias("stage"),
    )


def temperature_resample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    temperature: int = 2,
    boost: int = 10,
) -> DataFrame:
    """Temperature-scaled source rebalancing: downsample big sources
    so sampled sizes scale like n_s^(1/T) instead of n_s (the
    standard LLM-mixture flattening; T=1 keeps proportions, T=inf is
    uniform). Deterministic hash thresholding — a document is kept iff
    ``md5_28(id) pmod n_s < boost * floor(n_s^(1/T))`` (the portable
    28-bit md5-prefix hash, NOT xxhash64) — so the
    expected kept count is ~boost * n_s^(1/T) per source and reruns
    are reproducible with no RNG state.

    Exactness note: T=2 uses sqrt, which IEEE 754 requires to be
    correctly rounded — bit-identical across engines, so the oracle
    can replay the threshold exactly. Other temperatures go through
    pow(), which carries no such guarantee; the operator allows them
    but only T=2 is certified hash-exact. The hash is the portable
    md5-prefix (same as hash_split) so any engine reproduces the
    per-document keep decision.

    Shape: one tiny per-source count aggregate broadcast back; the
    corpus itself is filtered in place with zero shuffles.
    """
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_s")
    )
    if temperature == 2:
        thr = F.floor(F.sqrt(F.col("__n_s"))).cast("bigint")
    else:
        thr = F.floor(
            F.pow(F.col("__n_s"), 1.0 / temperature)
        ).cast("bigint")
    thresholds = counts.select(
        source_col, (F.lit(boost) * thr).alias("__thr"), "__n_s"
    )
    return (
        df.join(F.broadcast(thresholds), source_col)
        .filter(
            F.pmod(_md5_28(F.col(id_col)), F.col("__n_s")) < F.col("__thr")
        )
        .drop("__thr", "__n_s")
    )


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level decontamination: instead of dropping every document
    that shares an n-gram with the benchmark (benchmark_ngram_overlap
    — wasteful when one quoted sentence taints a long document),
    return the exact TOKEN SPANS to excise: overlapping contaminated
    n-gram windows merged into maximal intervals per document.

    Shape: positions ride along the hashed-gram explode (8-byte gram
    + int offset per window), the benchmark gram set is distinct and
    broadcast-sized, and the interval merge is the classic
    gaps-and-islands — a running max(end) window PER DOCUMENT, so the
    merge shuffles only contaminated windows, not the corpus. All
    integer arithmetic; hash-exact in the oracle.

    Gram space: md5-28, matching word_ngrams_hashed's benchmark side.
    The false-positive exposure here is |bench grams| x |corpus
    grams| / 2^28 — a SMALL-probe join, orders below the
    corpus-squared exposure that made cross_doc_duplicate_spans
    adopt a 64-bit space; a collision costs an extra excised window against
    an already-quarantined benchmark, not silent self-destruction.

    Output: one row per merged span —
    ``(doc_id, span_start, span_end, n_grams)`` with 1-based token
    positions, inclusive.
    """
    positioned = positioned_ngrams(docs, n, text_col, id_col)

    # left-semi against the (non-deduplicated) benchmark gram stream:
    # each window matches at most once regardless of how many
    # benchmark docs share the gram, so the explicit distinct — and
    # its shuffle exchange — is unnecessary (r8 stage-count trim; the
    # oracle's JOIN-against-distinct produces the identical hit set)
    bench = word_ngrams_hashed(benchmark, n, text_col, id_col).select(
        "gram"
    )
    hits = positioned.join(bench, "gram", "left_semi").select(
        id_col,
        F.col("i").alias("s"),
        (F.col("i") + (n - 1)).alias("e"),
    )
    return merge_token_spans(hits, id_col)


def positioned_ngrams(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher=None,
) -> DataFrame:
    """Every word n-gram window WITH its 1-based start position:
    ``(id, i, gram)`` where gram is a hashed form of the lowered
    space-joined window — the positional explode shared by span-level
    decontamination (md5-28, matching word_ngrams_hashed's benchmark
    side) and cross-doc substring self-dedup (xxhash64: the
    self-comparison needs a wide, cheap space, see _gram64). 8-byte gram
    + int offset per window, nothing wider."""
    h = hasher or _md5_28
    base = docs.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("i"),
                    h(
                        F.array_join(F.slice(toks, i, n), " ")
                    ).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.i").alias("i"), F.col("g.gram").alias("gram"))


def merge_token_spans(hits: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gaps-and-islands merge of ``(id, s, e)`` token windows into
    maximal intervals: a running max(e) window PER DOCUMENT, so only
    hit windows shuffle, never the corpus. Output
    ``(id, span_start, span_end, n_grams)``, 1-based inclusive."""
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "__new",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__new").over(
            Window.partitionBy(id_col)
            .orderBy("s")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("s").cast("bigint").alias("span_start"),
            F.max("e").cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def cross_doc_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring corpus SELF-dedup at span level (the
    deduplicate-training-data operation of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): a token window is DUPLICATED when the
    identical n-gram occurs in an EARLIER document (min doc_id over
    the gram's occurrences < this doc's id — the engine's standard
    first-occurrence-keeps rule, so the first document containing a
    passage keeps it and every later copy gets an excision span).
    Duplicated windows merge into maximal per-document intervals via
    the shared gaps-and-islands kernel; feeding the result to
    :func:`excise_spans` yields the self-deduplicated corpus.

    Shape — and why it scales where a suffix array does not shard:
    the positional gram explode is one narrow stream (8-byte hash +
    int offset); the earliest-holder verdict is
    ``groupBy(gram).agg(min(id))`` joined back onto the stream — NOT
    ``min(id) OVER (PARTITION BY gram)``. The window form co-locates
    EVERY occurrence of a gram in one sorted group, so a hot gram
    (license boilerplate repeated across millions of documents —
    exactly the rows this operator exists to find) becomes a single
    spill-and-straggle task at corpus scale (r9 verdict #4). The
    groupBy form partial-aggregates on the map side (the exchange
    carries one row per distinct gram per map task, not one per
    occurrence), and the join-back builds against only the
    CROSS-DOC-SHARED grams (min holder != max holder — r11; a
    single-holder gram can never mark a span, and shared grams are a
    small minority of distinct grams on real text, so the verdict
    side shrinks 10-100x and AQE typically broadcasts it, removing
    the probe-side exchange outright; when it IS too big it remains
    an AQE-skew-splittable hash join); no global sort anywhere
    (suffix-array construction is a global order; this is the same
    verdict computed groupwise). The island merge then shuffles only
    duplicated windows. Intra-doc repeats are deliberately NOT spans
    here (the intradoc segment entry owns those): a gram whose
    earliest holder is this document marks only the LATER documents.

    Output: ``(doc_id, span_start, span_end, n_grams)`` — 1-based
    inclusive token positions, all-integer, hash-exact oracle.

    Gram space: xxhash64 (_gram64), NOT the md5-28 the benchmark
    probe uses — this hash is compared corpus-against-itself, and a
    false gram-collision here marks (and downstream EXCISES) genuine
    text. At 28 bits, ~1M distinct grams expect ~2,000 colliding
    pairs; at 64 bits the expectation is ~3e-8 (r9 review finding,
    re-based r10 onto the cheaper hash; the oracle stays md5-60, so
    the two engines' collision spaces are independent and parity
    catches either side's artifacts).
    """
    from universal_importer_duckdb_spark.caching import scoped_cache

    # the positioned stream feeds BOTH the firsts aggregate and the
    # join probe; scoped-cache it (the containment.py/dedup_text.py
    # fan-out idiom) so tokenize+md5 runs once, not once per branch —
    # MEMORY_AND_DISK, so at corpus scale it spills rather than OOMs,
    # and release_scoped/clearCache drains it deterministically.
    positioned = scoped_cache(
        positioned_ngrams(docs, n, text_col, id_col, hasher=_gram64)
    )
    # SHARED grams only (min holder != max holder): a gram held by a
    # single document can never mark a span — its only occurrences
    # satisfy __first == id — so it is dropped BEFORE the join-back
    # (r11). On real corpora cross-doc-shared grams are a small
    # minority of distinct grams (most text is unique), so the
    # verdict/build side shrinks 10-100x: at bench scale AQE can now
    # broadcast it (no corpus-sized probe exchange at all); at 100 TB
    # the hash join ships only the shared-gram verdicts instead of
    # one row per distinct gram. Semantically identical — the dropped
    # rows could never pass the __first < id filter.
    firsts = (
        positioned.groupBy("gram")
        .agg(
            F.min(id_col).alias("__first"),
            F.max(id_col).alias("__last"),
        )
        .filter(F.col("__first") < F.col("__last"))
        .select("gram", "__first")
    )
    hits = (
        positioned.join(firsts, "gram")
        .filter(F.col("__first") < F.col(id_col))
        .select(
            id_col,
            F.col("i").alias("s"),
            (F.col("i") + (n - 1)).alias("e"),
        )
    )
    return merge_token_spans(hits, id_col)


def gram_index(
    at_rest: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The at-rest corpus's STORED distinct gram index — the single
    artifact the whole incremental admission family reads: 8 bytes
    per distinct n-gram, written once by the corpus pass and then
    probed by every arriving batch (`incremental_duplicate_spans`
    wants the seen windows for excision, `ingest_novelty` wants the
    unseen fraction for curriculum — one index, two reads).

    The distinct partial-aggregates map-side, so the one build
    exchange carries one row per distinct gram per map task, never
    one per positional occurrence (the r9 hot-gram verdict).

    The index is held through ``scoped_cache`` — the production
    serving shape, where the index persists from the last corpus pass
    and per-batch admission only pays the probe. The first action
    builds it; ``release_scoped`` frees it and a later action
    recomputes it from its plan. Heaps' law bounds it far below the
    token stream: ~8 B x distinct grams.
    """
    from universal_importer_duckdb_spark.caching import scoped_cache

    return scoped_cache(
        positioned_ngrams(at_rest, n, text_col, id_col, hasher=_gram64)
        .select("gram")
        .distinct()
    )


def store_gram_index(
    at_rest: DataFrame,
    table_name: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> DataFrame:
    """Persist the at-rest gram index as a BUCKETED table — the 100 TB
    deployment of :func:`gram_index`, where the index outlives the
    session (a cached index lives only as long as the session).
    Bucketed by ``gram``, every per-batch probe join
    (``incremental_duplicate_spans`` / ``ingest_novelty`` via
    ``index=``) reads the stored side WITHOUT an exchange — the one
    build shuffle is paid at write time and amortized over every
    subsequent ingest batch (plan pinned by
    tests/test_bucketed_index.py: zero Exchange nodes above the index
    scan with broadcast disabled). Returns the stored table as a
    DataFrame ready to pass as ``index=``.
    """
    from universal_importer_duckdb_spark.sources.bucketing import (
        write_bucketed_table,
    )

    write_bucketed_table(
        gram_index(at_rest, n, text_col, id_col),
        table_name,
        ["gram"],
        num_buckets=num_buckets,
        sort_cols=["gram"],
    )
    return at_rest.sparkSession.table(table_name)


def incremental_duplicate_spans(
    at_rest: DataFrame,
    arriving: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring dedup at INGEST — the production placement
    after :func:`cross_doc_duplicate_spans` has run its one corpus
    pass: an arriving document's token window is a duplicate span
    when its n-gram occurs ANYWHERE in the at-rest corpus (the
    at-rest side is canonical; which at-rest document holds the
    passage is irrelevant to the admission verdict). Verdicts depend
    only on at-rest state, never on other arrivals — the
    batch-order-free contract of the incremental family
    (incremental_exact_dedup, incremental_semdedup), which is what
    would make a streaming twin a stateless stream-static join.

    Scale shape: in production the at-rest side is the STORED
    distinct gram index of the last corpus pass (:func:`gram_index`,
    8 bytes per distinct gram), not a rescan: when ``index`` is
    omitted the held index is built from ``at_rest`` by the first
    action; pass a stored index (:func:`store_gram_index`) as
    ``index`` to serve batches from the bucketed table. The join
    is the same gram-keyed left-semi as span decontamination, and
    only the arriving batch's hit windows reach the island merge.
    Gram space xxhash64 (corpus-sized index, same exposure argument
    as cross_doc_duplicate_spans; the oracle keeps md5-60).

    Output: ``(doc_id, span_start, span_end, n_grams)`` over
    ARRIVING documents only.
    """
    # DISTINCT (inside gram_index), as the stored-index contract
    # above promises: without it every positional occurrence of a hot
    # at-rest gram ships into the semi-join's build/stream side (r9
    # verdict #4 second half) — distinct partial-aggregates map-side,
    # so the exchange carries one row per distinct gram per map task.
    # Deliberately NOT a per-doc array_distinct before the explode:
    # interpreted array_distinct is O(windows²) per document (the
    # shingles lesson, dedup_text.py) and within-document 8-gram
    # repetition is ~3% on real text — measured 0.66 vs 0.56 s at
    # sf0.1; the map-side combine already absorbs what little
    # repetition exists.
    if index is None:
        index = gram_index(at_rest, n, text_col, id_col)
    else:
        index = index.select("gram")
    arr = positioned_ngrams(arriving, n, text_col, id_col, hasher=_gram64)
    hits = arr.join(index, "gram", "left_semi").select(
        id_col,
        F.col("i").alias("s"),
        (F.col("i") + (n - 1)).alias("e"),
    )
    return merge_token_spans(hits, id_col)


def ingest_novelty(
    at_rest: DataFrame,
    arriving: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """Per-document NOVELTY of an arriving batch against the at-rest
    corpus: the fraction of the document's n-gram windows whose gram
    occurs nowhere at rest — the admission-time signal that ranks
    arrivals by how much genuinely new text they contribute (the
    inverse of the duplication verdict ``incremental_duplicate_spans``
    computes over the SAME stored gram index: one index, two reads —
    excision wants the seen windows, curriculum/priority wants the
    unseen fraction). Verdicts depend only on at-rest state, never on
    other arrivals (the incremental-family contract).

    Scale shape: the at-rest side is the distinct stored gram index
    (:func:`gram_index`, held, when ``index`` is omitted — or a
    stored index passed as ``index``; 8 bytes per distinct gram,
    map-side-combined before its one exchange);
    the arriving side is one positional explode joined LEFT against
    the index (membership marker, AQE-skew-splittable) into a
    map-side-combinable per-document count pair. Gram space xxhash64
    (corpus-sized index — the cross_doc_duplicate_spans exposure
    argument; the oracle keeps md5-60).

    Output: ``(id, n_windows, novel_milli)`` over ARRIVING documents
    only — ``novel_milli = 1000 * unseen div n_windows``, exact
    integers; a document too short for any window reports
    ``(0, 0)`` (no window evidence is not novelty, the wordless-doc
    convention of quality_model.py/lm.py).
    """
    # positional explode + map-side-combined global distinct, same
    # rationale as the incremental_duplicate_spans index above
    if index is None:
        index = gram_index(at_rest, n, text_col, id_col)
    index = index.select("gram").withColumn("__seen", F.lit(1))
    arr = positioned_ngrams(arriving, n, text_col, id_col, hasher=_gram64)
    counts = (
        arr.join(index, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("__novel"),
        )
    )
    return (
        arriving.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_windows"), F.lit(0))
            .cast("bigint")
            .alias("n_windows"),
            F.coalesce(
                F.expr("CAST((1000 * __novel) div n_windows AS BIGINT)"),
                F.lit(0).cast("bigint"),
            ).alias("novel_milli"),
        )
    )


def excise_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply contamination_spans surgically: drop exactly the tokens
    inside each document's merged spans and rejoin the rest — the
    decontaminated corpus, keeping documents that doc-level screening
    would discard whole.

    The span list per document is tiny (merged intervals), so the
    membership test is an in-row higher-order ``exists`` over the
    collected span array — a narrow map after one broadcast-sized
    join; uncontaminated documents pass through with their original
    text untouched (no re-tokenization round-trip).

    Output: ``(id, n_tokens_removed, clean_text)``.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("__nrem"),
    )
    toks = F.split(F.col(text_col), " ")
    covered = lambda i: F.exists(  # noqa: E731 - tiny local predicate
        F.col("__spans"),
        lambda sp: (sp["span_start"] <= i) & (i <= sp["span_end"]),
    )
    cleaned = F.array_join(
        F.filter(toks, lambda x, i0: ~covered(i0 + 1)), " "
    )
    return (
        docs.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__nrem", F.lit(0)).cast("bigint").alias(
                "n_tokens_removed"
            ),
            F.when(F.col("__spans").isNull(), F.col(text_col))
            .otherwise(cleaned)
            .alias("clean_text"),
        )
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shuffle-v1",
    carry_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Deterministic corpus shuffle, materialized as SHARDS — the
    step that turns a curated corpus into training files. A global
    ORDER BY md5(id) would funnel the corpus through one task to
    assign ranks; instead the hash splits into ``n_shards`` shards
    (hash % n) and ranks WITHIN each shard (hash // n, id) — the
    window partitions by shard, so rank assignment parallelizes and
    at scale each shard is one output file whose internal order is
    the hash order. Reading shards 0..n-1 in order replays the exact
    global hash shuffle; no RNG state, and a document's (shard, pos)
    never changes when other documents are edited — only positions
    after an insertion point shift within its own shard.

    Returns ``(id, *carry_cols, shard, pos_in_shard)`` — all-integer,
    hash-exact in the oracle."""
    h = _md5_28(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        (h % F.lit(n_shards)).cast("bigint").alias("shard"),
        (h / F.lit(n_shards)).cast("bigint").alias("__hq"),
    )
    w = Window.partitionBy("shard").orderBy("__hq", id_col)
    return base.select(
        id_col,
        *carry_cols,
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


def split_leakage_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split-v1",
) -> DataFrame:
    """Train/eval leakage audit: exact-duplicate groups (md5 of
    lowercased text) that straddle the deterministic hash split — a
    document whose twin landed in ``val``/``test`` leaks the eval set
    into training. Run after :func:`hash_split` and before shipping a
    corpus; the same check at near-dup granularity is the
    cluster-level follow-up (dedup_text.py clusters x this split).

    Output is one row per observed ``n_splits`` value (how many
    distinct splits a fingerprint group touches), with the number of
    groups and documents in that stratum — ``n_splits >= 2`` rows are
    the leaks, and the ``n_splits = 1`` row sizes the clean
    population, so the aggregate certifies every document's
    fingerprint AND split assignment.

    Scale shape: fingerprint and split are narrow maps; one corpus
    shuffle on the fingerprint (map-side combinable count + distinct
    splits over <= 3 values), then a 3-row aggregate. No joins.
    """
    finger = F.md5(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    tagged = hash_split(docs, id_col=id_col, salt=salt).select(
        F.col(id_col), finger.alias("fingerprint"), "split"
    )
    groups = tagged.groupBy("fingerprint").agg(
        F.countDistinct("split").cast("bigint").alias("n_splits"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        groups.groupBy("n_splits")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("n_splits")
    )


def source_gram_overlap(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication forensics: for every pair of sources,
    how many distinct word n-grams they SHARE, plus the Jaccard of
    their gram sets in exact milli units — the
    which-dump-copies-which matrix run before mixing overlapping
    crawls/dumps into one corpus (inter-dump duplication is the
    largest single source of excess exact-dup mass in web-scale
    training sets; this is the per-pair read of what the dedup tier
    then removes).

    Shape: per-doc-distinct grams feed ONE corpus-scale exchange —
    the gram-keyed collect_set fold (partial-aggregated map-side,
    each gram's source set bounded by n_sources ~20; no pre-distinct:
    the set fold absorbs cross-doc repeats for free). The folded
    gram -> sources frame (one row per distinct gram) is
    scoped-cached and serves BOTH reads: per-source totals (explode +
    count — each (gram, source) counted once, exactly the distinct
    total) and the pair counts (ordered pairs expanded map-side via a
    flatten/transform expression — never a gram-keyed self-join,
    whose build side would be corpus-sized). Pair counts and totals
    are n_sources^2-bounded, broadcast-joined. Pairs sharing zero
    grams are absent (no evidence, no row). All-integer output:
    ``(source_a, source_b, shared_grams, jaccard_milli)`` with
    jaccard_milli = 1000*shared div (|A| + |B| - shared).

    Gram space md5-28 (word_ngrams_hashed's default): a collision
    inflates a shared count by 1 on both engines identically — the
    small-probe exposure class, not the self-excision class that
    moved cross_doc_duplicate_spans to 64 bits."""
    from universal_importer_duckdb_spark.caching import scoped_cache

    ss = scoped_cache(
        word_ngrams_hashed(docs, n, text_col, source_col)
        .groupBy("gram")
        .agg(F.array_sort(F.collect_set(source_col)).alias("__ss"))
    )
    per = (
        ss.select(F.explode("__ss").alias(source_col))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    s = F.col("__ss")
    pair_expr = F.flatten(
        F.transform(
            s,
            lambda a, i: F.transform(
                F.slice(s, i + 2, F.greatest(F.size(s) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    pairs = (
        # single-source grams expand to zero pairs — filter them out
        # BEFORE the nested pair transform runs (r11, the
        # shared-grams-only discipline of cross_doc_duplicate_spans):
        # on real multi-crawl corpora most distinct grams live in one
        # source, so the expansion machinery now touches only the
        # shared minority. Identical output — the dropped rows
        # contributed nothing.
        ss.filter(F.size(s) >= 2)
        .select(F.explode(pair_expr).alias("__p"))
        .groupBy(
            F.col("__p.a").alias("source_a"),
            F.col("__p.b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    pa = per.select(
        F.col(source_col).alias("source_a"), F.col("__n").alias("__na")
    )
    pb = per.select(
        F.col(source_col).alias("source_b"), F.col("__n").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.expr(
                "CAST((1000 * shared_grams) div (__na + __nb - shared_grams)"
                " AS BIGINT)"
            ).alias("jaccard_milli"),
        )
    )
