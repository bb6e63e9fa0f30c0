"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting. All pure
column expressions (whole-stage codegen; zero UDFs), reusable on any
DataFrame with a text column. The oracle-checked query forms in
entry_queries.py are thin wrappers over these.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal stopword marker sets per language (expandable; deterministic).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ein"),
}


def tokens(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


_ALPHA_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_DIGIT_CHARS = "0123456789"
_PUNCT_CHARS = ".,;:!?"


def char_class_count(col, chars: str) -> Column:
    """Count of characters belonging to ``chars`` — computed as
    ``length(c) - length(translate(c, chars, ''))``, value-identical
    to ``length(regexp_replace(c, '[^chars]', ''))`` for any text
    (both count set membership per character). translate is the form
    the hot paths must use: TWO regexp_replace calls fused into one
    whole-stage-codegen method push the generated method past the
    JIT's compilation threshold and the whole stage runs at bytecode-
    interpreter speed — measured r13 on the quality gate at x16:
    each regex ratio alone 0.2 s, any two together 1.74 s; the
    translate form computes both in 0.24 s. The SQL oracles keep
    regexp_replace (DuckDB's RE2 has no such cliff), which doubles as
    the cross-engine equivalence check."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.translate(c, chars, ""))


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("bigint")


def bpe_ish_token_count(col) -> Column:
    """A BPE-approximating token estimate: word-pieces split on
    non-alphanumerics plus length/4 continuation pieces (the standard
    ~4-chars-per-token heuristic), without any model file."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(c, "[^a-zA-Z0-9]+")
    pieces = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.when(F.length(w) == 0, 0).otherwise(
            F.lit(1) + F.floor(F.length(w) / 4)
        ).cast("bigint"),
    )
    return pieces


def _marker_hits_over(toks: Column, markers: tuple[str, ...]) -> Column:
    """Marker-hit count over an ALREADY-BOUND token array — callers
    that evaluate several token signals per row must pass the same
    bound ``toks`` (see ``_bind``) so the document tokenizes once,
    not once per marker."""
    total = None
    for m in markers:
        h = F.size(
            F.filter(toks, (lambda mm: (lambda w: w == F.lit(mm)))(m))
        ).cast("bigint")
        total = h if total is None else total + h
    return total


def marker_hits(col, markers: tuple[str, ...]) -> Column:
    return _marker_hits_over(tokens(col), markers)


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds one ``score_{lang}`` column per language (marker hits per
    token) and a ``pred_lang`` argmax column.

    All per-language scores are carved from ONE materialized bound
    struct (the quality_signals r13 pattern): the staged-withColumn
    form tokenized once per language AND once per marker filter —
    ~24 splits per row across 4 languages."""

    def body(toks: Column) -> Column:
        n_tok = F.size(toks).cast("bigint")
        return F.struct(
            *[
                (_marker_hits_over(toks, markers) / n_tok).alias(
                    f"score_{lang}"
                )
                for lang, markers in LANG_MARKERS.items()
            ]
        )

    staged = df.select(
        "*", _bind(tokens(text_col), body).alias("__lsc")
    )
    out = staged.select(
        *[F.col(c) for c in df.columns],
        *[
            F.col(f"__lsc.score_{lang}").alias(f"score_{lang}")
            for lang in LANG_MARKERS
        ],
    )
    best = None
    for lang in LANG_MARKERS:
        score = F.col(f"score_{lang}")
        if best is None:
            best = F.struct(score.alias("s"), F.lit(lang).alias("l"))
        else:
            best = F.when(score > best["s"], F.struct(score.alias("s"), F.lit(lang).alias("l"))).otherwise(best)
    return out.withColumn("pred_lang", best["l"])


def quality_token_signal_struct(text_col: str = "text") -> Column:
    """The four token-derived quality signals as ONE struct computed
    over a single lambda-BOUND evaluation of the token array (the r12
    ``quality_signal_struct`` idiom — sibling projection expressions
    and lambda closures sit outside Catalyst's subexpression
    elimination, so the pre-r13 form re-split every document once per
    signal and once per stopword marker: 9 tokenizations per row,
    found by the r12 scale probe on the sibling lm.py class)."""
    c = F.col(text_col)

    def body(toks: Column) -> Column:
        n_tok = F.size(toks).cast("bigint")
        return F.struct(
            n_tok.alias("n_tok"),
            (F.size(F.array_distinct(toks)) / n_tok).alias("uniq_ratio"),
            (_marker_hits_over(toks, LANG_MARKERS["en"]) / n_tok).alias(
                "stop_ratio"
            ),
            ((F.length(c) - (n_tok - F.lit(1))) / n_tok).alias(
                "mean_tok_len"
            ),
        )

    return _bind(tokens(text_col), body)


def quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Standard quality-filter signals (Gopher/C4-style heuristics):
    length, token stats, alpha/digit/punct ratios, stopword ratio,
    repetition (unique-token ratio).

    The token-derived signals are carved from one materialized bound
    struct (``quality_token_signal_struct``): the struct column is
    referenced four times in the outer projection, which blocks
    CollapseProject from inlining it (the references are non-cheap),
    so each document tokenizes exactly once per row — the
    quality_model_scores materialize-then-destructure pattern."""
    c = F.col(text_col)
    staged = df.select(
        "*", quality_token_signal_struct(text_col).alias("__qsig")
    )
    return staged.select(
        *[F.col(x) for x in df.columns],
        F.length(c).alias("q_n_chars"),
        F.col("__qsig.n_tok").alias("q_n_tokens"),
        # translate-based char-class counters, value-identical to the
        # regex forms the oracle uses (see char_class_count: two
        # regexes in one codegen method run interpreter-speed)
        (char_class_count(c, _ALPHA_CHARS) / F.length(c)).alias("q_alpha_ratio"),
        (char_class_count(c, _DIGIT_CHARS) / F.length(c)).alias("q_digit_ratio"),
        (char_class_count(c, _PUNCT_CHARS) / F.length(c)).alias("q_punct_ratio"),
        F.col("__qsig.uniq_ratio").alias("q_unique_token_ratio"),
        F.col("__qsig.stop_ratio").alias("q_stopword_ratio"),
        F.col("__qsig.mean_tok_len").alias("q_mean_token_len"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    min_alpha_ratio: float = 0.5,
    max_digit_ratio: float = 0.3,
    min_unique_token_ratio: float = 0.1,
) -> tuple[DataFrame, DataFrame]:
    """(kept, rejected) split on the quality signals — same
    error-as-data shape as the schema validator (SURVEY.md §7.3).

    The gate is ONE lambda-bound predicate over the raw text column,
    not a conjunction over the q_* aliases: most consumers
    (docs_quality_filter_ids, docs_corpus_prep, the training
    pipeline) prune the signal columns away, and a predicate built on
    the aliases gets substituted on pushdown into four independent
    copies of the tokenize — the same sibling-expression
    re-tokenization class the r12 scale probe falsified (lambda
    closures and sibling predicate conjuncts sit outside
    subexpression elimination). Bound, the whole gate pushes to the
    scan as one expression that splits each document once. The
    arithmetic is identical to the q_* definitions, so the split is
    unchanged."""
    c = F.col(text_col)

    def gate(toks: Column) -> Column:
        n_tok = F.size(toks).cast("bigint")
        return (
            (n_tok >= min_tokens)
            & (
                (char_class_count(c, _ALPHA_CHARS) / F.length(c))
                >= min_alpha_ratio
            )
            & (
                (char_class_count(c, _DIGIT_CHARS) / F.length(c))
                <= max_digit_ratio
            )
            & (
                (F.size(F.array_distinct(toks)) / n_tok)
                >= min_unique_token_ratio
            )
        )

    ok = _bind(tokens(text_col), gate)
    scored = quality_signals(df, text_col)
    return scored.filter(ok), scored.filter(~ok)


def rolling_fingerprint(
    col, window: int = 8, k: int = 4, hasher=None, tokenized: bool = False
) -> Column:
    """Winnowing-style document sketch: the k smallest hash values over
    rolling token windows — robust to local edits (a bounded edit
    disturbs at most ``window`` of the hashes), unlike whole-text md5.
    Compare sketches by overlap (bottom-k MinHash estimates Jaccard).

    ``hasher`` defaults to ``F.xxhash64`` (fastest, JVM-native); pass
    ``F.md5`` for a cross-engine-reproducible sketch (md5 hex strings
    sort identically in any engine — used by the oracle-checked query
    form).

    ``tokenized=True`` means ``col`` is already a token ARRAY column.
    Callers should pre-materialize the split when they can (see
    content_fingerprints): the window lambda below captures ``toks``,
    and lambda closures are outside subexpression elimination, so a
    split() expression here would re-tokenize once per window."""
    hasher = hasher or F.xxhash64
    if tokenized:
        toks = F.col(col) if isinstance(col, str) else col
    else:
        toks = tokens(col)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - F.lit(window), F.lit(0)))
    win_hashes = F.transform(
        starts, lambda i: hasher(F.concat_ws(" ", F.slice(toks, i + 1, window)))
    )
    return F.slice(F.array_sort(F.array_distinct(win_hashes)), 1, k)


def content_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Per-document fingerprints: whole-text md5 plus the rolling
    window sketch. With ``portable=True`` the sketch uses md5 and is
    serialized to a comma-joined scalar string — sortable/hashable by
    any downstream consumer (the driver's canonicalizer chokes on
    array columns) and reproducible bit-exactly in other engines."""
    if portable:
        sketch = F.array_join(
            rolling_fingerprint("__rf_toks", hasher=F.md5, tokenized=True), ","
        ).alias("rolling_sketch")
    else:
        sketch = rolling_fingerprint("__rf_toks", tokenized=True).alias(
            "rolling_fingerprint"
        )
    return df.select(
        F.col(id_col), F.col(text_col), tokens(text_col).alias("__rf_toks")
    ).select(
        F.col(id_col),
        F.md5(F.lower(F.col(text_col))).alias("md5_fingerprint"),
        sketch,
    )


def vocabulary_topk(
    df: DataFrame, k: int = 50, text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-level vocabulary: top-k tokens by frequency. The
    tokenizer's vocabulary-building primitive — one explode, one
    hash-aggregate (map-side combine collapses each partition to its
    distinct tokens before the shuffle), one per-partition top-k merge
    (TakeOrderedAndProject — no global sort). Ties break
    lexicographically so the result is deterministic."""
    c = F.col(text_col)
    tok = F.explode(tokens(F.lower(c) if lowercase else c)).alias("token")
    return (
        df.select(tok)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_text: bool = True,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (chunk_size - stride tokens), the standard shaping step before LLM
    training/embedding. Emits (id, chunk_idx, start_token,
    chunk_tokens, chunk_text) — per-row integer arithmetic, one bounded
    explode (ceil(n/stride) rows per doc), and a slice of the token
    array per chunk, so it stays a narrow map at any corpus size. The
    materialized ``chunk_text`` is the pipeline's actual training
    example; consumers that only need the shape (funnel counts) pass
    ``with_text=False`` (or just don't select it — column pruning
    removes the slice either way)."""
    if stride <= 0 or chunk_size < stride:
        raise ValueError("need 0 < stride <= chunk_size")
    n_chunks = (
        F.lit(1)
        + F.expr(
            f"(greatest(size(__toks) - {chunk_size}, 0)"
            f" + {stride - 1}) DIV {stride}"
        )
    ).cast("int")
    start = (F.col("chunk_idx") * stride).cast("bigint")
    chunk_tokens = F.least(
        F.lit(chunk_size).cast("bigint"), F.col("__n") - start
    )
    out_cols = [
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.alias("start_token"),
        chunk_tokens.alias("chunk_tokens"),
    ]
    if with_text:
        out_cols.append(
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    (start + 1).cast("int"),
                    chunk_tokens.cast("int"),
                ),
                " ",
            ).alias("chunk_text")
        )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.size("__toks").cast("bigint").alias("__n"),
            n_chunks.alias("__k"),
        )
        .select(
            id_col,
            "__toks",
            "__n",
            F.posexplode(F.sequence(F.lit(0), F.col("__k") - 1)).alias(
                "chunk_idx", "__discard"
            ),
        )
        .select(*out_cols)
    )


# Conservative character-class patterns chosen for cross-engine
# (java.util.regex vs RE2) semantic agreement: no backreferences, no
# lookaround, no engine-specific classes.
DEFAULT_PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", "https?://[^ ]+", "<URL>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: tuple[tuple[str, str, str], ...] = DEFAULT_PII_PATTERNS,
) -> DataFrame:
    """Redact PII-shaped spans (training corpora must not memorize
    emails/SSNs/IPs) and count per-type hits. ONE alternation pass
    finds all spans (leftmost match, earlier pattern wins at the same
    position — pattern order IS the priority: an email inside a URL is
    counted/redacted as the URL) and one regex split yields the
    in-between segments; replacement tokens are spliced back with
    plain array ops and counts come from classifying the matched spans
    — 2 full-text regex traversals total instead of one count + one
    replace traversal per pattern. Classification tests each span
    anchored against the patterns in order, which is exact as long as
    no span produced by a later alternative fully matches an earlier
    pattern (true for the default disjoint classes). Pure column
    expressions — a narrow map over the scan at any scale."""
    c = F.col(text_col)
    alt = "|".join(pat for _, pat, _ in patterns)

    def classify(m):
        expr = F.lit(patterns[-1][2])
        for _name, pat, repl in reversed(patterns[:-1]):
            expr = F.when(m.rlike(f"^(?:{pat})$"), F.lit(repl)).otherwise(expr)
        return expr

    base = df.select(
        F.col(id_col),
        F.regexp_extract_all(c, F.lit(alt), 0).alias("__ms"),
        F.split(c, alt).alias("__segs"),
    ).withColumn("__toks", F.transform("__ms", classify))
    clean = F.concat(
        F.element_at("__segs", 1),
        F.array_join(
            F.zip_with(
                F.col("__toks"),
                F.slice("__segs", F.lit(2), F.size("__ms")),
                lambda t, s: F.concat(t, s),
            ),
            "",
        ),
    )

    def count_of(repl: str):
        return F.size(
            F.filter("__toks", lambda t: t == F.lit(repl))
        ).cast("bigint")

    return base.select(
        F.col(id_col),
        clean.alias("clean_text"),
        *[count_of(repl).alias(f"n_{name}") for name, _pat, repl in patterns],
    )


def char_ngram_familiarity(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-statistical gibberish detection: score each document by
    how *familiar* its character n-grams are — the mean document
    frequency (as a fraction of the corpus) of the doc's distinct
    char trigrams. Natural prose reuses a small trigram inventory
    (high score); mojibake, base64 blobs, and keyboard mash use rare
    trigrams (low score). This is the model-free counterpart of the
    CCNet/DataComp LM-perplexity quality filter: same signal family,
    but built from the corpus itself with exact integer arithmetic,
    so it needs no model file and replays bit-for-bit in any engine
    (the only floating-point op is one final division of two exact
    BIGINTs, which IEEE rounds identically everywhere).

    Shape at scale: the classic inverted-index build, same as
    ``cross_doc_ngram_dup`` — explode to distinct (doc, gram) pairs,
    one hash-agg for per-gram document frequency (map-side combine
    collapses each partition's repeats before the shuffle), one join
    back on the gram, one per-doc agg. Char trigrams are ≤ n bytes —
    SHORTER than an 8-byte hash — so they shuffle as-is, unhashed.
    ``n_docs`` rides in as a broadcast one-row aggregate, never a
    driver collect.

    Returns (id, n_distinct_grams, familiarity ∈ [0,1])."""
    # materialize lower(text) before the per-gram lambda — lambda
    # closures sit outside subexpression elimination, so capturing the
    # lower() expression would re-lowercase the doc once per gram
    c = F.col("__lc")
    # guard short docs: F.sequence(1, 0) yields DESCENDING [1, 0]
    idx = F.when(
        F.length(c) >= n, F.sequence(F.lit(1), F.length(c) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(F.transform(idx, lambda i: F.substring(c, i, n)))
    doc_grams = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__lc")
    ).select(F.col(id_col), F.explode(grams).alias("__g"))
    gram_df = doc_grams.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__df")
    )
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("__n_docs")))
    per_doc = (
        doc_grams.join(gram_df, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
            F.sum("__df").cast("bigint").alias("__df_sum"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(n_docs)
        .select(
            id_col,
            F.coalesce("n_distinct_grams", F.lit(0))
            .cast("bigint")
            .alias("n_distinct_grams"),
            F.when(
                F.col("n_distinct_grams") > 0,
                F.col("__df_sum")
                / (F.col("n_distinct_grams") * F.col("__n_docs")),
            )
            .otherwise(F.lit(0.0))
            .alias("familiarity"),
        )
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_bigram_frac_max: float = 0.2,
    adjacent_repeats_max: int = 3,
    min_bigrams: int = 10,
) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family
    of filters): the fraction of all word bigrams taken by the single
    most frequent bigram, and the count of immediately repeated tokens
    ("spam spam spam"). Highly repetitive machine-generated text scores
    high on both; ``repetitive`` flags docs beyond either threshold.

    Shape at scale: the per-doc top-bigram count goes through explode →
    (doc, bigram) hash-agg → per-doc max/sum — two JVM aggregations
    with map-side combine, never an O(b²) interpreted in-row pass; the
    adjacent-repeat count is a narrow per-row filter over token
    positions. The only division happens once per doc on two exact
    integers, so results are bit-identical cross-engine."""
    # materialize the token array before the per-position lambdas —
    # lambda closures sit outside subexpression elimination, so
    # capturing the split() expression would re-tokenize per position
    toks = F.col("__rs_toks")
    nt = F.size(toks)
    # bigram list; guard short docs (F.sequence(1, 0) is DESCENDING)
    idx = F.when(nt >= 2, F.sequence(F.lit(1), nt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
    )
    adj = F.size(F.filter(idx, lambda i: F.element_at(toks, i) == F.element_at(toks, i + 1)))
    base = df.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("__rs_toks"),
    ).select(
        F.col(id_col),
        F.explode_outer(F.transform(idx, bigram)).alias("__bg"),
        adj.alias("__adj"),
    )
    per_bigram = base.groupBy(id_col, "__bg").agg(
        F.count(F.lit(1)).alias("__n"), F.first("__adj").alias("__adj")
    )
    per_doc = per_bigram.groupBy(id_col).agg(
        F.sum(F.when(F.col("__bg").isNotNull(), F.col("__n")).otherwise(0))
        .cast("bigint").alias("n_bigrams"),
        F.max(F.when(F.col("__bg").isNotNull(), F.col("__n")).otherwise(0))
        .cast("bigint").alias("top_bigram_n"),
        F.first("__adj").cast("bigint").alias("n_adjacent_repeats"),
    )
    frac = F.when(
        F.col("n_bigrams") > 0, F.col("top_bigram_n") / F.col("n_bigrams")
    ).otherwise(F.lit(0.0))
    return per_doc.select(
        F.col(id_col),
        "n_bigrams",
        "top_bigram_n",
        frac.alias("top_bigram_frac"),
        "n_adjacent_repeats",
        (
            # the fraction test only applies past min_bigrams — short
            # docs have frac ~ 1/n_bigrams and would all trip it
            ((frac > top_bigram_frac_max) & (F.col("n_bigrams") >= min_bigrams))
            | (F.col("n_adjacent_repeats") >= adjacent_repeats_max)
        ).alias("repetitive"),
    )


def char_trigrams(text_col: str = "text") -> Column:
    """All character trigrams of the lowered text as an array column
    (sliding window, step 1). Empty array under 3 chars — the guarded
    sequence avoids Spark's descending-sequence surprise
    (sequence(1, 0) == [1, 0])."""
    def _grams(t):
        idx = F.when(
            F.length(t) >= 3, F.sequence(F.lit(1), F.length(t) - 2)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.substring(t, i, 3))

    # bind lower(text) once per row — captured in the lambda it would
    # re-lowercase the document once per trigram position (the
    # lm.py::_bigrams bug class, found by the r12 scale probe)
    return _bind(F.lower(F.coalesce(F.col(text_col), F.lit(""))), _grams)


def _bind(value: Column, body) -> Column:
    """Evaluate ``value`` ONCE per row and hand it to ``body`` as a
    bound lambda variable: ``transform(array(value), v -> body(v))[0]``.
    Catalyst freely duplicates aliased non-trivial expressions when
    collapsing projections and pushing filters (measured here: the
    staged-withColumn form of the trigram profile re-ran array_sort
    19x per row); a lambda variable is a real binding the optimizer
    cannot inline, so each intermediate array sorts exactly once."""
    return F.transform(F.array(value), body).getItem(0)


def trigram_rle_counts(text_col: str = "text") -> Column:
    """Per-document trigram counts as ``array<struct<tg string,
    c int>>`` — sort the trigram array, run-length encode it — all
    per-row codegen expressions, zero shuffle. Boundary positions use
    CASE-guarded ``element_at`` (ANSI mode errors on index 0, and
    bare OR does not short-circuit in codegen); the guarded
    ``sequence`` avoids the descending-sequence surprise on empty
    arrays. Every intermediate is lambda-BOUND (see ``_bind``) so the
    sort and boundary scans evaluate exactly once per row."""

    empty_int = F.array().cast("array<int>")

    def with_sorted(s: Column) -> Column:
        length = F.size(s)
        # boundary positions: 1 is always a run start; position p >= 2
        # starts a run iff s[p] != s[p-1] — no per-element CASE (the
        # p == 1 special case is hoisted into the concat), measured
        # ~25% cheaper than the guarded-filter form
        tail_bounds = F.when(
            length >= 2,
            F.filter(
                F.sequence(F.lit(2), length),
                lambda p: F.element_at(s, p) != F.element_at(s, p - 1),
            ),
        ).otherwise(empty_int)
        starts = F.when(
            length >= 1, F.concat(F.array(F.lit(1)), tail_bounds)
        ).otherwise(empty_int)

        def with_starts(st: Column) -> Column:
            # each run's length is next_start - start; the phantom
            # next_start of the last run is length + 1
            nexts = F.concat(
                F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
                F.when(length >= 1, F.array(length + 1)).otherwise(
                    empty_int
                ),
            )
            return F.zip_with(
                st,
                nexts,
                lambda a, b: F.struct(
                    F.element_at(s, a).alias("tg"),
                    (b - a).cast("int").alias("c"),
                ),
            )

        return _bind(starts, with_starts)

    return _bind(F.array_sort(char_trigrams(text_col)), with_sorted)


def doc_trigram_profile(text_col: str = "text", n: int = 20) -> Column:
    """The Cavnar-Trenkle DOCUMENT profile as one per-row expression:
    top-``n`` trigrams by (count desc, trigram asc) with 1-based
    ranks, each element also carrying the profile size —
    ``array<struct<tg string, drank int, nt int>>``. Carrying ``nt``
    inside the elements lets the caller reference this (expensive)
    expression exactly once, via a single explode."""
    ordered = F.array_sort(
        F.transform(
            trigram_rle_counts(text_col),
            lambda p: F.struct(
                (-p["c"]).alias("negc"), p["tg"].alias("tg")
            ),
        )
    )

    def with_top(top: Column) -> Column:
        return F.transform(
            top,
            lambda p, k: F.struct(
                p["tg"].alias("tg"),
                (k + 1).cast("int").alias("drank"),
                F.size(top).cast("int").alias("nt"),
            ),
        )

    return _bind(F.slice(ordered, 1, n), with_top)


def trigram_rank_langid(
    docs: DataFrame,
    m: int = 50,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Cavnar-Trenkle (1994) n-gram rank-profile language ID — the
    classic pre-neural classifier behind langdetect-style libraries,
    self-trained here: per-language profiles are the top-``m`` char
    trigrams ranked by (count desc, trigram asc) over the labeled
    corpus, a document's profile is its own top-``n``, and the
    distance to a language is the OUT-OF-PLACE measure: sum over the
    document's profile of |doc_rank - lang_rank|, with ``m`` as the
    penalty for trigrams absent from the language profile. Prediction
    is the argmin language (ties to the smaller language code);
    documents whose profile shares no trigram with ANY language
    profile predict 'und'.

    All-integer, no RNG, and the absent-trigram penalty never
    materializes the doc x language cross product: dist = n_terms*m -
    sum_over_matches(m - |dr - lr|), so only profile MATCHES flow
    through the join (each unmatched term contributes exactly m, and
    a matched language always beats an unmatched one since every
    match's gain >= 1).

    Scale shape (r10): the per-document profile is computed ENTIRELY
    map-side — sort the document's trigram array, run-length encode
    it, take top-``n`` — all per-row codegen expressions, so scoring
    ships NO corpus-scale exchange at all (the r9 form shuffled the
    exploded (doc, trigram) stream twice: a hash agg and a per-doc
    rank window). What leaves each map task is <= ``n`` rows per
    document; the profile BROADCASTS to the match join and the only
    exchanges are the <= n-rows-per-doc gain aggregation and the
    argmin window. The language profile is a one-time SECOND pass
    whose n_langs x m result is materialized (langid_profile, the
    vocab-bounded trained artifact), so it never re-runs.
    Output: ``(doc_id, lang, pred_lang, dist)``.

    Requires ``n <= m``: the match-only algebra needs every matched
    term's gain m - |drank - lrank| to stay positive (|drank - lrank|
    <= max(n, m) - 1), which is what lets a matched language always
    beat an implicit unmatched one without materializing the cross
    product. With n > m a distant match could score worse than
    absence and the shortcut would misrank — so it is rejected.
    """
    from pyspark.sql import Window

    if n > m:
        raise ValueError(
            f"trigram_rank_langid requires n <= m (got n={n}, m={m}): "
            "the absent-penalty algebra is only order-preserving when "
            "every matched term's gain is positive"
        )

    # Map-side per-doc profile, referenced exactly ONCE via the
    # explode (each element carries nt, so no second size() ref for
    # the optimizer to duplicate the expression into). Documents
    # with no trigrams (under 3 chars) emit nothing, matching the
    # pre-r10 explode form.
    docp = docs.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode(doc_trigram_profile(text_col, n)).alias("__e"),
    ).select(
        id_col,
        lang_col,
        F.col("__e.nt").alias("__nt"),
        F.col("__e.tg").alias("tg"),
        F.col("__e.drank").alias("drank"),
    )
    profile = langid_profile(docs, m, text_col, lang_col)
    # LEFT join so a document whose profile matches nothing still
    # reaches the argmin as one all-null group (pred 'und'); a real
    # match always beats the null group since every matched term's
    # gain >= 1 (the n <= m invariant above).
    scores = docp.join(F.broadcast(profile), "tg", "left").groupBy(
        id_col, lang_col, "__nt", "plang"
    ).agg(
        F.sum(
            F.lit(int(m)) - F.abs(F.col("drank") - F.col("lrank"))
        ).alias("__gain")
    )
    w_best = Window.partitionBy(id_col).orderBy(
        F.desc(F.coalesce(F.col("__gain"), F.lit(-1))),
        F.asc_nulls_last("plang"),
    )
    return (
        scores.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.coalesce(F.col("plang"), F.lit("und")).alias("pred_lang"),
            (
                F.col("__nt") * F.lit(int(m))
                - F.coalesce(F.col("__gain"), F.lit(0))
            )
            .cast("bigint")
            .alias("dist"),
        )
    )


def langid_profile(
    docs: DataFrame,
    m: int = 50,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """The TRAINED ARTIFACT of the rank-profile classifier: per
    language, the top-``m`` char trigrams ranked by (count desc,
    trigram asc) — ``(plang, tg, lrank)``, n_langs x m rows. Vocab-
    bounded, so it is held (scoped_cache) and every subsequent
    scoring run pays ONE corpus pass (the doc side) — the same
    hold-vocab-bounded / recompute-corpus-bounded contract as the
    DSIR artifact. Without the hold, the profile's lineage would
    re-run the corpus explode on every action.

    r10: trigram counting happens per-document map-side first
    (sorted-array run-length encode, `_trigram_rle_pairs`), so the
    exchange feeding the per-language count carries one row per
    DISTINCT trigram per document — strictly fewer rows than the
    raw trigram stream the r9 form shuffled — and the map-side
    partial sum shrinks it again to distinct-vocab x langs."""
    from pyspark.sql import Window

    from universal_importer_duckdb_spark.caching import scoped_cache

    pairs = docs.select(
        F.col(lang_col),
        F.explode(trigram_rle_counts(text_col)).alias("__e"),
    ).select(
        lang_col,
        F.col("__e.tg").alias("tg"),
        F.col("__e.c").alias("__dc"),
    )
    lang_counts = pairs.groupBy(lang_col, "tg").agg(
        F.sum("__dc").alias("__c")
    )
    w_lang = Window.partitionBy(lang_col).orderBy(
        F.desc("__c"), F.asc("tg")
    )
    return scoped_cache(
        lang_counts.withColumn("lrank", F.row_number().over(w_lang))
        .filter(F.col("lrank") <= m)
        .select(F.col(lang_col).alias("plang"), "tg", "lrank")
    )


def langid_artifact(
    docs: DataFrame,
    m: int = 50,
    text_col: str = "text",
    lang_col: str = "lang",
) -> tuple[list, int]:
    """Train and COLLECT the deployable language-ID artifact:
    ``(profile_rows, m)`` — the (plang, tg, lrank) rows bundled with
    the m they were trained at. The bundle exists because the
    out-of-place penalty IS the training m: a scorer given a
    different m skews every penalty and gain silently in either
    direction (r9 review found the first guard only rejected m too
    SMALL — too LARGE inflates unmatched penalties and can flip
    predictions just as invisibly). Carrying m inside the artifact
    removes the second copy instead of validating it."""
    rows = [
        (r.plang, r.tg, int(r.lrank))
        for r in langid_profile(docs, m, text_col, lang_col).collect()
    ]
    return rows, int(m)


def langid_score_with_profile(
    docs: DataFrame,
    artifact: tuple[list, int],
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Rank-profile language ID scored against a HELD artifact — the
    deployment shape (train once, score arriving documents forever),
    and therefore the streaming-ingest path: the whole computation is
    a stateless Arrow-batched map (per document: trigram counts,
    top-``n`` by (count desc, trigram asc), out-of-place distance
    against the profile dict riding in the closure), so it runs on a
    stream exactly as on a batch with no state store.

    ``artifact`` is ``(profile_rows, m)`` from :func:`langid_artifact`
    — n_langs x m rows plus the training m, bounded, the same
    literal-artifact class as the CMS sketch; bundling m makes the
    penalty constant impossible to drift from the training run.
    Python's per-char slicing and lower() agree with Spark's
    substring/lower on the ASCII corpus this engine tests on; the
    batch operator (trigram_rank_langid) remains the semantic
    definition and the twin is pinned equal to it by test.

    Documents with no trigrams (under 3 chars) emit nothing — the
    batch operator drops them too (no profile terms to rank)."""
    import pandas as pd

    profile_rows, m = artifact
    if n > m:
        raise ValueError(
            f"langid_score_with_profile requires n <= m (got n={n}, "
            f"m={m}) — same invariant as trigram_rank_langid"
        )
    pmap: dict[str, list[tuple[str, int]]] = {}
    max_lrank = 0
    for plang, tg, lrank in profile_rows:
        pmap.setdefault(tg, []).append((plang, int(lrank)))
        max_lrank = max(max_lrank, int(lrank))
    if max_lrank > m:
        # a hand-assembled artifact can still lie; the trained rank
        # bound is the one inconsistency detectable from the rows
        raise ValueError(
            f"artifact holds ranks up to {max_lrank} but claims m={m}"
        )
    mi, ni = int(m), int(n)

    def _score(batches):
        from collections import Counter

        for pdf in batches:
            ids, langs, preds, dists = [], [], [], []
            for doc_id, lang, text in zip(
                pdf[id_col], pdf[lang_col], pdf[text_col]
            ):
                t = (text or "").lower()
                if len(t) < 3:
                    continue
                counts = Counter(t[i : i + 3] for i in range(len(t) - 2))
                top = sorted(
                    counts.items(), key=lambda kv: (-kv[1], kv[0])
                )[:ni]
                gains: dict[str, int] = {}
                for drank, (tg, _) in enumerate(top, start=1):
                    for plang, lrank in pmap.get(tg, ()):
                        gains[plang] = gains.get(plang, 0) + (
                            mi - abs(drank - lrank)
                        )
                nt = len(top)
                if gains:
                    pred = min(gains.items(), key=lambda kv: (-kv[1], kv[0]))
                    preds.append(pred[0])
                    dists.append(nt * mi - pred[1])
                else:
                    preds.append("und")
                    dists.append(nt * mi)
                ids.append(doc_id)
                langs.append(lang)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    lang_col: pd.Series(langs, dtype="object"),
                    "pred_lang": pd.Series(preds, dtype="object"),
                    "dist": pd.Series(dists, dtype="int64"),
                }
            )

    return docs.select(id_col, lang_col, text_col).mapInPandas(
        _score,
        schema=f"{id_col} bigint, {lang_col} string, "
        "pred_lang string, dist bigint",
    )
