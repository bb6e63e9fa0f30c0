"""TextRank keyword extraction: PageRank over the word co-occurrence
graph, in exact scaled-integer arithmetic.

The corpus-scale work is the graph *construction* — one pass over all
documents exploding adjacent-token pairs and counting them (a single
map-side-combinable groupBy). The *iteration* then runs on the vocab-
sized graph (Heaps' law: millions of nodes for a 100 TB corpus, not
trillions), so five PageRank rounds are five small joins — the same
corpus-twice/vocab-many-times cost split as the BPE learner
(operators/bpe.py).

All rank arithmetic is scaled-integer (ranks are BIGINTs scaled by
10^12, damping applied as *85 // 100, contributions as
(rank * weight) div total_outweight): floor division on positive
BIGINTs is bit-identical across Spark and DuckDB, so five iterations
stay hash-exact in the oracle — no float drift. Floor loss slightly
deflates mass per hop, identically on both engines; the classic
float formulation converges to the same ordering.

Reference anchor: none (main.py has no graph/iterative operators) —
training-data north-star scope (TextRank: Mihalcea & Tarau, 2004).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def cooccurrence_edges(
    docs: DataFrame,
    text_col: str = "text",
    delimiter: str = " ",
) -> DataFrame:
    """Directed word co-occurrence graph from adjacent-token pairs
    (window = 1, both directions, self-loops dropped):
    ``(src, dst, w, wout)`` with w = corpus pair count and wout =
    total outgoing weight of src.

    One explode + one count groupBy; the wout window runs on the
    already-aggregated edge list (vocab² bounded, in practice a few
    edges per vocab word), not the corpus.
    """
    from universal_importer_duckdb_spark.operators.text_analysis import (
        _bind,
    )

    # the token array is lambda-BOUND before the per-position lambda —
    # capturing the split() EXPRESSION would re-split the document
    # once per element_at (the lm.py::_bigrams O(n·tokenize) bug,
    # found by the r12 scale probe)
    def _adjacent(toks):
        # guard: sequence(1, 0) would step BACKWARD for 1-token docs
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("a"),
                    F.element_at(toks, i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))

    adj = _bind(F.split(F.col(text_col), delimiter), _adjacent)
    pairs = docs.select(
        F.explode(F.filter(adj, lambda s: s["a"] != s["b"])).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))

    undirected = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    directed = undirected.selectExpr("a AS src", "b AS dst", "w").unionByName(
        undirected.selectExpr("b AS src", "a AS dst", "w")
    )
    # adjacent pair (x,y) and (y,x) both occur -> merge their counts
    edges = directed.groupBy("src", "dst").agg(
        F.sum("w").cast("bigint").alias("w")
    )
    wout = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wout"))
    return edges.join(wout, "src")


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    iterations: int = 5,
    top_k: int = 50,
    damping_pct: int = 85,
) -> DataFrame:
    """Top-k corpus keywords by scaled-integer TextRank.

    Returns ``(word, rank)`` — rank is the BIGINT 10^12-scaled score
    after ``iterations`` rounds, ordered (rank DESC, word) and limited
    to top_k. Nodes are words with at least one co-occurrence edge.
    """
    # Materialize the graph once (localCheckpoint truncates lineage:
    # without it each of the k iterations re-plans the full corpus
    # explode, and the final plan is a k-deep join tree whose Catalyst
    # analysis alone dominates the runtime — measured 4.1s lazy vs
    # 1.5s checkpointed at sf0.1). The iteration frames are vocab-
    # sized, so per-iteration checkpoints are cheap at any corpus
    # scale.
    edges = cooccurrence_edges(docs, text_col).localCheckpoint()
    nodes = edges.select(F.col("src").alias("word")).distinct().localCheckpoint()
    n = nodes.count()  # bounded driver scalar: one BIGINT (vocab size)
    if n == 0:
        return nodes.select(
            "word", F.lit(None).cast("bigint").alias("rank")
        )

    # Overflow guard (r6 advice): the contribution term is
    # (rank * w) div wout in BIGINT. rank <= SCALE is an invariant
    # (rank mass only deflates: per-node rank = base + 85% of a sum
    # of terms whose corpus total is <= the previous total mass), so
    # the product is safe iff max(w) * SCALE < 2^63. Spark would wrap
    # silently in non-ANSI mode while DuckDB raises — check up front
    # on the vocab-sized (already checkpointed) edge list instead.
    w_cap = (2**63 - 1) // SCALE
    max_w = edges.agg(F.max("w")).first()[0]
    if max_w is not None and max_w > w_cap:
        raise ValueError(
            f"textrank_keywords: max edge weight {max_w} exceeds the "
            f"BIGINT-safe cap {w_cap} for SCALE={SCALE}; rerun with a "
            f"smaller SCALE (each 10x off the scale buys 10x edge "
            f"weight headroom at ~one digit of rank resolution)"
        )
    base = f"({100 - damping_pct} * {SCALE}) div (100 * {n})"
    rank = nodes.selectExpr("word", f"{SCALE} div {n} AS rank")
    for _ in range(iterations):
        contribs = (
            edges.join(rank.withColumnRenamed("word", "src"), "src")
            .select(
                F.col("dst").alias("word"),
                F.expr("(rank * w) div wout").alias("c"),
            )
            .groupBy("word")
            .agg(F.sum("c").cast("bigint").alias("contrib"))
        )
        rank = (
            nodes.join(contribs, "word", "left")
            .selectExpr(
                "word",
                f"{base} + ({damping_pct} * coalesce(contrib, 0)) div 100"
                " AS rank",
            )
            .localCheckpoint()
        )
    return rank.orderBy(F.desc("rank"), "word").limit(top_k)


def textrank_sql(iterations: int = 5, top_k: int = 50, damping_pct: int = 85) -> str:
    """DuckDB oracle: identical scaled-integer replay with the
    iterations unrolled as CTEs (DuckDB ``//`` floors exactly like
    Spark's ``div`` on positive BIGINTs)."""
    base = (
        f"({100 - damping_pct} * {SCALE}) // (100 * (SELECT n FROM nn))"
    )
    its = [
        "it0 AS (SELECT word, "
        f"{SCALE} // (SELECT n FROM nn) AS rank FROM nodes)"
    ]
    for k in range(1, iterations + 1):
        its.append(
            f"it{k} AS (\n"
            f"  SELECT nd.word,\n"
            f"         {base} + ({damping_pct} * COALESCE(c.contrib, 0)) // 100"
            " AS rank\n"
            f"  FROM nodes nd LEFT JOIN (\n"
            f"    SELECT e.dst AS word,\n"
            f"           CAST(SUM((r.rank * e.w) // e.wout) AS BIGINT)"
            " AS contrib\n"
            f"    FROM edges e JOIN it{k - 1} r ON r.word = e.src\n"
            f"    GROUP BY e.dst) c ON c.word = nd.word)"
        )
    return f"""
WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
adj AS (
  SELECT l[i] AS a, l[i+1] AS b
  FROM t, unnest(range(1, len(l))) AS u(i)
  WHERE l[i] <> l[i+1]),
und AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w FROM adj GROUP BY a, b),
dir AS (SELECT a AS src, b AS dst, w FROM und
        UNION ALL SELECT b, a, w FROM und),
edges0 AS (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM dir
           GROUP BY src, dst),
edges AS (
  SELECT e.*, CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS wout
  FROM edges0 e),
nodes AS (SELECT DISTINCT src AS word FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
{',' .join(its)}
SELECT word, CAST(rank AS BIGINT) AS rank FROM it{iterations}
ORDER BY rank DESC, word LIMIT {top_k}
"""


def top_collocations(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """PMI-ranked collocations: ordered adjacent bigrams scored by
    (c_xy * U) / (c_x * c_y) — pointwise mutual information up to a
    corpus-constant factor, so the RANKING is exact while every input
    stays an exact integer (< 2^53, so the double ratio both engines
    compute from identical ints is bit-identical). Corpus-scale work
    is the same one explode + count the co-occurrence graph pays;
    scoring joins run on the vocab-sized count tables.

    Scale shape (r7 verdict item — the old plan joined the FULL
    unigram table twice and exploded the corpus three times): ONE
    corpus explode emits every token as ``(a, next-or-null)`` (F.get
    returns NULL past the end, so the last token of each document
    carries a null tail), and the single ``(a, b)`` count table is the
    checkpointed collocation-statistics artifact — the same
    Heaps-bounded materialization as textrank's co-occurrence edge
    list, which holds the identical unfiltered bigram counts. Every
    downstream quantity derives from that vocab²-bounded table with
    no further corpus access: bigram counts are its non-null-tail
    rows, unigram counts are a groupBy(a) (each token appears exactly
    once in the ``a`` position), and the corpus token total is one
    sum. The ratio joins therefore run candidate-vs-vocab sized and
    stay declarative under AQE's broadcast gate (both join paths emit
    identical rows — tests/test_round7_ops.py); only the 1-row total
    is an explicit broadcast.
    """
    from universal_importer_duckdb_spark.operators.text_analysis import (
        _bind,
    )

    # bind the split ONCE per row (see _adjacent above for the
    # O(n·split) capture bug this avoids)
    ext = _bind(
        F.split(F.col(text_col), " "),
        lambda toks: F.transform(
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda i: F.struct(
                F.get(toks, i).alias("a"), F.get(toks, i + 1).alias("b")
            ),
        ),
    )
    # a lineage cut, not scoped_cache: the four reads below (kept,
    # unigrams twice, total) each pay an in-memory columnar scan of a
    # cached (a, b, c) table, and that made the re-query slower —
    # docs_top_collocations at sf0.1, 4 vCPUs, warm re-query median of
    # 8: 0.22 s checkpointed vs 0.33-0.37 s cached (6 vs 7 jobs), and
    # 0.110 vs 0.192 s in the 5-run bench protocol (3 sweeps each)
    ab = (
        docs.select(F.explode(ext).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    kept = ab.filter(F.col("b").isNotNull() & (F.col("c") >= min_count))
    uni = (
        ab.filter(F.col("a") != "")
        .groupBy("a")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )
    total = (
        ab.filter(F.col("a") != "")
        .agg(F.sum("c").cast("bigint").alias("u"))
    )
    scored = (
        kept.select("a", "b", F.col("c").alias("c_xy"))
        .join(uni.selectExpr("a", "cnt AS c_a"), "a")
        .join(uni.selectExpr("a AS b", "cnt AS c_b"), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "c_xy",
            (
                (F.col("c_xy") * F.col("u"))
                / (F.col("c_a") * F.col("c_b"))
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.desc("pmi_ratio"), "a", "b").limit(top_k)
