"""Registry sections: CDC / changelog algebra, SCD-2 history,
weighted priority sampling, and the round-6 additions (line-level
dedup, Bloom-prefiltered ingest, containment dedup, funnels,
TextRank, PQ/ADC, expectation suites, span decontamination,
journeys, collocations, audio/image kernels). Chained after
``registry.breadth``.
"""

from __future__ import annotations

from universal_importer_duckdb_spark.registry.breadth import *  # noqa: F401,F403



# ======================================================================
# CDC / changelog algebra, SCD-2 history, weighted priority sampling,
# keyword search, Z-order layout codes, certified quantile sketches
# ======================================================================

# 2024-01-16T00:00:00Z, the midpoint of the events timeline: the
# snapshot/delta boundary for the incremental-merge entry
_MERGE_SPLIT_NS = 1_705_363_200 * 1_000_000_000


def events_changelog_state(spark, sf_dir):
    """Changelog compaction to current state: events is an op-typed
    CDC log over user_id ('error' = delete, anything else upsert);
    latest (ts, event_id) wins. ONE hash-aggregate (max-struct with
    map-side partials), not a window sort — the shape that survives a
    100 TB log. The oracle replays it as the row_number window."""
    from universal_importer_duckdb_spark.operators.changelog import (
        changelog_current_state,
    )

    ev = _t(spark, sf_dir, "events")
    state = changelog_current_state(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
        payload_cols=["value"],
    )
    return state.select(
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        "event_id",
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
        "n_versions",
    )


CHANGELOG_STATE_SQL = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_versions
  FROM events)
SELECT user_id, ts_us, event_id, event_type AS last_op,
       value AS last_value, CAST(n_versions AS BIGINT) AS n_versions
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


def events_merge_upsert_state(spark, sf_dir):
    """Incremental MERGE certification: snapshot the log below the
    split timestamp, compact the rest into a delta (deletes retained
    as tombstones), broadcast-MERGE the delta into the snapshot — and
    the oracle checks the result equals the CURRENT STATE OF THE FULL
    LOG, i.e. merge(state(log<T), compact(log>=T)) == state(log).
    That algebra is what lets a 100 TB pipeline apply a day's CDC
    batch without ever re-reading history; broadcast_delta means the
    snapshot side never shuffles. (n_versions is not emitted: a
    snapshot legitimately forgets the version counts of keys it
    deleted, so only the merged STATE is oracle-comparable; the
    additive version count is unit-tested.)"""
    from universal_importer_duckdb_spark.operators.changelog import (
        changelog_current_state,
        merge_upsert,
    )

    ev = _t(spark, sf_dir, "events")
    kw = dict(
        key_cols=["user_id"],
        seq_cols=["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
        payload_cols=["value"],
    )
    base = changelog_current_state(ev.filter(F.col("ts") < _MERGE_SPLIT_NS), **kw)
    delta = changelog_current_state(
        ev.filter(F.col("ts") >= _MERGE_SPLIT_NS), keep_deletes=True, **kw
    )
    merged = merge_upsert(
        base,
        delta,
        ["user_id"],
        op_col="event_type",
        delete_ops=("error",),
        broadcast_delta=True,
    )
    return merged.select(
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        "event_id",
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
    )


MERGE_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, ts_us, event_id, event_type AS last_op, value AS last_value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


def events_scd2_history(spark, sf_dir):
    """SCD type-2 validity intervals over each user's purchase
    timeline: every purchase holds [its ts, the next purchase's ts),
    open-ended and flagged current for the latest. One window shuffle
    partitioned by user."""
    from universal_importer_duckdb_spark.operators.changelog import scd2_intervals

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hist = scd2_intervals(
        ev, ["user_id"], ["ts", "event_id"], payload_cols=["value"]
    )
    return hist.select(
        "user_id",
        "event_id",
        "value",
        F.expr("valid_from DIV 1000").alias("valid_from_us"),
        F.expr("valid_to DIV 1000").alias("valid_to_us"),
        "is_current",
    )


SCD2_SQL = """
SELECT user_id, event_id, value,
       epoch_us(ts) AS valid_from_us,
       epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id)) AS valid_to_us,
       LEAD(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
"""


def stream_incremental_upsert_state(spark, sf_dir):
    """Streaming CDC upsert: drain the event stream through per-batch
    compaction + seq-aware broadcast MERGE (streaming/upsert.py) and
    emit the final current state. Batch-split-independent by
    construction (last-write-wins on (ts, event_id) with tombstone
    retention), so the oracle is simply the batch current state of
    the full log."""
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.upsert import incremental_state

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("event_time")).alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    state = incremental_state(
        stream,
        ["user_id"],
        ["ts_us", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
        payload_cols=["value"],
    )
    return state.select(
        "user_id",
        "ts_us",
        "event_id",
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
    )


def docs_priority_sample(spark, sf_dir):
    """Weighted 100-doc sample by sequential Poisson (priority)
    sampling, weight = n_chars: deterministic, transcendental-free,
    replayed bit-exactly by the oracle (the priority is one double
    division of two exact integers). Top-k is TakeOrderedAndProject —
    no global sort at any corpus size."""
    from universal_importer_duckdb_spark.operators.corpus import priority_sample

    docs = _t(spark, sf_dir, "documents")
    return priority_sample(docs, 100, "n_chars").select(
        "doc_id", "n_chars", "priority"
    )


PRIORITY_SAMPLE_SQL = """
WITH p AS (
  SELECT doc_id, n_chars,
         ('0x'||substr(md5('prio-v1:'||doc_id), 1, 7))::BIGINT
           / CAST(round(n_chars * 1000000) AS BIGINT) AS priority
  FROM documents WHERE CAST(round(n_chars * 1000000) AS BIGINT) > 0)
SELECT doc_id, n_chars, priority FROM p ORDER BY priority, doc_id LIMIT 100
"""


def docs_keyword_search_topk(spark, sf_dir):
    """BM25-family keyword retrieval (rational idf — see search.py:
    log-free so every arithmetic step is an IEEE op both engines
    execute identically) for the query {hash, join, stream}: one
    narrow tf/doclen map, one broadcast one-row corpus-stats
    aggregate, TakeOrderedAndProject top-20."""
    from universal_importer_duckdb_spark.operators.search import keyword_search_topk

    docs = _t(spark, sf_dir, "documents")
    return keyword_search_topk(docs, ("hash", "join", "stream"), k=20)


def _bm25_term_sql(t: str) -> str:
    ln = ("(1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *"
          " ((doclen * n_docs) / sum_len)))")
    return (
        f"(((n_docs - df_{t}) + 0.5::DOUBLE) / (df_{t} + 0.5::DOUBLE))"
        f" * (tf_{t} * 2.2::DOUBLE) / (tf_{t} + {ln})"
    )


KEYWORD_SEARCH_SQL = f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(coalesce(text,'')), ' '),
                              x -> x = 'hash')) AS BIGINT) AS tf_hash,
         CAST(len(list_filter(string_split(lower(coalesce(text,'')), ' '),
                              x -> x = 'join')) AS BIGINT) AS tf_join,
         CAST(len(list_filter(string_split(lower(coalesce(text,'')), ' '),
                              x -> x = 'stream')) AS BIGINT) AS tf_stream,
         CAST(len(string_split(lower(coalesce(text,'')), ' ')) AS BIGINT)
           AS doclen
  FROM documents),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(doclen) AS BIGINT) AS sum_len,
         CAST(SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS df_hash,
         CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS df_join,
         CAST(SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS df_stream
  FROM tf)
SELECT doc_id, tf_hash, tf_join, tf_stream,
       {_bm25_term_sql('hash')}
     + {_bm25_term_sql('join')}
     + {_bm25_term_sql('stream')} AS score
FROM tf CROSS JOIN st
ORDER BY score DESC, doc_id LIMIT 20
"""


def docs_tokens_udtf(spark, sf_dir):
    """Python UDTF exemplar (completes the UDF/UDAF/stateful/codec API
    matrix): an Arrow-optimized user-defined TABLE function emitting
    (pos, token) rows per document through a LATERAL join. The
    semantics are deliberately SQL-replayable (positional tokenize,
    skip empties, keep original 1-based positions) so even the Python
    table function gets a bit-exact oracle. The built-in explode
    covers this in production plans — the entry certifies the API
    path for logic that genuinely needs imperative Python row
    generation."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, token: string", useArrow=True)
    class TokenEmitter:
        def eval(self, text: str):
            for i, t in enumerate((text or "").split(" ")):
                if t:
                    yield i + 1, t

    _t(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("token_emitter", TokenEmitter)
    return spark.sql(
        "SELECT t.doc_id, e.pos, e.token "
        "FROM __udtf_docs t, LATERAL token_emitter(t.text) e"
    )


TOKENS_UDTF_SQL = """
SELECT doc_id, CAST(u.p AS BIGINT) AS pos, u.t AS token
FROM (SELECT doc_id, unnest([struct_pack(p := i, t := toks[i])
                             for i in generate_series(1, len(toks))]) AS u
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
WHERE u.t <> ''
"""


def docs_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 keyword top-50 and exact-cosine vector
    top-50 fused by reciprocal-rank fusion (operators/search.py::
    rrf_fuse) — the lexical+semantic retrieval stack in one
    oracle-certified query. Both rankers are the already-certified
    components (rational-idf BM25; DECIMAL cosine); ranks come from
    deterministic (score desc, id) orderings, and the fuse is rank-
    based 1/(60+r) arithmetic, identical IEEE ops both engines. The
    rank windows run on 50-row frames, so their single-partition
    execution is free; embeddings row i is document i's vector in the
    synthetic schema."""
    from universal_importer_duckdb_spark.operators.search import (
        keyword_search_topk,
        rrf_fuse,
    )
    from universal_importer_duckdb_spark.operators.similarity import (
        cosine_topk_two_phase,
    )

    docs = _t(spark, sf_dir, "documents")
    # latency-bound interactive query: on a corpus known small (parquet
    # footer), window-inline the corpus stats — one tokenization, no
    # broadcast job, stage overlaps the vector branch (search.py
    # docstring); unknown/large corpora keep the broadcast shape
    n_docs_hint = _footer_rows(sf_dir, "documents")
    kw = keyword_search_topk(
        docs,
        ("hash", "join", "stream"),
        k=50,
        stats="window" if n_docs_hint is not None and n_docs_hint <= 100_000 else "broadcast",
    )
    wk = Window.orderBy(F.desc("score"), "doc_id")
    kwr = kw.select("doc_id", F.row_number().over(wk).alias("rank"))
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    vec = cosine_topk_two_phase(
        emb,
        _query_vec(spark, sf_dir),
        k=50,
        size_hint=_footer_rows(sf_dir, "embeddings"),
    )
    wv = Window.orderBy(F.desc("cosine"), "vec_id")
    vecr = vec.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wv).alias("rank")
    )
    return rrf_fuse([kwr, vecr], k_rrf=60, k=20).withColumnsRenamed(
        {"rank_0": "rank_kw", "rank_1": "rank_vec"}
    )


HYBRID_RRF_SQL = f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(coalesce(text,'')), ' '),
                              x -> x = 'hash')) AS BIGINT) AS tf_hash,
         CAST(len(list_filter(string_split(lower(coalesce(text,'')), ' '),
                              x -> x = 'join')) AS BIGINT) AS tf_join,
         CAST(len(list_filter(string_split(lower(coalesce(text,'')), ' '),
                              x -> x = 'stream')) AS BIGINT) AS tf_stream,
         CAST(len(string_split(lower(coalesce(text,'')), ' ')) AS BIGINT)
           AS doclen
  FROM documents),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(doclen) AS BIGINT) AS sum_len,
         CAST(SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS df_hash,
         CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS df_join,
         CAST(SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS df_stream
  FROM tf),
kw AS (
  SELECT doc_id,
         {_bm25_term_sql('hash')}
     + {_bm25_term_sql('join')}
     + {_bm25_term_sql('stream')} AS score
  FROM tf CROSS JOIN st ORDER BY score DESC, doc_id LIMIT 50),
kwr AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS rank_kw
  FROM kw),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id,
        {_SQL_DOT.format(a="embedding::DOUBLE[]", b="qv")} AS dot,
        {_SQL_N2.format(a="embedding::DOUBLE[]")} AS n1,
        {_SQL_N2.format(a="qv")} AS n2
      FROM embeddings, q WHERE vec_id > 0),
vec AS (SELECT vec_id, dot/(sqrt(n1)*sqrt(n2)) AS cosine
        FROM s ORDER BY cosine DESC, vec_id LIMIT 50),
vecr AS (
  SELECT vec_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
           AS rank_vec
  FROM vec)
SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id, k.rank_kw, v.rank_vec,
       COALESCE(1.0/(60 + k.rank_kw), 0.0)
         + COALESCE(1.0/(60 + v.rank_vec), 0.0) AS rrf_score
FROM kwr k FULL OUTER JOIN vecr v ON k.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


def orders_zorder_codes(spark, sf_dir):
    """Z-order layout codes: Morton-interleave customer key and order
    day so range-partitioning on the code yields files with tight
    min/max stats on BOTH dimensions (multi-dim data skipping — the
    100 TB scan-pruning lever). Pure integer shift/mask arithmetic,
    whole-stage codegen, bit-identical in the oracle."""
    from universal_importer_duckdb_spark.operators.layout import morton_code

    orders = _t(spark, sf_dir, "orders")
    zx = F.col("o_custkey").bitwiseAND(F.lit(65535)).cast("bigint")
    zy = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .bitwiseAND(F.lit(65535).cast("bigint"))
    )
    base = orders.select(
        "o_orderkey", zx.alias("zx"), zy.alias("zy")
    )
    return base.select(
        "o_orderkey", "zx", "zy", morton_code("zx", "zy").alias("zcode")
    )


def _zorder_sql() -> str:
    from universal_importer_duckdb_spark.operators.layout import morton_code_sql

    return f"""
WITH base AS (
  SELECT o_orderkey,
         (o_custkey & 65535) AS zx,
         (date_diff('day', DATE '1992-01-01', o_orderdate::DATE) & 65535)
           AS zy
  FROM orders)
SELECT o_orderkey, zx, zy, {morton_code_sql('zx', 'zy')} AS zcode FROM base
"""


def orders_quantile_envelope(spark, sf_dir):
    """Grouped quantiles with a CERTIFIED sketch envelope — the
    100 TB quantile path (same contract as the HLL++ entry): the
    emitted p50/p90 are EXACT order statistics (rank = ceil(q*n) via
    one window pass — the verifiable baseline), and the within-budget
    flags compare Spark's mergeable GK sketch (percentile_approx,
    accuracy 1000) against them. Exact ranks AND the sketch are folded
    in ONE aggregate over the window output (r8: was a second scan +
    join) — the window's hash partitioning on the group key is reused
    by the groupBy, so the whole query is one scan and one shuffle.
    The oracle recomputes the exact order stats and asserts the
    envelope as a literal, so a sketch drifting out of its ±5% budget
    fails the hash check."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    r = (
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wc).cast("bigint"))
    )
    agg = r.groupBy("o_orderpriority").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("o_totalprice"))
        ).alias("p50_exact"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("o_totalprice"))
        ).alias("p90_exact"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("__a50"),
        F.percentile_approx("o_totalprice", 0.9, 1000).alias("__a90"),
    )
    return agg.select(
        "o_orderpriority",
        "p50_exact",
        "p90_exact",
        (F.abs(F.col("__a50") - F.col("p50_exact")) <= F.col("p50_exact") * 0.05)
        .alias("p50_within_budget"),
        (F.abs(F.col("__a90") - F.col("p90_exact")) <= F.col("p90_exact") * 0.05)
        .alias("p90_within_budget"),
    )


QUANTILE_ENVELOPE_SQL = """
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders)
SELECT o_orderpriority,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                THEN o_totalprice END) AS p50_exact,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                THEN o_totalprice END) AS p90_exact,
       TRUE AS p50_within_budget, TRUE AS p90_within_budget
FROM r GROUP BY o_orderpriority
"""


def orders_data_profile(spark, sf_dir):
    """Dataset profiling (the "data card"): per-column null counts,
    exact distinct cardinalities, and min/max ranges in ONE scan (a
    single multi-aggregate with map-side partials; the unpivot to
    long form runs on the one-row result). Money doubles render
    through DECIMAL(15,2) and timestamps through DATE so the string
    forms are cross-engine identical."""
    from universal_importer_duckdb_spark.operators.profile import profile_table

    orders = _t(spark, sf_dir, "orders")
    return profile_table(
        orders,
        render={"o_totalprice": "decimal(15,2)", "o_orderdate": "date"},
    )


def _profile_block(col: str, cast_to: str | None = None) -> str:
    e = f"CAST({col} AS {cast_to})" if cast_to else col
    return f"""
SELECT '{col}' AS "column",
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       CAST(MIN({e}) AS VARCHAR) AS min_value,
       CAST(MAX({e}) AS VARCHAR) AS max_value
FROM orders"""


ORDERS_PROFILE_SQL = "\nUNION ALL\n".join(
    _profile_block(c, t)
    for c, t in (
        ("o_orderkey", None),
        ("o_custkey", None),
        ("o_orderstatus", None),
        ("o_totalprice", "DECIMAL(15,2)"),
        ("o_orderdate", "DATE"),
        ("o_orderpriority", None),
    )
)


def part_fuzzy_matches(spark, sf_dir):
    """Fuzzy entity resolution on part names (blocking + edit-distance
    verify — operators/linkage.py): rows collapse to DISTINCT names
    (one hash-agg), a last-token blocking key bounds pair generation to
    within-block self-joins over the distinct frame (never rows², with
    a hard max_block_size guard), and the JVM levenshtein verify runs
    on candidates only. DuckDB's levenshtein has identical semantics,
    so the whole block→pair→verify pipeline replays in the oracle."""
    from universal_importer_duckdb_spark.operators.linkage import (
        fuzzy_match_pairs,
    )

    part = _t(spark, sf_dir, "part")
    return fuzzy_match_pairs(
        part, text_col="p_name", id_col="p_partkey", max_distance=3
    )


FUZZY_MATCH_SQL = """
WITH d AS (
  SELECT p_name AS name,
         CAST(MIN(p_partkey) AS BIGINT) AS rep_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         list_extract(string_split(p_name, ' '), -1) AS blk
  FROM part GROUP BY p_name)
SELECT a.name AS name_a, a.rep_id AS id_a, a.n_rows AS n_a,
       b.name AS name_b, b.rep_id AS id_b, b.n_rows AS n_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
FROM d a JOIN d b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
"""


def events_resample_interpolate(spark, sf_dir):
    """Time-series resample + gap fill (operators/temporal.py): hourly
    buckets per event_type, empty buckets inside each type's observed
    span filled by linear interpolation between neighboring observed
    means. Per-bucket sums run in scaled int64 (exact under any
    partitioning); the mean and interpolation are the IDENTICAL double
    expression on both engines, so the raw doubles hash-match without
    rounding."""
    from universal_importer_duckdb_spark.operators.temporal import (
        resample_interpolate,
    )

    events = _t(spark, sf_dir, "events")
    return resample_interpolate(
        events,
        key_col="event_type",
        ts_col="ts",
        value_col="value",
        bucket_ns=3_600_000_000_000,
        round_digits=None,
    )


RESAMPLE_SQL = """
WITH obs AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(round(value * 100) AS BIGINT)) AS sv
  FROM events GROUP BY 1, 2),
m AS (SELECT *, (sv / 100.0) / n_events AS mean FROM obs),
span AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
         FROM obs GROUP BY 1),
grid AS (SELECT event_type, UNNEST(generate_series(lo, hi)) AS bucket
         FROM span),
j AS (SELECT g.event_type, g.bucket, m.n_events, m.mean
      FROM grid g LEFT JOIN m
        ON g.event_type = m.event_type AND g.bucket = m.bucket),
w AS (SELECT event_type, bucket, n_events, mean,
        LAST_VALUE(CASE WHEN n_events IS NOT NULL
                        THEN struct_pack(b := bucket, mn := mean) END
                   IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        FIRST_VALUE(CASE WHEN n_events IS NOT NULL
                         THEN struct_pack(b := bucket, mn := mean) END
                    IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS q
      FROM j)
SELECT event_type, bucket,
       COALESCE(n_events, 0) AS n_events,
       CASE WHEN n_events IS NOT NULL THEN mean
            ELSE p.mn + ((q.mn - p.mn) * (bucket - p.b)) / (q.b - p.b)
       END AS mean_value,
       n_events IS NULL AS interpolated
FROM w
"""


def events_robust_outliers(spark, sf_dir):
    """Per-type median/MAD outlier screen (operators/anomaly.py): the
    |v - median| > 3.5*MAD robust-z rule evaluated ENTIRELY in exact
    integer arithmetic (doubled scaled medians are exact integers on
    both engines — see the module docstring), so counts and flags are
    bit-identical under any partitioning. ONE exchange on the group
    key: both medians run as window aggregates over the same
    partitioning, and the final group-by reuses it."""
    from universal_importer_duckdb_spark.operators.anomaly import (
        robust_outlier_summary,
    )

    events = _t(spark, sf_dir, "events")
    return robust_outlier_summary(
        events, group_col="event_type", value_col="value"
    )


ROBUST_OUTLIERS_SQL = """
WITH s AS (SELECT event_type AS grp,
                  CAST(round(value * 100) AS BIGINT) AS v FROM events),
m AS (SELECT grp, CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS med2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s GROUP BY grp),
d AS (SELECT s.grp, m.n, m.med2, ABS(2 * s.v - m.med2) AS dev2
      FROM s JOIN m ON s.grp = m.grp),
md AS (SELECT grp, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad2
       FROM d GROUP BY grp)
SELECT d.grp AS event_type, d.n,
       d.med2 / 200.0 AS median_value,
       md.mad2 / 400.0 AS mad,
       CAST(SUM(CASE WHEN 4 * d.dev2 > 7 * md.mad2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       MAX(d.dev2) / 200.0 AS max_abs_dev
FROM d JOIN md ON d.grp = md.grp
GROUP BY d.grp, d.n, d.med2, md.mad2
"""


N_BPE_MERGES = 8


def docs_bpe_learn_merges(spark, sf_dir):
    """Distributed BPE tokenizer induction (operators/bpe.py): 8 merge
    rounds over the corpus word-frequency table. One corpus-sized
    aggregation, then every round is one vocab-sized hash-agg whose
    winner returns as a single-row argmax collect — the bounded
    driver traffic inherent to BPE's sequential dependence — and the
    merge applies as a literal narrow map. The delimited-string merge
    uses replace-scan semantics verified identical across Spark/
    DuckDB/Python, so the full learn loop replays bit-for-bit in the
    oracle's 8 chained SQL stages."""
    from universal_importer_duckdb_spark.operators.bpe import (
        learn_bpe,
        word_frequency_table,
    )

    docs = _t(spark, sf_dir, "documents")
    merges, _ = learn_bpe(
        word_frequency_table(docs), n_merges=N_BPE_MERGES
    )
    return merges


# Keyed by id(spark): the memoized vocab frame pins its session
# object, so a dead session's id cannot be reused while its entry
# lives — the risk is retention, not collision. The FIFO cap bounds
# both the kept frames and the dead-session retention.
_BPE_VOCAB_MEMO: dict[tuple[int, str, int], DataFrame] = {}
_BPE_VOCAB_MEMO_CAP = 4


def docs_bpe_token_counts(spark, sf_dir):
    """BPE tokenizer APPLICATION: per-document token counts under the
    vocabulary learned by docs_bpe_learn_merges — the number every
    training-data pipeline needs per example (sequence packing,
    pricing, curriculum). The trained vocabulary is memoized per
    (session, corpus, rounds) — production trains a tokenizer ONCE
    and serves the artifact, so repeat calls measure what repeats:
    the encode (a word→symbol-count join + one per-doc aggregation).
    The learn entry itself is never memoized — its measurement is the
    training cost."""
    from universal_importer_duckdb_spark.operators.bpe import (
        bpe_token_counts,
        learn_bpe,
        word_frequency_table,
    )

    docs = _t(spark, sf_dir, "documents")
    key = (id(spark), sf_dir, N_BPE_MERGES)
    vocab = _BPE_VOCAB_MEMO.get(key)
    if vocab is None:
        _, vocab = learn_bpe(
            word_frequency_table(docs), n_merges=N_BPE_MERGES
        )
        while len(_BPE_VOCAB_MEMO) >= _BPE_VOCAB_MEMO_CAP:
            _BPE_VOCAB_MEMO.pop(next(iter(_BPE_VOCAB_MEMO)))
        _BPE_VOCAB_MEMO[key] = vocab
    # NOT spread (r13): scan parallelism for the word-stream explode
    # comes from byte splitting (openCostInBytes, session.py) — a
    # pre-spread exchange measured slower than the split-parallel
    # scan; the vocab replay is memoized and trivial (0.025 s)
    return bpe_token_counts(docs, vocab)


def _bpe_sql_stages(n_merges: int) -> str:
    """The learn loop as chained DuckDB CTEs (programmatically
    generated like ORDERS_PROFILE_SQL): w{i} -> pair counts p{i} ->
    best pair b{i} -> merged w{i+1}, with the winning pair spliced in
    via scalar subqueries — the SQL mirror of the broadcast one-row
    frame. Every stage is AS MATERIALIZED: DuckDB inlines plain CTEs
    per reference, and the 4 scalar-subquery references per merge
    stage would otherwise re-expand the whole chain 4^k times."""
    stages = ["""wc AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word),
w0 AS MATERIALIZED (SELECT word, cnt,
              regexp_replace(word, '(.)', '·\\1', 'g') || '·' AS d
       FROM wc)"""]
    for i in range(n_merges):
        pat = (
            f"'·' || (SELECT a FROM b{i}) || '·' || "
            f"(SELECT b FROM b{i}) || '·'"
        )
        rep = (
            f"'·' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || '·'"
        )
        stages.append(f"""p{i} AS MATERIALIZED (
  SELECT pr[1] AS a, pr[2] AS b, SUM(cnt) AS c
  FROM (SELECT cnt,
               unnest([[s[j], s[j+1]] for j in generate_series(1, len(s)-1)])
                 AS pr
        FROM (SELECT cnt, string_split(trim(d, '·'), '·') AS s FROM w{i}))
  GROUP BY 1, 2),
b{i} AS MATERIALIZED (
  SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
w{i + 1} AS MATERIALIZED (
  SELECT word, cnt,
         replace(replace(d, {pat}, {rep}), {pat}, {rep}) AS d
  FROM w{i})""")
    return "WITH " + ",\n".join(stages)


def _bpe_learn_sql(n_merges: int) -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS round, a AS sym_a, b AS sym_b,"
        f" CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return f"{_bpe_sql_stages(n_merges)}\n{rows}"


def _bpe_encode_sql(n_merges: int) -> str:
    return f"""{_bpe_sql_stages(n_merges)},
tok AS (SELECT word,
               CAST(len(string_split(trim(d, '·'), '·')) AS BIGINT)
                 AS n_syms
        FROM w{n_merges}),
dw AS (SELECT doc_id,
              unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
       FROM documents),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(COALESCE(n_syms,
                                 CAST(length(word) AS BIGINT))) AS BIGINT)
                 AS n_bpe_tokens
        FROM (SELECT doc_id, word FROM dw WHERE word <> '')
        LEFT JOIN tok USING (word) GROUP BY doc_id)
SELECT d.doc_id, COALESCE(per.n_words, 0) AS n_words,
       COALESCE(per.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


# package-root data/ (this module moved into registry/ in the r7
# split, so the anchor is the parent package, not this file's dir)
_SHIPPED_MERGES_PATH = str(
    __import__("pathlib").Path(__file__).resolve().parents[1]
    / "data"
    / "shipped_merges.txt"
)


def docs_shipped_tokenizer_counts(spark, sf_dir):
    """Token counts under a SHIPPED tokenizer file (operators/bpe.py::
    load_merges_file + apply_merges): the GPT-2-style merges.txt in
    data/shipped_merges.txt is parsed on the driver and replayed as a
    chain of literal replace maps over the corpus word table — the
    interop path a real corpus pipeline needs, since token budgets
    must be counted under the TARGET model's tokenizer, not one
    learned from the corpus at hand. No learn loop, no collects:
    one corpus word-count aggregation, the literal merge chain
    (narrow maps), then the same encode join as
    docs_bpe_token_counts. The oracle replays the identical literal
    replace chain (replace-scan semantics verified identical across
    Spark/DuckDB/Python)."""
    from universal_importer_duckdb_spark.operators.bpe import (
        apply_merges,
        bpe_token_counts,
        load_merges_file,
        word_frequency_table,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = load_merges_file(_SHIPPED_MERGES_PATH)
    vocab = apply_merges(word_frequency_table(docs), merges)
    return bpe_token_counts(docs, vocab)


def _shipped_tokenizer_sql() -> str:
    """Oracle for docs_shipped_tokenizer_counts: the shipped merge
    list is file content (not data-derived), so the replay is one
    nested literal replace expression — no scalar subqueries, no
    materialized stage chain."""
    from universal_importer_duckdb_spark.operators.bpe import (
        load_merges_file,
    )

    expr = "d"
    for a, b in load_merges_file(_SHIPPED_MERGES_PATH):
        pat = f"'·{a}·{b}·'"
        rep = f"'·{a}{b}·'"
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return f"""
WITH wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word),
w0 AS (SELECT word, regexp_replace(word, '(.)', '·\\1', 'g') || '·' AS d
       FROM wc),
tok AS (SELECT word,
               CAST(len(string_split(trim({expr}, '·'), '·')) AS BIGINT)
                 AS n_syms
        FROM w0),
dw AS (SELECT doc_id,
              unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
       FROM documents),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(COALESCE(n_syms,
                                 CAST(length(word) AS BIGINT))) AS BIGINT)
                 AS n_bpe_tokens
        FROM (SELECT doc_id, word FROM dw WHERE word <> '')
        LEFT JOIN tok USING (word) GROUP BY doc_id)
SELECT d.doc_id, COALESCE(per.n_words, 0) AS n_words,
       COALESCE(per.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def docs_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup (operators/dedup_text.py::
    incremental_exact_dedup): the daily-batch shape — new documents
    (doc_id % 10 = 0 simulates the arriving batch) are admitted only
    if first-in-batch by fingerprint AND absent from the existing
    corpus index. One batch-sized window + one anti-join; the corpus
    is never rescanned."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        incremental_exact_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_exact_dedup(batch, index)


INCREMENTAL_DEDUP_SQL = """
WITH batch AS (
  SELECT doc_id, md5(lower(text)) AS fingerprint
  FROM documents WHERE doc_id % 10 = 0),
idx AS (
  SELECT DISTINCT md5(lower(text)) AS fingerprint
  FROM documents WHERE doc_id % 10 <> 0),
firsts AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM batch)
SELECT doc_id, fingerprint FROM firsts f
WHERE rn = 1 AND NOT EXISTS (
  SELECT 1 FROM idx i WHERE i.fingerprint = f.fingerprint)
"""


def docs_budget_selection(spark, sf_dir):
    """Token-budget corpus selection (operators/corpus.py::
    budget_select): rank documents by uniqueness score and keep the
    maximal best-first prefix under a 20k-token budget. The global
    cumulative token count runs as the scale-safe two-level prefix
    sum (score-quantized buckets), which the oracle's one-level
    global window cumsum certifies — the same contract as
    docs_pack_sequences. Score = distinct-token ratio, an exact
    int/int division identical on both engines."""
    from universal_importer_duckdb_spark.operators.corpus import budget_select

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("uniq_ratio"),
        F.size(toks).cast("bigint").alias("n_tok"),
    )
    return budget_select(
        scored, score_col="uniq_ratio", tokens_col="n_tok",
        token_budget=20_000,
    )


BUDGET_SELECT_SQL = """
WITH s AS (
  SELECT doc_id,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS score,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, score, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM s)
SELECT doc_id, score, n_tokens, tokens_before,
       tokens_before + n_tokens <= 20000 AS selected
FROM c
"""


def orders_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube
    specialize): per-(priority, status) counts and revenue plus the
    per-priority and grand-total sets in ONE aggregation pass —
    Catalyst expands the sets before the shuffle, so map-side partials
    still apply. grouping() flags disambiguate real NULLs from
    subtotal rows; money sums use the exact-decimal recipe."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(f"""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 2)
                    AS DOUBLE) AS revenue
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
    """)


GROUPING_SETS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE)
         AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), ())
"""


def orders_compaction_plan(spark, sf_dir):
    """Compaction planning — the operational answer to the small-files
    problem at 100 TB: monthly partition sizes (row counts x an
    estimated row width) greedily packed into ~4 MB compaction groups
    via a cumulative-bytes DIV. The cumulative sum runs on the
    PARTITION-level frame (hundreds of rows however big the table),
    so its single-partition window is free; the only table-sized work
    is one hash-agg with map-side partials."""
    orders = _t(spark, sf_dir, "orders")
    sizes = (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .cast("string")
            .alias("month")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn("est_bytes", F.col("n_rows") * 128)
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, -1
    )
    target = 4 * 1024 * 1024
    return sizes.select(
        "month",
        "n_rows",
        "est_bytes",
        F.coalesce(F.sum("est_bytes").over(w), F.lit(0)).alias(
            "bytes_before"
        ),
    ).withColumn(
        "compaction_group",
        F.expr(f"bytes_before DIV {target}").cast("bigint"),
    )


COMPACTION_PLAN_SQL = """
WITH s AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR)
           AS month,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) * 128 AS est_bytes
  FROM orders GROUP BY 1)
SELECT month, n_rows, est_bytes,
       CAST(COALESCE(SUM(est_bytes) OVER (
         ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS BIGINT) AS bytes_before,
       CAST(COALESCE(SUM(est_bytes) OVER (
         ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) // 4194304 AS BIGINT) AS compaction_group
FROM s
"""


def lineitem_content_checksum(spark, sf_dir):
    """Order-independent table content checksum — the anti-entropy
    primitive for verifying a 100 TB migration or replica without
    moving the data: every row canonicalizes to one string, hashes
    through md5 to a 60-bit integer, and the table reduces to
    (row_count, xor of hashes, sum of low bits, min, max) — all
    commutative aggregates with map-side partials, ONE scan, one tiny
    shuffle. XOR catches content drift, the modular sum catches
    duplicate-row cancellation XOR alone would miss. The canonical
    form (explicit casts, fixed separator) and the hex-to-int
    conversion are chosen to be byte-identical cross-engine — this
    query IS the cross-engine verification."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        estimated_splits,
        spread_for_compute,
    )

    # Pre-spread ONLY when the scan arrives as a single split (the
    # small testdata parquet): one split pins the md5-per-row pass to
    # one scan task, and a round-robin repartition distributes it
    # (the aggregates are commutative, so placement is free). With
    # MULTIPLE natural splits the raw-row exchange costs more than
    # the extra cores buy — measured at x16 (r13 decomposition):
    # spread 1.90 s vs no-spread 1.07 s, because the hash map is
    # ~110 ns/row while the exchange serializes every row — and at
    # 100 TB the scan arrives in thousands of byte-ranged splits, so
    # the production path never exchanges at all.
    li = _t(spark, sf_dir, "lineitem")
    if estimated_splits(li) <= 1:
        li = spread_for_compute(li)
    # NULLs canonicalize to a sentinel BEFORE joining: concat_ws would
    # silently skip them (shifting positions) and DuckDB's || would
    # null the whole row string — explicit coalesce keeps the byte
    # stream identical on both engines
    def _c(col):
        return F.coalesce(col.cast("string"), F.lit("␀"))

    canon = F.concat_ws(
        "|",
        _c(F.col("l_orderkey")),
        _c(F.col("l_partkey")),
        _c(F.col("l_suppkey")),
        _c(F.col("l_linenumber")),
        _c(F.col("l_quantity").cast("decimal(15,2)")),
        _c(F.col("l_extendedprice").cast("decimal(15,2)")),
        _c(F.col("l_returnflag")),
        _c(F.col("l_linestatus")),
        _c(F.col("l_shipdate")),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    return li.select(h.alias("__h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("CAST(bit_xor(__h) AS BIGINT)").alias("xor_hash"),
        F.sum(F.col("__h") % F.lit(1_000_000_007)).cast("bigint").alias(
            "sum_hash_mod"
        ),
        F.min("__h").alias("min_hash"),
        F.max("__h").alias("max_hash"),
    )


CONTENT_CHECKSUM_SQL = """
WITH h AS (
  SELECT ('0x' || substr(md5(
           COALESCE(CAST(l_orderkey AS VARCHAR), '␀') || '|' ||
           COALESCE(CAST(l_partkey AS VARCHAR), '␀') || '|' ||
           COALESCE(CAST(l_suppkey AS VARCHAR), '␀') || '|' ||
           COALESCE(CAST(l_linenumber AS VARCHAR), '␀') || '|' ||
           COALESCE(CAST(CAST(l_quantity AS DECIMAL(15,2)) AS VARCHAR),
                    '␀') || '|' ||
           COALESCE(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR),
                    '␀') || '|' ||
           COALESCE(l_returnflag, '␀') || '|' ||
           COALESCE(l_linestatus, '␀') || '|' ||
           COALESCE(CAST(l_shipdate AS VARCHAR), '␀')), 1, 15))::BIGINT
           AS v
  FROM lineitem)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(v) AS BIGINT) AS xor_hash,
       CAST(SUM(v % 1000000007) AS BIGINT) AS sum_hash_mod,
       MIN(v) AS min_hash, MAX(v) AS max_hash
FROM h
"""


def events_transition_matrix(spark, sf_dir):
    """Markov transition counts over per-user event streams: one
    window (lead over user_id-partitioned, ts-ordered events — a
    single exchange on user_id) + one hash-agg. Tie-broken by
    event_id so the sequence, and therefore every count, is
    deterministic under any partitioning. The product-analytics
    complement of sessionization/funnels."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


TRANSITION_SQL = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
         ) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


def events_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-activity day, counted
    per day-offset since their cohort day — the warehouse staple for
    activation analysis. Two hash-aggs (per-user min day; distinct
    user-days) joined on user_id and rolled up; all integer-day
    arithmetic so counts are exact anywhere."""
    events = _t(spark, sf_dir, "events")
    day = F.expr("CAST(ts AS BIGINT) DIV 86400000000000")
    user_days = events.select(
        "user_id", day.alias("day")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    return (
        user_days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


RETENTION_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
  FROM events),
c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM ud JOIN c ON ud.user_id = c.user_id
GROUP BY 1, 2
"""


REGISTRY.update({
    "lineitem_content_checksum": (
        lineitem_content_checksum, CONTENT_CHECKSUM_SQL,
    ),
    "orders_grouping_sets": (orders_grouping_sets, GROUPING_SETS_SQL),
    "orders_compaction_plan": (orders_compaction_plan, COMPACTION_PLAN_SQL),
    "emb_quantize_int8": (emb_quantize_int8, QUANTIZE_INT8_SQL),
    "emb_hard_negatives": (emb_hard_negatives, EMB_HARD_NEGATIVES_SQL),
    "events_transition_matrix": (events_transition_matrix, TRANSITION_SQL),
    "events_retention_cohorts": (events_retention_cohorts, RETENTION_SQL),
    "docs_incremental_dedup": (docs_incremental_dedup, INCREMENTAL_DEDUP_SQL),
    "docs_budget_selection": (docs_budget_selection, BUDGET_SELECT_SQL),
    "docs_bpe_learn_merges": (
        docs_bpe_learn_merges, _bpe_learn_sql(N_BPE_MERGES),
    ),
    "docs_bpe_token_counts": (
        docs_bpe_token_counts, _bpe_encode_sql(N_BPE_MERGES),
    ),
    "docs_shipped_tokenizer_counts": (
        docs_shipped_tokenizer_counts, _shipped_tokenizer_sql(),
    ),
    "part_fuzzy_matches": (part_fuzzy_matches, FUZZY_MATCH_SQL),
    "events_resample_interpolate": (
        events_resample_interpolate, RESAMPLE_SQL,
    ),
    "events_robust_outliers": (events_robust_outliers, ROBUST_OUTLIERS_SQL),
    "orders_data_profile": (orders_data_profile, ORDERS_PROFILE_SQL),
    "events_changelog_state": (events_changelog_state, CHANGELOG_STATE_SQL),
    "events_merge_upsert_state": (events_merge_upsert_state, MERGE_UPSERT_SQL),
    "events_scd2_history": (events_scd2_history, SCD2_SQL),
    # the streaming upsert converges to the same state as the batch
    # merge — they share the full-log-state oracle
    "stream_incremental_upsert_state": (
        stream_incremental_upsert_state, MERGE_UPSERT_SQL,
    ),
    "docs_priority_sample": (docs_priority_sample, PRIORITY_SAMPLE_SQL),
    "docs_keyword_search_topk": (docs_keyword_search_topk, KEYWORD_SEARCH_SQL),
    "docs_hybrid_search_rrf": (docs_hybrid_search_rrf, HYBRID_RRF_SQL),
    "docs_tokens_udtf": (docs_tokens_udtf, TOKENS_UDTF_SQL),
    "orders_zorder_codes": (orders_zorder_codes, _zorder_sql()),
    "orders_quantile_envelope": (
        orders_quantile_envelope, QUANTILE_ENVELOPE_SQL,
    ),
})


# ======================================================================
# Round 6: line-level dedup, Bloom-prefiltered ingest, containment
# dedup, funnel analytics, curriculum staging
# ======================================================================


def docs_segment_line_dedup(spark, sf_dir):
    """Falcon/RefinedWeb-style line-level dedup (operators/
    line_dedup.py::line_level_dedup): remove every line occurring in
    >= 2 distinct documents, keep each doc with surviving lines
    re-joined in order. The test corpus is single-line, so the
    pluggable splitter fabricates fixed 10-word segments — the same
    explode -> count -> broadcast-anti-join -> ordered-reassembly
    algebra a newline corpus would run."""
    from universal_importer_duckdb_spark.operators.line_dedup import (
        line_level_dedup,
        word_segments,
    )

    # no spread_for_compute: the two line-dedup exchanges already
    # fan the corpus out; a third pre-shuffle measured slower
    docs = _t(spark, sf_dir, "documents")
    return line_level_dedup(
        docs,
        min_dup_docs=2,
        splitter=lambda c: word_segments(c, 10),
        joiner=" ",
    )


SEGMENT_LINE_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS l
  FROM documents),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(l[(i*10+1):(i*10+10)], ' ') AS line
  FROM t, unnest(range(CAST(ceil(len(l)/10.0) AS BIGINT))) AS u(i)),
nz AS (SELECT * FROM segs WHERE line <> ''),
dup AS (SELECT line FROM nz
        GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
counted AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM nz GROUP BY doc_id),
kept AS (SELECT nz.* FROM nz
         WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.line = nz.line)),
re AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              string_agg(line, ' ' ORDER BY pos) AS clean_text
       FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(c.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(c.n_lines, 0) - COALESCE(re.n_kept, 0) AS BIGINT)
         AS n_removed,
       COALESCE(re.clean_text, '') AS clean_text
FROM documents d
LEFT JOIN counted c USING (doc_id)
LEFT JOIN re USING (doc_id)
"""


def docs_bloom_incremental_dedup(spark, sf_dir):
    """Bloom-prefiltered incremental ingest dedup (operators/
    bloom.py::bloom_incremental_dedup): same admit-contract as
    docs_incremental_dedup (first-in-batch AND absent from index;
    reference main.py:214's exclusionary semantics) but the index
    membership test goes through a broadcast Bloom bitmap built from
    DataFrame primitives — definite-new keys skip the exact anti-join
    entirely, so shuffled volume scales with the duplicate rate, not
    the batch. Bit-identical to the plain anti-join by construction
    (no false negatives + exact verify of maybes)."""
    from universal_importer_duckdb_spark.operators.bloom import (
        bloom_incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    index = docs.filter(F.col("doc_id") % 7 != 0)
    return bloom_incremental_dedup(batch, index)


BLOOM_INCREMENTAL_DEDUP_SQL = """
WITH batch AS (
  SELECT doc_id, md5(lower(text)) AS fingerprint
  FROM documents WHERE doc_id % 7 = 0),
idx AS (
  SELECT DISTINCT md5(lower(text)) AS fingerprint
  FROM documents WHERE doc_id % 7 <> 0),
firsts AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM batch)
SELECT doc_id, fingerprint FROM firsts f
WHERE rn = 1 AND NOT EXISTS (
  SELECT 1 FROM idx i WHERE i.fingerprint = f.fingerprint)
"""


def docs_containment_pairs(spark, sf_dir):
    """Substring-containment dedup (operators/containment.py::
    containment_dedup_pairs): (contained, container) doc pairs where
    one text occurs verbatim inside another — the truncated-recrawl /
    syndication duplicate class that whole-text hashing misses.
    Candidates come from rare-interior-5-gram blocking (lossless for
    containees with >= 7 tokens); the oracle certifies against the
    exact quadratic join."""
    from universal_importer_duckdb_spark.operators.containment import (
        containment_dedup_pairs,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return containment_dedup_pairs(docs)


CONTAINMENT_PAIRS_SQL = """
WITH d AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS l,
         len(string_split(text, ' ')) AS ntok
  FROM documents)
SELECT DISTINCT a.doc_id AS contained_id, b.doc_id AS container_id
FROM d a JOIN d b ON a.doc_id <> b.doc_id
WHERE a.ntok >= 7 AND position(a.text IN b.text) > 0
  AND (a.l < b.l OR (a.l = b.l AND a.doc_id > b.doc_id))
"""


def events_funnel_cohorts(spark, sf_dir):
    """Ordered view->click->purchase funnel by first-view cohort day
    (operators/funnel.py::funnel_by_cohort): one shuffle, stage chain
    resolved with array higher-order functions on per-user event
    lists; all arithmetic in exact epoch-microsecond BIGINTs."""
    from universal_importer_duckdb_spark.operators.funnel import (
        funnel_by_cohort,
    )

    events = _t(spark, sf_dir, "events")
    return funnel_by_cohort(events)


FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.us >= s1.t1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us >= s2.t2
       GROUP BY e.user_id),
u AS (SELECT s1.user_id, s1.t1, s2.t2, s3.t3
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
SELECT t1 // 86400000000 AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_stage1,
       CAST(COUNT(t2) AS BIGINT) AS n_stage2,
       CAST(COUNT(t3) AS BIGINT) AS n_stage3,
       CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) AS total_conversion_micros
FROM u GROUP BY 1
"""


def events_top_journeys(spark, sf_dir):
    """Path analysis: the top-20 session journeys (ordered event-type
    sequences within 30-min-gap sessions). Session ids come from a
    running sum over the per-user (ts, event_id) order — event_id
    tiebreaks make the sequence deterministic (rows with null
    event_id are excluded, matching the streaming entries' contract).

    Two shuffles — the minimum for this computation (co-locate users,
    then count journeys) — and the (user_id, sid) session aggregation
    reuses the window's exchange (HashPartitioning(user_id) satisfies
    the agg's clustering). Both exchanges get size-derived partition
    counts (~64 MB per partition, floor 8): planner-time right-sizing
    instead of shuffling 32 ways and letting AQE coalesce. Residual
    gap vs the DuckDB oracle at sf0.1 is AQE's per-stage job
    scheduling (~0.1 s/stage, constant in data size — measured 0.39 s
    AQE-off vs 0.48 s AQE-on on identical plans); at cluster scale the
    same plan is exchange-minimal.

    r7 perf rewrite of the r6 4.1x weak item."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    nparts = _size_parts(ev, floor=8)
    ev = ev.repartition(nparts, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.col("ts") - F.lag("ts").over(w)) > F.lit(_NS_SESSION_GAP)),
        1,
    ).otherwise(0)
    sess = ev.withColumn("sid", F.sum(starts).over(w))
    journeys = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("journey")
    )
    return (
        journeys.groupBy("journey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "journey")
        .limit(20)
    )


def _top_journeys_sql() -> str:
    return f"""
WITH x AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
         lag(epoch_ns(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_id IS NOT NULL),
s AS (
  SELECT *, SUM(CASE WHEN prev IS NULL OR tns - prev > {_NS_SESSION_GAP}
                THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY tns, event_id) AS sid
  FROM x),
j AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY tns, event_id) AS journey
  FROM s GROUP BY user_id, sid)
SELECT journey, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM j GROUP BY journey ORDER BY n_sessions DESC, journey LIMIT 20
"""


def emb_pq_codes(spark, sf_dir):
    """Product-quantization storage codes (operators/pq.py): 8
    subspaces x 16 centroids trained with the deterministic
    scaled-integer Lloyd's (operators/int_kmeans.py) on a bounded
    hash-ordered sample, every vector encoded to 8 codes + exact
    integer squared reconstruction distance in one Arrow-batched
    pass. r8: the former rows-only exemption is retired — the oracle
    replays the training/encode pipeline exactly; codes are emitted
    '-'-joined (the raw array<int> was the r7 driver-canonicalizer
    red). Reconstruction budget and ADC recall stay pinned in
    tests/test_round6_ops.py."""
    from universal_importer_duckdb_spark.operators.pq import (
        pq_encode,
        train_pq_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_pq_codebook(emb, m=8, k=16)
    return pq_encode(emb, cb).select(
        "vec_id",
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes"),
        "recon_d2",
    )


def docs_contamination_spans(spark, sf_dir):
    """Span-level decontamination (operators/corpus.py::
    contamination_spans): the exact merged token intervals sharing an
    8-gram with the benchmark (every-97th-doc stand-in, as in
    docs_benchmark_contamination) — surgical excision instead of
    whole-document drops. Gaps-and-islands interval merge per doc;
    only contaminated windows shuffle. All-integer output, hash-exact
    oracle."""
    from universal_importer_duckdb_spark.operators.corpus import (
        contamination_spans,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    # benchmark side stays UN-spread: the %97 filter then pushes into
    # the parquet scan, and the tiny subset skips the repartition
    # exchange entirely (r8 stage-count trim)
    bench = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    return contamination_spans(docs, bench, n=8)


CONTAMINATION_SPANS_SQL = """
WITH g AS (
  SELECT doc_id, toks, len(toks) AS nt
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents)),
pos AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(array_to_string(
            list_slice(toks, i, i + 7), ' ')), 1, 7))::BIGINT AS gram
  FROM g, unnest(range(1, nt - 6)) AS u(i)
  WHERE nt >= 8),
bg AS (SELECT DISTINCT gram FROM pos WHERE doc_id % 97 = 0),
hits AS (SELECT p.doc_id, p.i AS s, p.i + 7 AS e
         FROM pos p JOIN bg USING (gram)),
isl AS (
  SELECT *, CASE WHEN s > COALESCE(MAX(e) OVER (
      PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS nw
  FROM hits),
isl2 AS (
  SELECT *, SUM(nw) OVER (
      PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl)
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl2 GROUP BY doc_id, island
"""


def multimodal_audio_energy(spark, sf_dir):
    """Windowed audio energy over REAL WAV decode (operators/
    multimodal.py::extract_audio_energy_windows): per-item synthesized
    varying PCM16 signal (sample j = ((id*31 + j*17) % 200) - 100),
    decoded and folded into 32-sample windows of EXACT int64
    sum-of-squares — the VAD/silence-screen shape, analytically
    replayed by the oracle from the same sample formula."""
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        encode_wav_pcm16,
        extract_audio_energy_windows,
    )

    @F.pandas_udf("binary")
    def synth_wav(ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in ids:
            i = int(doc_id)
            n = 64 + i % 128
            samples = [((i * 31 + j * 17) % 200) - 100 for j in range(n)]
            out.append(encode_wav_pcm16(8000, 1, samples))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_column(
        docs.withColumn("payload", synth_wav("doc_id")),
        "payload", "audio/wav", "doc_id",
    )
    return extract_audio_energy_windows(media, window_samples=32)


MULTIMODAL_AUDIO_ENERGY_SQL = """
WITH d AS (
  SELECT doc_id, 64 + doc_id % 128 AS n
  FROM documents WHERE doc_id < 200),
s AS (
  SELECT doc_id, j, ((doc_id * 31 + j * 17) % 200) - 100 AS v
  FROM d, unnest(range(CAST(n AS BIGINT))) AS u(j)),
w AS (SELECT doc_id, j // 32 AS window_idx, v FROM s)
SELECT doc_id AS item_id, CAST(window_idx AS BIGINT) AS window_idx,
       CAST(COUNT(*) AS BIGINT) AS n_in_window,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM w GROUP BY doc_id, window_idx
"""


def multimodal_image_tiles(spark, sf_dir):
    """ViT-style image patchification over REAL PNG decode (operators/
    multimodal.py::extract_image_tiles): synthesized Up-filtered PNGs
    with per-pixel varying values (v = (id*7 + r*13 + x*3) % 256),
    decoded and cut into 8x8 tiles of EXACT integer luma sums — the
    patch-embedding precursor, analytically replayed by the oracle
    from the same pixel formula (any unfilter/tiling drift breaks the
    hash)."""
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        encode_png_gray,
        extract_image_tiles,
    )

    @F.pandas_udf("binary")
    def synth_png(ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in ids:
            i = int(doc_id)
            w = 8 + i % 32
            h = 8 + (i // 32) % 32
            rows = [
                [(i * 7 + r * 13 + x * 3) % 256 for x in range(w)]
                for r in range(h)
            ]
            out.append(encode_png_gray(w, h, rows))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_column(
        docs.withColumn("payload", synth_png("doc_id")),
        "payload", "image/png", "doc_id",
    )
    return extract_image_tiles(media, tile=8)


MULTIMODAL_IMAGE_TILES_SQL = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 32 AS w, 8 + (doc_id // 32) % 32 AS h
  FROM documents WHERE doc_id < 200),
px AS (
  SELECT doc_id, r, x,
         (doc_id * 7 + r * 13 + x * 3) % 256 AS v
  FROM d,
       unnest(range(CAST(h AS BIGINT))) AS ur(r),
       unnest(range(CAST(w AS BIGINT))) AS ux(x))
SELECT doc_id AS item_id,
       CAST(r // 8 AS INTEGER) AS tile_y,
       CAST(x // 8 AS INTEGER) AS tile_x,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS luma_sum
FROM px GROUP BY doc_id, r // 8, x // 8
"""


def docs_decontaminated_text(spark, sf_dir):
    """Surgical decontamination applied (operators/corpus.py::
    excise_spans over contamination_spans): tokens inside merged
    contaminated spans dropped, the rest rejoined — the corpus a
    span-level policy actually ships, with documents doc-level
    screening would discard kept. (Spans index the lowered token
    stream; excision filters the original tokens — counts align
    because lowering never changes token boundaries.) Uncontaminated
    docs pass through untouched with no re-tokenization."""
    from universal_importer_duckdb_spark.operators.corpus import (
        contamination_spans,
        excise_spans,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    # benchmark side UN-spread (filter pushdown, no repartition) and
    # the excise rebuild runs on the raw scan — a narrow map that
    # inherits the input's own partitioning (r8 stage-count trim)
    raw = _t(spark, sf_dir, "documents")
    bench = raw.filter(F.col("doc_id") % 97 == 0)
    return excise_spans(raw, contamination_spans(docs, bench, n=8))


DECONTAMINATED_TEXT_SQL = f"""
WITH spansq AS ({CONTAMINATION_SPANS_SQL}),
agg AS (
  SELECT doc_id,
         list(span_start ORDER BY span_start) AS ss,
         list(span_end ORDER BY span_start) AS ee,
         CAST(SUM(span_end - span_start + 1) AS BIGINT) AS nrem
  FROM spansq GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.nrem, 0) AS n_tokens_removed,
       CASE WHEN a.doc_id IS NULL THEN d.text
            -- COALESCE: DuckDB's array_to_string([]) is NULL where
            -- Spark's array_join([]) is '' (fully-excised docs)
            ELSE COALESCE(array_to_string(
              list_filter(string_split(d.text, ' '),
                (x, i) -> len(list_filter(a.ss,
                    (s, k) -> s <= i AND i <= a.ee[k])) = 0), ' '), '')
       END AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def docs_top_collocations(spark, sf_dir):
    """PMI-ranked collocations (operators/textrank.py::
    top_collocations): adjacent bigrams scored c_xy*U/(c_x*c_y) —
    PMI up to a corpus constant, ranking-exact from pure integer
    inputs (the double ratio is computed from identical ints on both
    engines). min_count=5 sifts noise; top 20."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.textrank import (
        top_collocations,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return top_collocations(docs, top_k=20, min_count=5)


TOP_COLLOCATIONS_SQL = """
WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
adj AS (
  SELECT l[i] AS a, l[i+1] AS b
  FROM t, unnest(range(1, len(l))) AS u(i)),
bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_xy
       FROM adj GROUP BY a, b),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(l) AS w FROM t) WHERE w <> '' GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS u FROM uni)
SELECT bi.a, bi.b, bi.c_xy,
       (bi.c_xy * tot.u) / (ua.c * ub.c) AS pmi_ratio
FROM bi
JOIN uni ua ON ua.w = bi.a
JOIN uni ub ON ub.w = bi.b, tot
WHERE bi.c_xy >= 5
ORDER BY pmi_ratio DESC, bi.a, bi.b LIMIT 20
"""


def emb_pq_adc_topk(spark, sf_dir):
    """PQ serving path with an in-query quality audit (operators/
    pq.py::pq_adc_topk): top-10 by integer asymmetric distance
    against the vec_id=0 query, each hit flagged ``in_exact_topk`` by
    an in-plan join against the TRUE L2 top-10 computed from the raw
    vectors with order-defined folds — the same self-audit pattern as
    emb_ivf_topk. r8: integer-k-means training makes the whole path
    oracle-replayable; the rows-only gate is retired."""
    from universal_importer_duckdb_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebook,
    )
    from universal_importer_duckdb_spark.operators.similarity import (
        _dot_double,
        _norm2_double,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_pq_codebook(emb, m=8, k=16)
    q = _query_vec(spark, sf_dir)
    adc = pq_adc_topk(pq_encode(emb, cb), cb, q, topk=10)

    qlit = F.array(*[F.lit(float(x)) for x in q])
    vd = F.col("embedding").cast("array<double>")
    l2 = (
        _norm2_double(vd)
        - 2 * _dot_double(vd, qlit)
        + _norm2_double(qlit)
    )
    exact = (
        emb.select("vec_id", l2.alias("l2"))
        .orderBy("l2", "vec_id")
        .limit(10)
        .select(F.col("vec_id"), F.lit(True).alias("in_exact_topk"))
    )
    return (
        adc.join(F.broadcast(exact), "vec_id", "left")
        .select(
            "vec_id",
            "adc_d2",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("adc_d2", "vec_id")
    )


def orders_expectation_suite(spark, sf_dir):
    """Suite-level data-quality gate (operators/expectations.py::
    run_expectations): seven dataset-level checks — row-count window,
    null-rate bound, key uniqueness, extremum bounds, value domain,
    and referential integrity — evaluated in ONE aggregation pass
    (plus one anti-join for the FK check). Observations are exact
    integer numerator/denominator pairs, so the report hash-checks
    cross-engine."""
    from universal_importer_duckdb_spark.operators.expectations import (
        Expectation,
        orphan_count,
        run_expectations,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    suite = run_expectations(
        orders,
        [
            Expectation("row_count", "row_count_between",
                        lo=1, hi=10**12),
            Expectation("priority_null_rate", "null_fraction_at_most",
                        column="o_orderpriority", num=1, den=10),
            Expectation("orderkey_unique", "unique", column="o_orderkey"),
            Expectation("custkey_min", "min_at_least",
                        column="o_custkey", lo=0),
            Expectation("custkey_max", "max_at_most",
                        column="o_custkey", hi=10**9),
            Expectation("status_domain", "values_in",
                        column="o_orderstatus", values=("F", "O", "P")),
        ],
    )
    fk = orphan_count(orders, customer, "o_custkey", "c_custkey")
    return suite.unionByName(fk)


EXPECTATION_SUITE_SQL = """
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END)
              AS BIGINT) AS e_null,
         CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
              AS BIGINT) AS e_uni,
         CAST(MIN(o_custkey) AS BIGINT) AS e_min,
         CAST(MAX(o_custkey) AS BIGINT) AS e_max,
         CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 END) AS BIGINT) AS e_dom
  FROM orders),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS o FROM orders
  WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = orders.o_custkey))
SELECT 'row_count' AS check_name, n BETWEEN 1 AND 1000000000000 AS passed,
       n AS observed_num, CAST(1 AS BIGINT) AS observed_den FROM a
UNION ALL
SELECT 'priority_null_rate', e_null * 10 <= 1 * n, e_null, n FROM a
UNION ALL
SELECT 'orderkey_unique', e_uni = 0, e_uni, CAST(1 AS BIGINT) FROM a
UNION ALL
SELECT 'custkey_min', e_min >= 0, e_min, CAST(1 AS BIGINT) FROM a
UNION ALL
SELECT 'custkey_max', e_max <= 1000000000, e_max, CAST(1 AS BIGINT) FROM a
UNION ALL
SELECT 'status_domain', e_dom = 0, e_dom, CAST(1 AS BIGINT) FROM a
UNION ALL
SELECT 'fk_o_custkey_in_c_custkey', o = 0, o, CAST(1 AS BIGINT) FROM fk
"""


def emb_knn_join(spark, sf_dir):
    """Exact cosine k-NN self-join, top-3 per vector (operators/
    similarity.py::knn_join_exact): Arrow-batched numpy GEMM generates
    candidates within a 1e-9 margin of the k-th double cosine, the
    order-defined double folds re-score survivors — bit-equal to the
    brute-force oracle. The bounded-broadcast contract (reference
    matrix collected once) is the honest boundary of exact n^2 kNN;
    emb_ann_lsh_topk / emb_ivf_topk are the corpus-scale paths."""
    from universal_importer_duckdb_spark.operators.similarity import (
        knn_join_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join_exact(emb, k=3)


# Order-defined double folds (list_reduce == Spark's F.aggregate left
# fold) instead of the DECIMAL(33,13) idiom: the double->DECIMAL
# cast's round-half mode differs between engines on boundary values,
# which surfaces once EVERY vector's norm is touched (see
# similarity.knn_join_exact docstring).
EMB_KNN_JOIN_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT vec_id,
             list_reduce(list_apply(e, x -> x * x),
                         (a, x) -> a + x) AS n2
      FROM v),
c AS (SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
             list_reduce(
               list_apply(list_zip(a.e, b.e), s -> s[1] * s[2]),
               (acc, x) -> acc + x)
               / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id),
r AS (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rank FROM c)
SELECT q_id AS vec_id, cand_id AS neighbor_id,
       CAST(rank AS INTEGER) AS rank, cosine
FROM r WHERE rank <= 3
"""


def stream_funnel_cohorts(spark, sf_dir):
    """Streaming ordered funnel (streaming/funnel.py): per-user stage
    chains maintained in applyInPandasWithState across micro-batches
    — state keeps the stage-relevant timestamp lists, so the drained
    result is bit-equal to the batch funnel no matter how availableNow
    splits the source. Oracle = the batch funnel SQL under the
    stream's event_id-not-null guard."""
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.funnel import (
        finalize_funnel_cohorts,
        streaming_funnel_stages,
    )

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    drained = se.run_available_now(
        streaming_funnel_stages(stream),
        f"q_stream_funnel_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return finalize_funnel_cohorts(drained)


STREAM_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
  WHERE event_id IS NOT NULL
    AND event_type IN ('view', 'click', 'purchase')),
s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.us >= s1.t1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us >= s2.t2
       GROUP BY e.user_id),
u AS (SELECT s1.user_id, s1.t1, s2.t2, s3.t3
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
SELECT t1 // 86400000000 AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_stage1,
       CAST(COUNT(t2) AS BIGINT) AS n_stage2,
       CAST(COUNT(t3) AS BIGINT) AS n_stage3,
       CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) AS total_conversion_micros
FROM u GROUP BY 1
"""


def docs_curriculum_stages(spark, sf_dir):
    """Curriculum-learning stage assignment (operators/corpus.py::
    curriculum_stages): NTILE(4) over an exact integer difficulty
    score (distinct-token count) with id tiebreak — deterministic,
    ANSI-NTILE-portable ordering of the training corpus."""
    from universal_importer_duckdb_spark.operators.corpus import (
        curriculum_stages,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("score"),
    )
    return curriculum_stages(scored, "score", n_stages=4)


CURRICULUM_SQL = """
WITH s AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS score
  FROM documents)
SELECT doc_id, score,
       CAST(ntile(4) OVER (ORDER BY score, doc_id) AS INTEGER) AS stage
FROM s
"""


def docs_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (operators/textrank.py::
    textrank_keywords): 5 scaled-integer PageRank iterations over the
    adjacent-word co-occurrence graph; corpus touched once for graph
    construction, iteration runs on the Heaps-law-small vocab graph.
    The oracle replays the identical integer floor-division recursion
    unrolled as CTEs — bit-exact, no float drift."""
    from universal_importer_duckdb_spark.operators.textrank import (
        textrank_keywords,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return textrank_keywords(docs, iterations=5, top_k=50)


def orders_snapshot_drift(spark, sf_dir):
    """Snapshot drift report: compare two table snapshots (halves of
    orders by key parity standing in for yesterday/today) per
    o_orderstatus — row counts, exact DECIMAL revenue sums (emitted as
    DOUBLE via the round-then-cast idiom, module docstring), distinct
    customers, and their deltas. The data-ops check run before
    promoting a new ingest; one union + one groupBy."""
    orders = _t(spark, sf_dir, "orders")
    tagged = orders.select(
        "o_orderstatus",
        _dec("o_totalprice").alias("price_dec"),
        "o_custkey",
        (F.col("o_orderkey") % 2 == 0).alias("is_a"),
    )
    sum_a = F.sum(F.when(F.col("is_a"), F.col("price_dec")))
    sum_b = F.sum(F.when(~F.col("is_a"), F.col("price_dec")))
    return (
        tagged.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.round(sum_a, 2).cast("double").alias("rev_a"),
            F.round(sum_b, 2).cast("double").alias("rev_b"),
            # delta from the EXACT decimal sums, not the doubles:
            # the decimal difference is exact, then one round/cast.
            F.round(sum_b - sum_a, 2).cast("double").alias("rev_delta"),
            F.countDistinct(F.when(F.col("is_a"), F.col("o_custkey")))
            .cast("bigint")
            .alias("cust_a"),
            F.countDistinct(F.when(~F.col("is_a"), F.col("o_custkey")))
            .cast("bigint")
            .alias("cust_b"),
        )
        .select(
            "o_orderstatus",
            "n_a",
            "n_b",
            (F.col("n_b") - F.col("n_a")).cast("bigint").alias("n_delta"),
            "rev_a",
            "rev_b",
            "rev_delta",
            "cust_a",
            "cust_b",
        )
    )


SNAPSHOT_DRIFT_SQL = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_a,
       CAST(SUM(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_b,
       CAST(SUM(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
            - SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_delta,
       CAST(round(SUM(CASE WHEN o_orderkey % 2 = 0
                      THEN o_totalprice::DECIMAL(15,2) END), 2)
            AS DOUBLE) AS rev_a,
       CAST(round(SUM(CASE WHEN o_orderkey % 2 <> 0
                      THEN o_totalprice::DECIMAL(15,2) END), 2)
            AS DOUBLE) AS rev_b,
       CAST(round(SUM(CASE WHEN o_orderkey % 2 <> 0
                      THEN o_totalprice::DECIMAL(15,2) END)
            - SUM(CASE WHEN o_orderkey % 2 = 0
                  THEN o_totalprice::DECIMAL(15,2) END), 2)
            AS DOUBLE) AS rev_delta,
       CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END)
            AS BIGINT) AS cust_a,
       CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 <> 0 THEN o_custkey END)
            AS BIGINT) AS cust_b
FROM orders GROUP BY o_orderstatus
"""


def docs_source_token_divergence(spark, sf_dir):
    """Per-source vocabulary divergence: which tokens are most over/
    under-represented in each source vs the whole corpus. Score is
    the exact integer cross-multiplication |c_sw * T - c_w * T_s|
    (equivalent in ordering to |p_source - p_corpus| without any
    float division); top 5 per source. The mixture-debugging view a
    corpus pipeline runs after docs_source_mixture changes."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    sw = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_sw")
    )
    wtot = toks.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_w")
    )
    stot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("t_s")
    )
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    scored = (
        sw.join(F.broadcast(wtot), "word")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "word",
            F.abs(
                F.col("c_sw") * F.col("t") - F.col("c_w") * F.col("t_s")
            )
            .cast("bigint")
            .alias("divergence"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("divergence"), "word"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "word", "divergence", F.col("rnk").cast("int").alias("rnk"))
    )


SOURCE_TOKEN_DIVERGENCE_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
nz AS (SELECT * FROM toks WHERE word <> ''),
sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c_sw
       FROM nz GROUP BY source, word),
wtot AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c_w FROM nz GROUP BY word),
stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t_s
         FROM nz GROUP BY source),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM nz),
scored AS (
  SELECT sw.source, sw.word,
         CAST(abs(sw.c_sw * tt.t - wtot.c_w * stot.t_s) AS BIGINT)
           AS divergence
  FROM sw JOIN wtot USING (word) JOIN stot USING (source), tt),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY divergence DESC, word) AS rnk
  FROM scored)
SELECT source, word, divergence, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 5
"""


def docs_temperature_mixture(spark, sf_dir):
    """Temperature-2 source rebalancing (operators/corpus.py::
    temperature_resample): deterministic md5-threshold downsampling so
    kept counts scale like sqrt(n_s) — the standard LLM-mixture
    flattening. sqrt is IEEE-correctly-rounded, so the per-document
    keep decision replays bit-exactly in the oracle. Zero corpus
    shuffles (per-source thresholds broadcast back)."""
    from universal_importer_duckdb_spark.operators.corpus import (
        temperature_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_resample(docs, "source", "doc_id", 2, 10).select(
        "doc_id", "source"
    )


TEMPERATURE_MIXTURE_SQL = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
  FROM documents GROUP BY source),
t AS (
  SELECT source, n_s,
         10 * CAST(floor(sqrt(n_s)) AS BIGINT) AS thr
  FROM c)
SELECT d.doc_id, d.source
FROM documents d JOIN t USING (source)
WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
       % t.n_s) < t.thr
"""


def events_user_narratives(spark, sf_dir):
    """Structured-log -> LM-training-text serialization (operators/
    narrative.py::user_event_narratives): each user's events rendered
    deterministically (epoch micros, type, integer cents) and joined
    in (ts, event_id) order — one shuffle, bounded per-user lists."""
    from universal_importer_duckdb_spark.operators.narrative import (
        user_event_narratives,
    )

    events = _t(spark, sf_dir, "events")
    return user_event_narratives(events)


USER_NARRATIVES_SQL = """
WITH r AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         't=' || CAST(epoch_us(ts) AS VARCHAR) || ' ' || event_type ||
         ' v=' || COALESCE(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS VARCHAR), 'null')
           AS line
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       string_agg(line, ' | ' ORDER BY us, event_id) AS narrative
FROM r GROUP BY user_id
"""


def docs_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by source: chars per token under the
    SHIPPED tokenizer (the compression-quality check run before
    committing to a tokenizer for a new data mixture). Ratio emitted
    as exact integer milli-chars-per-token — (1000*chars) div tokens
    — so no float division crosses the engine boundary.

    r8 plan fix (r7 perf item): the old shape ran the merge replay on
    the full corpus frequency table and then joined per-doc counts
    back to the corpus TWICE on doc_id. Fertility is a per-source
    aggregate, so no per-doc frame is needed at all: the word stream
    carries ``source`` (one map-side-combinable (source, word)
    count), the merge replay runs once on the distinct-word
    vocabulary (bpe.vocab_symbol_counts), and one vocab-sized join +
    a tiny per-source aggregate finish the job. Same integer totals,
    zero corpus-row joins."""
    from universal_importer_duckdb_spark.operators.bpe import (
        load_merges_file,
        vocab_symbol_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = load_merges_file(_SHIPPED_MERGES_PATH)
    sw = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tok = vocab_symbol_counts(sw.select("word").distinct(), merges)
    tokens = (
        sw.join(tok, "word")
        .groupBy("source")
        .agg(
            F.sum(F.col("cnt") * F.col("n_syms"))
            .cast("bigint")
            .alias("total_tokens")
        )
    )
    chars = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("total_chars")
    )
    return (
        chars.join(tokens, "source", "left")
        .select(
            "source",
            "total_chars",
            F.coalesce("total_tokens", F.lit(0))
            .cast("bigint")
            .alias("total_tokens"),
        )
        .select(
            "source",
            "total_chars",
            "total_tokens",
            F.expr(
                "CASE WHEN total_tokens = 0 THEN NULL"
                " ELSE (1000 * total_chars) div total_tokens END"
            ).alias("fert_milli"),
        )
    )


def _tokenizer_fertility_sql() -> str:
    inner = _shipped_tokenizer_sql()
    return f"""
SELECT d.source,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(base.n_bpe_tokens) AS BIGINT) AS total_tokens,
       CASE WHEN SUM(base.n_bpe_tokens) = 0 THEN NULL
            ELSE CAST((1000 * SUM(d.n_chars)) // SUM(base.n_bpe_tokens)
                      AS BIGINT) END AS fert_milli
FROM ({inner}) base JOIN documents d USING (doc_id)
GROUP BY d.source
"""


def _textrank_oracle():
    from universal_importer_duckdb_spark.operators.textrank import (
        textrank_sql,
    )

    return textrank_sql(iterations=5, top_k=50)


def _pq_codes_oracle():
    from universal_importer_duckdb_spark.operators.pq import pq_codes_sql

    return pq_codes_sql(m=8, k=16, dim=64)


def _pq_adc_oracle():
    from universal_importer_duckdb_spark.operators.pq import pq_adc_sql

    return pq_adc_sql(m=8, k=16, dim=64, sql_dot=_SQL_DOT, sql_n2=_SQL_N2)


REGISTRY.update({
    "docs_segment_line_dedup": (
        docs_segment_line_dedup, SEGMENT_LINE_DEDUP_SQL,
    ),
    "docs_bloom_incremental_dedup": (
        docs_bloom_incremental_dedup, BLOOM_INCREMENTAL_DEDUP_SQL,
    ),
    "docs_containment_pairs": (docs_containment_pairs, CONTAINMENT_PAIRS_SQL),
    "events_funnel_cohorts": (events_funnel_cohorts, FUNNEL_SQL),
    "docs_curriculum_stages": (docs_curriculum_stages, CURRICULUM_SQL),
    "docs_textrank_keywords": (docs_textrank_keywords, _textrank_oracle()),
    "orders_snapshot_drift": (orders_snapshot_drift, SNAPSHOT_DRIFT_SQL),
    "docs_source_token_divergence": (
        docs_source_token_divergence, SOURCE_TOKEN_DIVERGENCE_SQL,
    ),
    "docs_temperature_mixture": (
        docs_temperature_mixture, TEMPERATURE_MIXTURE_SQL,
    ),
    "events_user_narratives": (events_user_narratives, USER_NARRATIVES_SQL),
    "docs_tokenizer_fertility": (
        docs_tokenizer_fertility, _tokenizer_fertility_sql(),
    ),
    "stream_funnel_cohorts": (stream_funnel_cohorts, STREAM_FUNNEL_SQL),
    "emb_knn_join": (emb_knn_join, EMB_KNN_JOIN_SQL),
    "orders_expectation_suite": (
        orders_expectation_suite, EXPECTATION_SUITE_SQL,
    ),
    # r8: integer-k-means training is SQL-replayable — full oracles
    # (operators/pq.py builders); the rows-only class is retired
    "emb_pq_codes": (emb_pq_codes, _pq_codes_oracle()),
    "emb_pq_adc_topk": (emb_pq_adc_topk, _pq_adc_oracle()),
    "events_top_journeys": (events_top_journeys, _top_journeys_sql()),
    "docs_top_collocations": (
        docs_top_collocations, TOP_COLLOCATIONS_SQL,
    ),
    "docs_contamination_spans": (
        docs_contamination_spans, CONTAMINATION_SPANS_SQL,
    ),
    "docs_decontaminated_text": (
        docs_decontaminated_text, DECONTAMINATED_TEXT_SQL,
    ),
    "multimodal_audio_energy": (
        multimodal_audio_energy, MULTIMODAL_AUDIO_ENERGY_SQL,
    ),
    "multimodal_image_tiles": (
        multimodal_image_tiles, MULTIMODAL_IMAGE_TILES_SQL,
    ),
})


# ======================================================================
# Round 7: intra-document dedup, split-leakage audit, DSIR selection
# ======================================================================

def docs_intradoc_segment_dedup(spark, sf_dir):
    """Within-document repeated-segment removal (operators/
    line_dedup.py::intradoc_segment_dedup): first occurrence of each
    10-word segment survives, later repeats are excised. A pure
    narrow map (array_distinct + filter + array_join) — zero shuffles
    at any corpus size; the cheapest dedup pass in the pipeline and
    normally fused into the scan stage. The entry spreads the
    single-row-group test parquet across cores first (no-op on wide
    inputs), the same idiom as the shingle/hash pipelines."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.line_dedup import (
        intradoc_segment_dedup,
        word_segments,
    )

    return intradoc_segment_dedup(
        spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id"),
        splitter=lambda c: word_segments(c, 10),
    )


INTRADOC_SEGMENT_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS l
  FROM documents),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(l[(i*10+1):(i*10+10)], ' ') AS line
  FROM t, unnest(range(CAST(ceil(len(l)/10.0) AS BIGINT))) AS u(i)),
nz AS (SELECT * FROM segs WHERE line <> ''),
firsts AS (SELECT doc_id, line, MIN(pos) AS pos
           FROM nz GROUP BY doc_id, line),
re AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              string_agg(line, ' ' ORDER BY pos) AS clean_text
       FROM firsts GROUP BY doc_id),
counted AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM nz GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(c.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(c.n_lines, 0) - COALESCE(re.n_kept, 0) AS BIGINT)
         AS n_removed,
       COALESCE(re.clean_text, '') AS clean_text
FROM documents d
LEFT JOIN counted c USING (doc_id)
LEFT JOIN re USING (doc_id)
"""


def docs_split_leakage_audit(spark, sf_dir):
    """Train/eval leakage audit (operators/corpus.py::
    split_leakage_audit): exact-fingerprint groups straddling the
    deterministic hash split, reported per straddle width so the
    3-row aggregate certifies every document's fingerprint and split
    assignment. One corpus shuffle on the fingerprint, no joins."""
    from universal_importer_duckdb_spark.operators.corpus import (
        split_leakage_audit,
    )

    return split_leakage_audit(_t(spark, sf_dir, "documents"))


_SLA_B1 = int((1 << 28) * 0.98)
_SLA_B2 = int((1 << 28) * 0.99)

SPLIT_LEAKAGE_SQL = f"""
WITH tagged AS (
  SELECT md5(lower(COALESCE(text, ''))) AS fingerprint,
         CASE WHEN hv < {_SLA_B1} THEN 'train'
              WHEN hv < {_SLA_B2} THEN 'val' ELSE 'test' END AS split
  FROM (SELECT text,
               ('0x'||substr(md5('split-v1:'||doc_id), 1, 7))::BIGINT AS hv
        FROM documents)),
groups AS (
  SELECT fingerprint, COUNT(DISTINCT split) AS n_splits,
         COUNT(*) AS n_docs
  FROM tagged GROUP BY fingerprint)
SELECT CAST(n_splits AS BIGINT) AS n_splits,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs
FROM groups GROUP BY n_splits ORDER BY n_splits
"""


def docs_dsir_importance(spark, sf_dir):
    """DSIR-style data selection (operators/dsir.py): top-20 documents
    by scaled-integer importance of their hashed-unigram distribution
    against the src0 target subset. r8 shape: the per-word
    distribution counts are a vocab-bounded checkpointed artifact,
    the contribution table broadcasts under a measured row-count
    gate, and the score pass is one explode + broadcast join + hash
    aggregate — exact BIGINT scoring, reproducible ranking on both
    engines. Spreads the single-row-group test parquet across cores
    first (no-op on wide inputs)."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.dsir import (
        dsir_importance,
    )

    return dsir_importance(
        spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id"),
        is_target=F.col("source") == "src0",
    )


DSIR_IMPORTANCE_SQL = """
WITH toks AS (
  SELECT doc_id, t,
         ('0x'||substr(md5('dsir-v1:'||w), 1, 7))::BIGINT % 16384 AS b
  FROM (SELECT doc_id, (source = 'src0') AS t,
               unnest(list_filter(
                 string_split(lower(COALESCE(text, '')), ' '),
                 x -> x <> '')) AS w
        FROM documents)),
per_doc AS (
  SELECT doc_id, b, COUNT(*) AS cnt, bool_or(t) AS t
  FROM toks GROUP BY doc_id, b),
stats AS (
  SELECT b, SUM(cnt) AS c_raw,
         SUM(CASE WHEN t THEN cnt ELSE 0 END) AS c_t
  FROM per_doc GROUP BY b),
scored AS (
  SELECT doc_id, SUM(cnt) AS n_words,
         SUM(cnt * (((c_t + 1) * 1000000) // (c_raw + 1))) AS s
  FROM per_doc JOIN stats USING (b)
  GROUP BY doc_id)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(s // n_words AS BIGINT) AS score
FROM scored
ORDER BY score DESC, doc_id
LIMIT 20
"""


def docs_cluster_canonical(spark, sf_dir):
    """Quality-aware canonical selection per near-dup cluster
    (operators/dedup_text.py::cluster_canonical): resolve MinHash-LSH
    pairs into connected components, then keep the LONGEST member
    (min id on ties) instead of the arbitrary min-id one — the "most
    complete copy" dedup policy. One aggregation past the cluster
    labels; the oracle replays the recursive-CTE closure and the
    integer argmax."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        cluster_canonical,
        minhash_lsh_pairs,
        neardup_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_perm=32, bands=8, shingle_n=5,
                              jaccard_threshold=0.4, sample_mod=4)
    clusters = neardup_clusters(pairs, docs.select("doc_id"))
    return cluster_canonical(clusters, docs)


CLUSTER_CANONICAL_SQL = f"""
WITH RECURSIVE
p AS (SELECT id_a, id_b FROM ({MINHASH_LSH_SQL}) mh),
e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.d FROM reach r JOIN e ON e.s = r.m
),
labels AS (SELECT n AS doc_id, MIN(m) AS cluster_id
           FROM reach GROUP BY n),
j AS (SELECT l.cluster_id, l.doc_id, d.n_chars
      FROM labels l JOIN documents d USING (doc_id)),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
  FROM j),
agg AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
               SUM(n_chars) AS total_chars
        FROM j GROUP BY cluster_id)
SELECT a.cluster_id, a.n_members,
       r.doc_id AS canonical_doc_id,
       CAST(r.n_chars AS BIGINT) AS canonical_n_chars,
       CAST(a.total_chars - r.n_chars AS BIGINT) AS n_chars_dropped
FROM agg a JOIN ranked r ON r.cluster_id = a.cluster_id AND r.rn = 1
"""


def stream_split_leakage(spark, sf_dir):
    """Streaming twin of docs_split_leakage_audit (streaming/docs.py):
    per-fingerprint split sets maintained by a streaming aggregation
    in update mode — each micro-batch shuffles only its own arrivals
    against the state store, so continuous corpus ingest gets the
    leakage audit incrementally instead of a per-batch rescan. The
    drained state folds to the identical stratum table no matter how
    availableNow splits the source (multi-batch convergence pinned in
    tests/test_round7_ops.py), so the batch oracle applies."""
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.docs import (
        finalize_fingerprint_splits,
        stream_documents,
        streaming_fingerprint_splits,
    )

    _STREAM_COUNTER[0] += 1
    stream = stream_documents(spark, sf_dir)
    drained = se.run_available_now(
        streaming_fingerprint_splits(stream),
        f"q_stream_leakage_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return finalize_fingerprint_splits(drained)


def docs_dsir_resample(spark, sf_dir):
    """The resampling half of DSIR (operators/dsir.py::dsir_resample):
    keep each document with probability score/SCALE via the
    deterministic md5-threshold idiom, reported per source — the
    selection that actually builds the target-shaped corpus from the
    importance scores. All-integer keep decisions; the oracle replays
    the scoring and every threshold compare. Spreads the
    single-row-group test parquet across cores first (no-op on wide
    inputs)."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.dsir import (
        dsir_resample,
    )

    return dsir_resample(
        spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id"),
        is_target=F.col("source") == "src0",
    )


DSIR_RESAMPLE_SQL = """
WITH toks AS (
  SELECT doc_id, t,
         ('0x'||substr(md5('dsir-v1:'||w), 1, 7))::BIGINT % 16384 AS b
  FROM (SELECT doc_id, (source = 'src0') AS t,
               unnest(list_filter(
                 string_split(lower(COALESCE(text, '')), ' '),
                 x -> x <> '')) AS w
        FROM documents)),
per_doc AS (
  SELECT doc_id, b, COUNT(*) AS cnt, bool_or(t) AS t
  FROM toks GROUP BY doc_id, b),
stats AS (
  SELECT b, SUM(cnt) AS c_raw,
         SUM(CASE WHEN t THEN cnt ELSE 0 END) AS c_t
  FROM per_doc GROUP BY b),
scored AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
         CAST(SUM(cnt * (((c_t + 1) * 1000000) // (c_raw + 1)))
              // SUM(cnt) AS BIGINT) AS score
  FROM per_doc JOIN stats USING (b)
  GROUP BY doc_id),
sel AS (
  SELECT d.source, COALESCE(s.n_words, 0) AS n_words,
         (('0x'||substr(md5('dsir-keep-v1:'||d.doc_id), 1, 7))::BIGINT
            * 1000000) < (COALESCE(s.score, 0) * 268435456) AS keep
  FROM documents d LEFT JOIN scored s USING (doc_id))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM sel GROUP BY source ORDER BY source
"""


def docs_shipped_quality(spark, sf_dir):
    """Model-based quality gate under the SHIPPED linear weight file
    (operators/quality_model.py, data/shipped_quality_weights.tsv) —
    the fasttext-style first-tier web filter, arriving as an external
    artifact like the shipped tokenizer. Scoring folds the weight
    table into the plan as a literal map: a pure narrow map, zero
    shuffles, exact integer milli-logits on both engines. The entry
    spreads the single-row-group test parquet across cores first
    (no-op on wide inputs)."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.quality_model import (
        load_quality_weights,
        quality_model_scores,
    )

    return quality_model_scores(
        spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id"),
        load_quality_weights(),
    )


def _shipped_quality_sql() -> str:
    from universal_importer_duckdb_spark.operators.quality_model import (
        load_quality_weights,
    )

    # single quotes doubled (r7 advice): the loader rejects quoted
    # tokens outright, but the SQL builder must not depend on that
    rows = ", ".join(
        "('{}', {})".format(tok.replace("'", "''"), wt)
        for tok, wt in sorted(load_quality_weights().items())
    )
    return f"""
WITH w(tok, wt) AS (VALUES {rows}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(lower(COALESCE(text, '')), ' '),
           x -> x <> '')) AS tok
  FROM documents),
counted AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COALESCE(SUM(w.wt), 0) AS BIGINT) AS raw_milli
  FROM toks t LEFT JOIN w USING (tok) GROUP BY t.doc_id),
scored AS (
  SELECT d.doc_id,
         CAST(COALESCE(c.n_words, 0) AS BIGINT) AS n_words,
         CAST(COALESCE(c.raw_milli, 0) AS BIGINT) AS raw_milli,
         CASE WHEN COALESCE(c.n_words, 0) > 0
              THEN CAST(c.raw_milli // c.n_words AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS logit_milli
  FROM documents d LEFT JOIN counted c USING (doc_id))
SELECT doc_id, n_words, raw_milli, logit_milli,
       logit_milli >= 0 AS is_quality
FROM scored
"""


def docs_dedup_cascade(spark, sf_dir):
    """The full dedup funnel in one pipeline — the order a production
    corpus actually runs it: (1) intra-document segment dedup (narrow
    map), (2) cross-document line-level dedup over the cleaned text,
    (3) exact-fingerprint doc dedup (min id kept) over the result.
    Output is the per-stage accounting table
    ``(stage, n_docs, total_chars)`` (stage 0 = raw input) — the char
    totals are sensitive to every transformed byte at every stage, so
    the 4-row aggregate certifies the whole cascade end to end.

    Scale shape: stage 1 fuses into the scan; stage 2 is the
    line-dedup algebra (shuffle volume ~ duplicate rate); stage 3 is
    one map-side-combinable fingerprint aggregation. Stages share one
    scoped cache of the intermediate text, so the corpus is read
    once."""
    from universal_importer_duckdb_spark.caching import scoped_cache
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.line_dedup import (
        intradoc_segment_dedup,
        line_level_dedup,
        word_segments,
    )

    split = lambda c: word_segments(c, 10)  # noqa: E731
    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")

    def stage_stats(df, text_col, stage):
        return df.select(
            F.lit(stage).cast("bigint").alias("stage"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__len"),
        ).groupBy("stage").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__len").cast("bigint").alias("total_chars"),
        )

    s1 = scoped_cache(
        intradoc_segment_dedup(docs, splitter=split)
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    s2 = scoped_cache(
        line_level_dedup(s1, min_dup_docs=2, splitter=split)
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    # stage 3: exact dedup on the fully line-cleaned text, min id kept
    s3 = (
        s2.groupBy(F.md5(F.lower(F.col("text"))).alias("__fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
    )
    return (
        stage_stats(docs, "text", 0)
        .unionByName(stage_stats(s1, "text", 1))
        .unionByName(stage_stats(s2, "text", 2))
        .unionByName(stage_stats(s3, "text", 3))
        .orderBy("stage")
    )


def _seg_dedup_block(src: str, text_col: str, out: str) -> str:
    """SQL block: cross-doc 10-word-segment line dedup of
    ``src(doc_id, text_col)`` into ``out(doc_id, text)``."""
    return f"""
{out}_t AS (
  SELECT doc_id, string_split(COALESCE({text_col}, ''), ' ') AS l
  FROM {src}),
{out}_segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(l[(i*10+1):(i*10+10)], ' ') AS line
  FROM {out}_t, unnest(range(CAST(ceil(len(l)/10.0) AS BIGINT))) AS u(i)),
{out}_nz AS (SELECT * FROM {out}_segs WHERE line <> ''),
{out}_dup AS (SELECT line FROM {out}_nz
              GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
{out}_kept AS (SELECT nz.* FROM {out}_nz nz
               WHERE NOT EXISTS (SELECT 1 FROM {out}_dup d
                                 WHERE d.line = nz.line)),
{out}_re AS (SELECT doc_id,
                    string_agg(line, ' ' ORDER BY pos) AS clean_text
             FROM {out}_kept GROUP BY doc_id),
{out} AS (SELECT s.doc_id, COALESCE(r.clean_text, '') AS text
          FROM {src} s LEFT JOIN {out}_re r USING (doc_id))"""


DEDUP_CASCADE_SQL = f"""
WITH
s0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
-- stage 1: intra-doc first-occurrence segment dedup
i_t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM s0),
i_segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(l[(i*10+1):(i*10+10)], ' ') AS line
  FROM i_t, unnest(range(CAST(ceil(len(l)/10.0) AS BIGINT))) AS u(i)),
i_nz AS (SELECT * FROM i_segs WHERE line <> ''),
i_first AS (SELECT doc_id, line, MIN(pos) AS pos
            FROM i_nz GROUP BY doc_id, line),
i_re AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text
         FROM i_first GROUP BY doc_id),
s1 AS (SELECT s0.doc_id, COALESCE(i_re.clean_text, '') AS text
       FROM s0 LEFT JOIN i_re USING (doc_id)),
-- stage 2: cross-doc line-level dedup over the cleaned text
{_seg_dedup_block('s1', 'text', 's2')},
-- stage 3: exact-fingerprint doc dedup, min id kept
s3 AS (
  SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM s2 GROUP BY md5(lower(text)))
SELECT CAST(0 AS BIGINT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM s0
UNION ALL
SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(length(text)) AS BIGINT) FROM s1
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(length(text)) AS BIGINT) FROM s2
UNION ALL
SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(length(text)) AS BIGINT) FROM s3
ORDER BY stage
"""


def stream_shipped_quality(spark, sf_dir):
    """Streaming twin of docs_shipped_quality (streaming/docs.py::
    streaming_quality_scores): the shipped linear quality model scored
    at ingest — a stateless narrow map, so the drained append-mode
    output is row-identical to the batch entry however availableNow
    splits the source, and the batch oracle applies directly. The
    production placement of a first-tier quality filter: score (and
    gate) documents as they arrive."""
    from universal_importer_duckdb_spark.operators.quality_model import (
        load_quality_weights,
    )
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.docs import (
        stream_documents,
        streaming_quality_scores,
    )

    _STREAM_COUNTER[0] += 1
    stream = stream_documents(spark, sf_dir)
    return se.run_available_now(
        streaming_quality_scores(stream, load_quality_weights()),
        f"q_stream_quality_{_STREAM_COUNTER[0]}",
        output_mode="append",
    )


REGISTRY.update({
    "stream_shipped_quality": (
        stream_shipped_quality, _shipped_quality_sql(),
    ),
    "docs_shipped_quality": (
        docs_shipped_quality, _shipped_quality_sql(),
    ),
    "docs_dedup_cascade": (
        docs_dedup_cascade, DEDUP_CASCADE_SQL,
    ),
    "docs_intradoc_segment_dedup": (
        docs_intradoc_segment_dedup, INTRADOC_SEGMENT_DEDUP_SQL,
    ),
    "docs_split_leakage_audit": (
        docs_split_leakage_audit, SPLIT_LEAKAGE_SQL,
    ),
    "docs_dsir_importance": (
        docs_dsir_importance, DSIR_IMPORTANCE_SQL,
    ),
    "docs_cluster_canonical": (
        docs_cluster_canonical, CLUSTER_CANONICAL_SQL,
    ),
    "stream_split_leakage": (
        stream_split_leakage, SPLIT_LEAKAGE_SQL,
    ),
    "docs_dsir_resample": (
        docs_dsir_resample, DSIR_RESAMPLE_SQL,
    ),
})


# ======================================================================
# Round 8: corpus k-means clustering, DSIR-at-ingest
# ======================================================================

def emb_kmeans_clusters(spark, sf_dir):
    """Corpus-wide k-means cluster assignment (operators/similarity.py
    ::kmeans_clusters): the primitive under SemDeDup-style semantic
    pruning, per-cluster mixture balancing, and IVF list ingest.
    Deterministic scaled-integer training (operators/int_kmeans.py) +
    one Arrow-batched integer argmin pass over every vector; output
    ``(vec_id, cluster, d2)`` is all-integer, so the ENTIRE
    assignment — not a summary — is hash-checked against the SQL
    replay of the same training."""
    from universal_importer_duckdb_spark.operators.similarity import (
        kmeans_clusters,
    )

    return kmeans_clusters(_t(spark, sf_dir, "embeddings"), n_clusters=16)


def _kmeans_clusters_oracle():
    from universal_importer_duckdb_spark.operators.similarity import (
        kmeans_clusters_sql,
    )

    return kmeans_clusters_sql(n_clusters=16, dim=64)


DSIR_SCORES_SQL = """
WITH toks AS (
  SELECT doc_id, t,
         ('0x'||substr(md5('dsir-v1:'||w), 1, 7))::BIGINT % 16384 AS b
  FROM (SELECT doc_id, (source = 'src0') AS t,
               unnest(list_filter(
                 string_split(lower(COALESCE(text, '')), ' '),
                 x -> x <> '')) AS w
        FROM documents)),
per_doc AS (
  SELECT doc_id, b, COUNT(*) AS cnt
  FROM toks GROUP BY doc_id, b),
stats AS (
  SELECT b, COUNT(*) AS c_raw,
         SUM(CASE WHEN t THEN 1 ELSE 0 END) AS c_t
  FROM toks GROUP BY b)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * (((c_t + 1) * 1000000) // (c_raw + 1)))
            // SUM(cnt) AS BIGINT) AS score
FROM per_doc JOIN stats USING (b)
GROUP BY doc_id
"""


def stream_dsir_scores(spark, sf_dir):
    """DSIR importance at INGEST (streaming/docs.py::
    streaming_dsir_scores): the per-word contribution artifact is
    built once from the batch corpus (operators/dsir.py::
    dsir_contribution_artifact — the held-distribution deployment),
    then arriving documents are scored by a stateless explode +
    stream-static join + per-doc aggregation in update mode. Each
    document is one source row, so its state is final on first
    emission and the drained output equals the batch scores however
    availableNow splits the source — the batch oracle applies. The
    defensive max-fold collapses any re-emission to the final state,
    the same idiom as stream_split_leakage."""
    from universal_importer_duckdb_spark.operators.dsir import (
        dsir_contribution_artifact,
    )
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.docs import (
        stream_documents,
        streaming_dsir_scores,
    )

    artifact = dsir_contribution_artifact(
        _t(spark, sf_dir, "documents"),
        is_target=F.col("source") == "src0",
    )
    _STREAM_COUNTER[0] += 1
    stream = stream_documents(spark, sf_dir)
    drained = se.run_available_now(
        streaming_dsir_scores(stream, artifact),
        f"q_stream_dsir_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return drained.groupBy("doc_id").agg(
        F.max("n_words").cast("bigint").alias("n_words"),
        F.max("score").cast("bigint").alias("score"),
    )


def docs_fuzzy_benchmark_contamination(spark, sf_dir):
    """FUZZY benchmark decontamination: MinHash-LSH near-duplicate
    matches between the corpus and the benchmark set (every-97th-doc
    stand-in, as in docs_benchmark_contamination) — catches
    paraphrased/partially-edited benchmark leakage that the exact
    8-gram screens miss. Reuses the portable MinHash pipeline
    verbatim (shingle→md5-28→sample→32 perms→8 bands→σ-presift→exact
    Jaccard) and keeps only cross-set pairs, so the corpus-side doc
    of each pair is the contamination verdict. At scale this is the
    same banded bucket join as self-dedup — the benchmark side is
    tiny, so its bucket entries broadcast-join against the corpus
    bands under AQE."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_perm=32, bands=8, shingle_n=5,
                              jaccard_threshold=0.4, sample_mod=4)
    is_bench_a = F.col("id_a") % 97 == 0
    is_bench_b = F.col("id_b") % 97 == 0
    return (
        pairs.filter(is_bench_a != is_bench_b)
        .select(
            F.when(is_bench_a, F.col("id_b")).otherwise(F.col("id_a"))
            .alias("doc_id"),
            F.when(is_bench_a, F.col("id_a")).otherwise(F.col("id_b"))
            .alias("bench_doc_id"),
            "jaccard",
        )
    )


def _fuzzy_contamination_sql() -> str:
    return f"""
SELECT CASE WHEN id_a % 97 = 0 THEN id_b ELSE id_a END AS doc_id,
       CASE WHEN id_a % 97 = 0 THEN id_a ELSE id_b END AS bench_doc_id,
       jaccard
FROM ({MINHASH_LSH_SQL}) p
WHERE (id_a % 97 = 0) <> (id_b % 97 = 0)
"""


def docs_corpus_card(spark, sf_dir):
    """The per-source DATASET CARD in one aggregation pass: document
    and char/word volume, predicted-English count (the stopword-marker
    heuristic of docs_language_id — counted here over the SAME
    lowered token array as the quality fold, so the whole card reads
    the tokens exactly once; the case-insensitive variant is the
    card's documented definition), shipped-quality-model pass count
    (the literal-map fold of docs_shipped_quality), and the
    exact-duplicate surplus (docs minus distinct fingerprints).

    The r8 shape was 3.7x its oracle; decomposition showed the cost
    was STAGES, not CPU (each exchange ~0.1 s scheduling floor at
    bench scale, per-row folds ~0.1 s total). Now: (1) ALL per-row
    signals (word count, weight fold, both marker counts, md5
    fingerprint) come from ONE Arrow kernel pass
    (quality_model.corpus_card_signals_kernel, r14 — the r13
    bound-expression form still paid four interpreted HOF passes;
    value-identical, pinned by tests/test_round14_ops.py);
    (2) dup surplus via a
    (source, fp) pre-aggregation whose map-side combine collapses
    duplicate fingerprints before the rollup — no countDistinct
    expand, and the second shuffle is |distinct fp| rows; (3) no
    input repartition — the fold cost is below the shuffle it paid
    for (wide real inputs parallelize by file splits anyway); (4) the
    n_sources-row result is ordered by coalesce(1) +
    sortWithinPartitions instead of a range-exchange orderBy, which
    would add a sampling job + shuffle for a handful of rows. At
    100 TB both remaining shuffles are map-side-combinable and keyed
    no wider than (source, md5). All-integer output, hash-exact
    oracle."""
    from universal_importer_duckdb_spark.operators.quality_model import (
        corpus_card_signals_kernel,
        load_quality_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    weights = load_quality_weights()

    # r14: the four token signals + the md5 fingerprint run in ONE
    # Arrow kernel (corpus_card_signals_kernel — the gram-kernel
    # precedent; the r13 bound-expression form still paid four
    # interpreted HOF passes over the token stream). Value-identical
    # (kernel==expression pinned in tests/test_round14_ops.py);
    # measured 2.84 -> 1.74 s median on the full x64 entry.
    per_row = corpus_card_signals_kernel(
        docs, weights, _EN_MARKERS, _NON_EN_MARKERS
    ).select(
        "source",
        "n_chars",
        "__nw",
        F.struct(
            F.col("__raw").alias("raw"),
            F.col("__en").alias("en"),
            F.col("__non").alias("non"),
        ).alias("__f"),
        "__fp",
    )
    # identical texts share every per-row signal, so summing inside the
    # (source, fp) group then rolling up is exact
    pre = per_row.groupBy("source", "__fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("n_chars").cast("bigint").alias("__chars"),
        F.sum("__nw").cast("bigint").alias("__words"),
        F.sum(
            F.when(F.col("__f.en") > F.col("__f.non"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("__en"),
        F.sum(
            F.when(
                F.expr(
                    "CASE WHEN __nw > 0 THEN __f.raw div __nw "
                    "ELSE CAST(0 AS BIGINT) END"
                )
                >= 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("__q"),
    )
    return (
        pre.groupBy("source")
        .agg(
            F.sum("__n").cast("bigint").alias("n_docs"),
            F.sum("__chars").cast("bigint").alias("total_chars"),
            F.sum("__words").cast("bigint").alias("total_words"),
            F.sum("__en").cast("bigint").alias("n_pred_en"),
            F.sum("__q").cast("bigint").alias("n_quality"),
            (F.sum("__n") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_exact_dup_surplus"),
        )
        .coalesce(1)
        .sortWithinPartitions("source")
    )


def _corpus_card_sql() -> str:
    from universal_importer_duckdb_spark.operators.quality_model import (
        load_quality_weights,
    )

    rows = ", ".join(
        "('{}', {})".format(tok.replace("'", "''"), wt)
        for tok, wt in sorted(load_quality_weights().items())
    )

    # the card counts markers over the lowered token stream (same pass
    # as the quality fold); empty tokens can never equal a marker, so
    # the empty-filter is irrelevant to the count
    def lowered_hits(markers):
        return " + ".join(
            "len(list_filter(string_split(lower(COALESCE(text, '')), ' '),"
            f" w -> w = '{m}'))"
            for m in markers
        )

    en = lowered_hits(_EN_MARKERS)
    non = lowered_hits(_NON_EN_MARKERS)
    return f"""
WITH w(tok, wt) AS (VALUES {rows}),
tk AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(lower(COALESCE(text, '')), ' '),
           x -> x <> '')) AS tok
  FROM documents),
q AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COALESCE(SUM(w.wt), 0) AS BIGINT) AS raw_milli
  FROM tk t LEFT JOIN w USING (tok) GROUP BY t.doc_id),
pd AS (
  SELECT d.source, d.n_chars,
         COALESCE(q.n_words, 0) AS nw,
         CASE WHEN COALESCE(q.n_words, 0) > 0
              THEN q.raw_milli // q.n_words ELSE 0 END AS logit,
         {en} AS en_hits, {non} AS non_hits,
         md5(lower(COALESCE(d.text, ''))) AS fp
  FROM documents d LEFT JOIN q USING (doc_id))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(nw) AS BIGINT) AS total_words,
       CAST(SUM(CASE WHEN en_hits > non_hits THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred_en,
       CAST(SUM(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dup_surplus
FROM pd GROUP BY source ORDER BY source
"""


def docs_shuffle_shards(spark, sf_dir):
    """Deterministic sharded corpus shuffle (operators/corpus.py::
    shuffle_shards): the materialization step that turns a curated
    corpus into training files. Hash-split into 8 shards with
    in-shard hash order — rank assignment parallelizes per shard (no
    global single-task ORDER BY), reading shards in order replays the
    exact global shuffle, and every (shard, pos) is reproducible with
    no RNG state. All-integer output; the oracle replays the hash,
    the shard split, and every rank."""
    from universal_importer_duckdb_spark.operators.corpus import (
        shuffle_shards,
    )

    return shuffle_shards(_t(spark, sf_dir, "documents"), n_shards=8)


SHUFFLE_SHARDS_SQL = """
WITH b AS (
  SELECT doc_id, source, h % 8 AS shard, h // 8 AS hq
  FROM (SELECT doc_id, source,
               ('0x'||substr(md5('shuffle-v1:'||doc_id),1,7))::BIGINT AS h
        FROM documents))
SELECT doc_id, source, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hq, doc_id)
            AS BIGINT) AS pos_in_shard
FROM b
"""


REGISTRY.update({
    "emb_kmeans_clusters": (emb_kmeans_clusters, _kmeans_clusters_oracle()),
    "stream_dsir_scores": (stream_dsir_scores, DSIR_SCORES_SQL),
    "docs_fuzzy_benchmark_contamination": (
        docs_fuzzy_benchmark_contamination, _fuzzy_contamination_sql(),
    ),
    "docs_corpus_card": (docs_corpus_card, _corpus_card_sql()),
    "docs_shuffle_shards": (docs_shuffle_shards, SHUFFLE_SHARDS_SQL),
})


# ======================================================================
# Round 8 (cont.): count-min sketch heavy hitters, batch + streaming
# ======================================================================

def events_heavy_hitters_cms(spark, sf_dir):
    """Heavy-hitter audit via a count-min sketch
    (operators/sketches.py): the sketch class the engine was missing
    next to Bloom/HLL/MinHash — approximate COUNTS over an unbounded
    key domain in depth*width integer cells. The audit reports the
    top-20 users by SKETCH estimate with their exact counts and the
    always->=0 overcount, certifying the one-sided error bound on
    real data. depth=4 x width=64 against 150 distinct keys at sf0.01
    forces visible collisions. One exact groupBy scan; the sketch is
    built from the counts frame by additivity and broadcast back; the
    oracle replays every md5-28 bucket, cell sum, and MIN."""
    from universal_importer_duckdb_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    report = cms_heavy_hitters(ev, "user_id", top_k=20, depth=4, width=64)
    return report.select(
        F.col("k").cast("bigint").alias("user_id"),
        "exact_cnt",
        "cms_est",
        "overcount",
    )


CMS_HEAVY_HITTERS_SQL = """
WITH exact AS (
  SELECT CAST(user_id AS VARCHAR) AS k,
         CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
cells AS (
  SELECT t.j,
         ('0x'||substr(md5('cms-v1:'||t.j||':'||k),1,7))::BIGINT % 64
           AS bucket,
         CAST(SUM(exact_cnt) AS BIGINT) AS cnt
  FROM exact CROSS JOIN range(4) t(j) GROUP BY 1, 2),
probes AS (
  SELECT e.k, t.j,
         ('0x'||substr(md5('cms-v1:'||t.j||':'||e.k),1,7))::BIGINT % 64
           AS bucket
  FROM exact e CROSS JOIN range(4) t(j)),
est AS (
  SELECT p.k, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
  FROM probes p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY p.k)
SELECT CAST(e.k AS BIGINT) AS user_id, e.exact_cnt, s.cms_est,
       CAST(s.cms_est - e.exact_cnt AS BIGINT) AS overcount
FROM exact e JOIN est s USING (k)
-- boundary ties break on the sketch's STRING key k, exactly as the
-- Spark operator does (r8 review: ordering by numeric user_id here
-- was green only because the sf0.01 tie group happens to complete
-- rank 20 — string-vs-numeric order must not be able to diverge)
ORDER BY cms_est DESC, e.k LIMIT 20
"""


def stream_heavy_hitters_cms(spark, sf_dir):
    """Streaming twin of events_heavy_hitters_cms: the SKETCH is the
    streaming state (operators/sketches.py::streaming_cms_sketch) —
    an update-mode aggregation whose state store is capped at
    depth*width rows no matter how long the stream runs or how many
    distinct keys arrive, the entire reason a CMS is deployed where
    an exact streaming count's per-key state grows without bound.
    Cell counts only grow, so the drained emissions max-fold to the
    final sketch (the stream_split_leakage idiom) and equal the batch
    sketch by additivity however availableNow splits the source; the
    report stage (exact counts from the at-rest table + broadcast
    estimate join) is shared with the batch entry, so the batch
    oracle applies."""
    from universal_importer_duckdb_spark.operators.sketches import (
        exact_key_counts,
        finalize_cms_sketch,
        heavy_hitter_report,
        streaming_cms_sketch,
    )
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    drained = se.run_available_now(
        streaming_cms_sketch(stream, "user_id", depth=4, width=64),
        f"q_stream_cms_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    sketch = finalize_cms_sketch(drained)
    exact = exact_key_counts(
        _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()),
        "user_id",
    )
    report = heavy_hitter_report(exact, sketch, top_k=20, depth=4, width=64)
    return report.select(
        F.col("k").cast("bigint").alias("user_id"),
        "exact_cnt",
        "cms_est",
        "overcount",
    )


REGISTRY.update({
    "events_heavy_hitters_cms": (
        events_heavy_hitters_cms, CMS_HEAVY_HITTERS_SQL,
    ),
    "stream_heavy_hitters_cms": (
        stream_heavy_hitters_cms, CMS_HEAVY_HITTERS_SQL,
    ),
})


# ======================================================================
# Round 8 (cont.): SemDeDup semantic pruning
# ======================================================================

def emb_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup, the paper-faithful k-means variant
    (operators/semdedup.py; Abbas et al. 2023): the full per-vector
    verdict table — deterministic integer k-means cluster + exact d2
    + a kept flag from the paper's upper-triangular within-cluster
    pruning (farthest-from-centroid kept first, earlier neighbor
    within eps2 prunes). Complements emb_semdedup_clusters
    (registry/core.py), which reaches the same goal via LSH pair
    generation + connected components; this variant needs no
    transitive closure and its cluster partitioning IS the 100 TB
    parallelism unit. All-integer + boolean output, so the ENTIRE
    verdict set hash-checks against the SQL replay of the same
    training and the correlated NOT EXISTS pruning predicate."""
    from universal_importer_duckdb_spark.operators.semdedup import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), n_clusters=16)


def _semdedup_oracle():
    from universal_importer_duckdb_spark.operators.semdedup import (
        semdedup_sql,
    )

    return semdedup_sql(n_clusters=16, dim=64)


def emb_incremental_semdedup(spark, sf_dir):
    """SemDeDup ADMISSION CONTROL (operators/semdedup.py::
    incremental_semdedup): a deterministic hash class of vectors
    plays "today's ingest" against the SemDeDup'd remainder; an
    arrival is admitted iff no KEPT at-rest member of its assigned
    cluster lies within eps2 exact integer squared L2. Verdicts
    depend only on at-rest state — batch-order-free, which is what
    licenses the streaming twin below to share this entry's oracle.
    Output carries the exact nearest-kept distance (-1 = none), so
    the hash check pins the whole probe geometry, not just the
    boolean.

    The at-rest artifacts (centroids + kept members) are held: the
    centroids train at plan construction, the kept-member frame is
    scoped-cached and built by the first action, and every later
    action pays only assignment + the cluster probe, which is the
    deployed serving shape the docstring above describes (this entry
    is artifact-replay class — its oracle replays the full at-rest
    pass by design)."""
    from universal_importer_duckdb_spark.operators.semdedup import (
        incremental_semdedup,
        ingest_split,
    )

    at_rest, arriving = ingest_split(_t(spark, sf_dir, "embeddings"))
    return incremental_semdedup(at_rest, arriving, n_clusters=16)


def _incremental_semdedup_oracle():
    from universal_importer_duckdb_spark.operators.semdedup import (
        incremental_semdedup_sql,
    )

    return incremental_semdedup_sql(n_clusters=16, dim=64)


def stream_semdedup_ingest(spark, sf_dir):
    """Streaming twin of emb_incremental_semdedup (streaming/
    embeddings.py): the at-rest artifacts (centroid matrix + kept
    members) are computed batch-side as the deployed admission state,
    then arriving vectors flow through a stateless Arrow-batched
    assignment, a stream-static join against their cluster's kept
    members, and an update-mode min aggregation. One source row per
    vec_id means every emission is final, so the drained output
    max-folds to the batch verdicts however availableNow splits the
    source — the batch oracle applies."""
    from universal_importer_duckdb_spark.operators.semdedup import (
        EPS2_DEFAULT,
        at_rest_artifacts,
        ingest_split,
    )
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.embeddings import (
        stream_embeddings,
        streaming_semdedup_ingest,
    )

    at_rest, _ = ingest_split(_t(spark, sf_dir, "embeddings"))
    C, kept_q = at_rest_artifacts(at_rest, n_clusters=16)
    _STREAM_COUNTER[0] += 1
    # ingest_split's filter is stateless, so it defines the arriving
    # class on the STREAM too — one definition, batch and ingest
    _, arriving = ingest_split(stream_embeddings(spark, sf_dir))
    drained = se.run_available_now(
        streaming_semdedup_ingest(arriving, C, kept_q, EPS2_DEFAULT),
        f"q_stream_semdedup_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return drained.groupBy("vec_id", "cluster", "d2").agg(
        F.max("nn_d2").alias("nn_d2"),
        F.max("admitted").alias("admitted"),
    )


def docs_multisignal_admission(spark, sf_dir):
    """The full corpus ADMISSION FUNNEL in one verdict frame
    (operators/admission.py::multisignal_admission): the arriving
    hash class of documents clears the exact-fingerprint gate (batch
    window + at-rest index join), the shipped quality gate
    (literal-map fold, is_quality AND n_words >= 1 per the
    quality_model contract), and the SemDeDup semantic gate (cluster
    probe against kept at-rest embeddings; docs without embeddings
    abstain, flagged by has_embedding). Every gate's raw verdict is
    emitted alongside the conjunction, so the hash check pins all
    three signals independently. The three at-rest artifacts
    (fingerprint index, weight map, centroids + kept members) are
    what a deployed funnel holds between batches; only batch-sized
    frames meet in the final join.

    The semantic gate's at-rest artifacts are held (see
    emb_incremental_semdedup), and the exact + quality gates run as
    one pass over the batch scan (operators/admission.py)."""
    from universal_importer_duckdb_spark.operators.admission import (
        multisignal_admission,
    )
    from universal_importer_duckdb_spark.operators.quality_model import (
        load_quality_weights,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        ingest_split,
    )

    doc_index, doc_batch = ingest_split(
        _t(spark, sf_dir, "documents"), id_col="doc_id"
    )
    emb_at_rest, emb_arriving = ingest_split(
        _t(spark, sf_dir, "embeddings")
    )
    return multisignal_admission(
        doc_batch, doc_index, emb_at_rest, emb_arriving,
        load_quality_weights(), n_clusters=16,
    )


def _multisignal_admission_oracle(intra_batch: bool = True):
    from universal_importer_duckdb_spark.operators.admission import (
        multisignal_admission_sql,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        incremental_semdedup_sql,
    )

    return multisignal_admission_sql(
        _shipped_quality_sql(),
        incremental_semdedup_sql(n_clusters=16, dim=64),
        intra_batch=intra_batch,
    )


def stream_multisignal_admission(spark, sf_dir):
    """The admission funnel at INGEST (streaming/docs.py::
    streaming_multisignal_admission): arriving documents flow through
    the stateless quality fold, a stream-static fingerprint-index
    join, the embedder-sidecar join, the null-safe cluster
    assignment, and one update-mode min aggregation against the kept
    at-rest members. Deployed state = the same three at-rest
    artifacts the batch entry holds. Own oracle (intra_batch=False):
    the exact gate checks the index only — intra-batch ties are the
    compactor's, per the operator docstring. One source row per doc
    means every emission is final; the drained output max-folds to
    the oracle frame however availableNow splits the source."""
    from universal_importer_duckdb_spark.operators.admission import (
        corpus_fingerprint,
    )
    from universal_importer_duckdb_spark.operators.quality_model import (
        load_quality_weights,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        EPS2_DEFAULT,
        at_rest_artifacts,
        ingest_split,
    )
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.docs import (
        stream_documents,
        streaming_multisignal_admission,
    )

    doc_index, _ = ingest_split(
        _t(spark, sf_dir, "documents"), id_col="doc_id"
    )
    emb_at_rest, emb_arriving = ingest_split(
        _t(spark, sf_dir, "embeddings")
    )
    C, kept_q = at_rest_artifacts(emb_at_rest, n_clusters=16)
    fp_index = (
        doc_index.select(corpus_fingerprint().alias("fingerprint"))
        .distinct()
        .withColumn("__in_idx", F.lit(True))
    )
    _STREAM_COUNTER[0] += 1
    # ingest_split's filter is stateless, so it defines the arriving
    # class on the STREAM too — one definition, batch and ingest
    _, arriving = ingest_split(
        stream_documents(spark, sf_dir), id_col="doc_id"
    )
    drained = se.run_available_now(
        streaming_multisignal_admission(
            # the embedder sidecar only ever embeds ARRIVING docs, and
            # an arriving doc_id can only match an arriving-class
            # vec_id (same salt, same id) — joining the arriving split
            # prunes 7/8 of the static side with identical results
            arriving, emb_arriving, fp_index,
            C, kept_q, load_quality_weights(), EPS2_DEFAULT,
        ),
        f"q_stream_admission_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return drained.groupBy(
        "doc_id", "exact_dup", "n_words", "is_quality", "has_embedding"
    ).agg(
        F.max("nn_d2").alias("nn_d2"),
        F.max("sem_dup").alias("sem_dup"),
        F.max("admitted").alias("admitted"),
    )


def docs_cluster_aware_split(spark, sf_dir):
    """Leakage-free train/val/test assignment — the REMEDIATION for
    what docs_split_leakage_audit detects: near-duplicate documents
    straddling splits leak eval content into training. Resolve
    MinHash-LSH pairs into connected components (the
    docs_neardup_clusters machinery), then hash-split on the CLUSTER
    id, so every member of a near-dup family inherits one split and
    straddling is impossible by construction. Per-row output
    ``(doc_id, cluster_id, split)`` — the hash check pins the pair
    list, the closure, and every inherited assignment.

    Scale shape: the split itself is a narrow map over the cluster
    frame (no new shuffle beyond the closure that dedup already
    runs); singleton clusters (cluster_id = doc_id) degrade to the
    plain stable hash split, so the operator is a drop-in replacement
    for hash_split wherever near-dup clustering already exists."""
    from universal_importer_duckdb_spark.operators.corpus import hash_split

    clusters = portable_neardup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    return hash_split(
        clusters, id_col="cluster_id", salt="cluster-split-v1"
    ).select("doc_id", "cluster_id", "split")


# the closure rides as a nested subquery of the ONE canonical
# NEARDUP_CLUSTERS_SQL (r8 self-review: no more verbatim copies of
# the recursive CTE — a closure/LSH-param change edits one constant)
CLUSTER_AWARE_SPLIT_SQL = f"""
WITH c AS (SELECT doc_id, cluster_id FROM ({NEARDUP_CLUSTERS_SQL}) nc)
SELECT doc_id, cluster_id,
       CASE WHEN hv < {_SPLIT_B1} THEN 'train'
            WHEN hv < {_SPLIT_B2} THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             ('0x'||substr(md5('cluster-split-v1:'||cluster_id), 1, 7))
               ::BIGINT AS hv
      FROM c)
"""


def docs_softdedup_weights(spark, sf_dir):
    """SOFT dedup: instead of dropping near-duplicates, weight every
    document by the reciprocal of its near-dup family size
    (weight_milli = 10^6 div |cluster|), so each family contributes
    one document's worth of loss in expectation — the
    data-reweighting alternative to hard removal when duplicates
    carry signal (freshness, canonical phrasing). Composes the same
    MinHash-LSH closure as docs_neardup_clusters; singletons keep
    exactly 10^6. All-integer milli-weights, so the full per-doc
    frame is hash-exact against the recursive-CTE replay.

    Scale shape: one count aggregate over the cluster frame plus a
    join back on cluster_id — both keyed by the closure's output, no
    new corpus scan; the dedup pipeline already paid for the pairs
    and the closure."""
    clusters = portable_neardup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return clusters.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.expr("CAST(1000000 div cluster_size AS BIGINT)").alias(
            "weight_milli"
        ),
    )


SOFTDEDUP_WEIGHTS_SQL = f"""
WITH c AS (SELECT doc_id, cluster_id FROM ({NEARDUP_CLUSTERS_SQL}) nc),
s AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM c GROUP BY cluster_id)
SELECT doc_id, cluster_id, cluster_size,
       CAST(1000000 // cluster_size AS BIGINT) AS weight_milli
FROM c JOIN s USING (cluster_id)
"""


# ======================================================================
# Round-9 births: exact-substring self-dedup, binary-sign ANN,
# Matryoshka truncation audit, trigram-rank language ID
# ======================================================================


def docs_selfdup_spans(spark, sf_dir):
    """Exact-substring corpus SELF-dedup spans (operators/corpus.py::
    cross_doc_duplicate_spans — the Lee et al. 2022 operation): the
    merged token intervals of every 8-gram that already occurs in an
    EARLIER document. First-occurrence-keeps: the earliest holder of
    a passage keeps it, every later copy gets an excision span —
    feeding excise_spans yields the self-deduplicated corpus. ONE
    gram-keyed exchange computes the earliest-holder verdict (min
    over a window — no self-join, no suffix-array global sort), and
    only duplicated windows reach the per-doc island merge.
    All-integer output, hash-exact oracle."""
    from universal_importer_duckdb_spark.operators.corpus import (
        cross_doc_duplicate_spans,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return cross_doc_duplicate_spans(docs, n=8)


SELFDUP_SPANS_SQL = """
WITH g AS (
  SELECT doc_id, toks, len(toks) AS nt
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents)),
pos AS (
  -- md5-60 (15 hex chars): the oracle's OWN self-comparison gram
  -- space — deliberately NOT the Spark side's xxhash64 (_gram64):
  -- independent collision spaces mean a hash-collision span on
  -- either side mismatches at the gate instead of being shared
  SELECT doc_id, i,
         ('0x' || substr(md5(array_to_string(
            list_slice(toks, i, i + 7), ' ')), 1, 15))::BIGINT AS gram
  FROM g, unnest(range(1, nt - 6)) AS u(i)
  WHERE nt >= 8),
hits AS (
  SELECT doc_id, i AS s, i + 7 AS e
  FROM (SELECT p.*, MIN(doc_id) OVER (PARTITION BY gram) AS mind
        FROM pos p)
  WHERE mind < doc_id),
isl AS (
  SELECT *, CASE WHEN s > COALESCE(MAX(e) OVER (
      PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS nw
  FROM hits),
isl2 AS (
  SELECT *, SUM(nw) OVER (
      PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl)
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl2 GROUP BY doc_id, island
"""


def emb_sign_hamming_topk(spark, sf_dir):
    """Binary (sign) quantization ANN (operators/similarity.py::
    sign_hamming_topk): 1-bit-per-dimension compression, XOR+popcount
    Hamming candidate scan (no floats touched until re-rank),
    top-100 candidates by (hamming, id), exact order-defined cosine
    top-10 among them. The third ANN family next to the hyperplane
    LSH and IVF entries — zero training, 64x storage compression,
    deterministic end to end."""
    from universal_importer_duckdb_spark.operators.similarity import (
        sign_hamming_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return sign_hamming_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_candidates=100
    )


def _sign_sql(expr: str, start: int, width: int) -> str:
    return (
        "list_reduce(list_apply(list_reverse(list_slice("
        f"{expr}, {start}, {start + width - 1})), "
        "x -> CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        "(acc, x) -> acc + acc + x)"
    )


def _sign_hamming_sql(
    k: int = 10, n_candidates: int = 100, dim: int = 64
) -> str:
    half = dim // 2
    v = "embedding::DOUBLE[]"
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT {_sign_sql('qv', 1, half)} AS qhi,
              {_sign_sql('qv', half + 1, dim - half)} AS qlo FROM q),
s AS (SELECT vec_id, {v} AS v,
             {_sign_sql(v, 1, half)} AS hi,
             {_sign_sql(v, half + 1, dim - half)} AS lo
      FROM embeddings WHERE vec_id > 0),
cand AS (
  SELECT s.vec_id, s.v,
         CAST(bit_count(xor(s.hi, qs.qhi))
              + bit_count(xor(s.lo, qs.qlo)) AS BIGINT) AS hamming
  FROM s, qs ORDER BY hamming, vec_id LIMIT {n_candidates}),
sc AS (SELECT vec_id, hamming,
              {_SQL_DOT.format(a="v", b="qv")} AS dot,
              {_SQL_N2.format(a="v")} AS n1,
              {_SQL_N2.format(a="qv")} AS n2
       FROM cand, q)
SELECT vec_id, hamming, dot/(sqrt(n1)*sqrt(n2)) AS cosine
FROM sc ORDER BY cosine DESC, vec_id LIMIT {k}
"""


def emb_matryoshka_recall(spark, sf_dir):
    """Matryoshka/MRL truncation audit (operators/similarity.py::
    matryoshka_recall): per prefix width d in {8,16,32,64}, the exact
    cosine top-10 under the truncated geometry and its overlap with
    the full-dimension top-10 — the recall-vs-storage curve a
    deployment reads before serving truncated embeddings. Each tier
    is an independent order-defined fold over its own slice +
    per-partition takeOrdered; the overlap join broadcasts the 10-row
    reference. All-integer output."""
    from universal_importer_duckdb_spark.operators.similarity import (
        matryoshka_recall,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return matryoshka_recall(
        emb, _query_vec(spark, sf_dir), dims=(8, 16, 32, 64), k=10
    )


def _matryoshka_sql(dims=(8, 16, 32, 64), k: int = 10) -> str:
    def tier(d: int) -> str:
        v = f"list_slice(v, 1, {d})"
        q = f"list_slice(qv, 1, {d})"
        return f"""
  SELECT {d}::BIGINT AS dim, vec_id FROM (
    SELECT vec_id,
           {_SQL_DOT.format(a=v, b=q)}
             / (sqrt({_SQL_N2.format(a=v)}) * sqrt({_SQL_N2.format(a=q)}))
             AS c
    FROM s, q) ORDER BY c DESC, vec_id LIMIT {k}"""

    tiers = "\nUNION ALL\n".join(f"({tier(d)})" for d in dims)
    full = tier(max(dims)).replace(f"{max(dims)}::BIGINT AS dim, ", "")
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id > 0),
fullk AS ({full}),
u AS ({tiers})
SELECT u.dim, CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
            // {k} AS BIGINT) AS recall_milli
FROM u LEFT JOIN fullk f USING (vec_id)
GROUP BY u.dim ORDER BY u.dim
"""


def docs_langid_trigram_rank(spark, sf_dir):
    """Cavnar-Trenkle trigram rank-profile language ID (operators/
    text_analysis.py::trigram_rank_langid): per-language top-50
    trigram profiles self-trained from the labeled corpus, per-doc
    top-20 profiles, out-of-place rank distance, argmin prediction —
    the classic pre-neural classifier, upgraded from the stopword-
    marker heuristic of docs_language_id. All-integer distances,
    hash-exact oracle. (On THIS synthetic corpus every lang label
    draws from one shared vocabulary, so predictions certify
    determinism, not accuracy — tests/test_round9_ops.py pins real
    classification quality on a multilingual fixture.)"""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.text_analysis import (
        trigram_rank_langid,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return trigram_rank_langid(docs, m=50, n=20)


def _langid_trigram_sql(m: int = 50, n: int = 20) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, lang, lower(COALESCE(text, '')) AS t FROM documents),
tri AS (
  SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS tg
  FROM base, unnest(range(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 3),
dc AS (SELECT doc_id, lang, tg, COUNT(*) AS c FROM tri GROUP BY ALL),
dp AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, tg) AS drank
    FROM dc) WHERE drank <= {n}),
lc AS (SELECT lang, tg, COUNT(*) AS c FROM tri GROUP BY ALL),
lp AS (SELECT * FROM (
    SELECT lang AS plang, tg,
           row_number() OVER (PARTITION BY lang
                              ORDER BY c DESC, tg) AS lrank
    FROM lc) WHERE lrank <= {m}),
terms AS (SELECT doc_id, lang, COUNT(*) AS nt FROM dp GROUP BY ALL),
sc AS (SELECT d.doc_id, p.plang,
              SUM({m} - abs(d.drank - p.lrank)) AS gain
       FROM dp d JOIN lp p USING (tg) GROUP BY ALL),
best AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY gain DESC, plang) AS rn
    FROM sc) WHERE rn = 1)
SELECT t.doc_id, t.lang, COALESCE(b.plang, 'und') AS pred_lang,
       CAST(t.nt * {m} - COALESCE(b.gain, 0) AS BIGINT) AS dist
FROM terms t LEFT JOIN best b USING (doc_id)
"""


def docs_selfdedup_text(spark, sf_dir):
    """Exact-substring self-dedup APPLIED (operators/corpus.py::
    excise_spans over cross_doc_duplicate_spans): tokens inside every
    later-copy span dropped, the rest rejoined — the Lee et al. 2022
    remediate step, closing the audit-to-remediate loop for corpus
    self-duplication the way docs_decontaminated_text closes it for
    benchmark leakage. The earliest holder of each passage keeps its
    text untouched; the excise rebuild is a narrow map on the raw
    scan (spans broadcast per doc)."""
    from universal_importer_duckdb_spark.operators.corpus import (
        cross_doc_duplicate_spans,
        excise_spans,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    raw = _t(spark, sf_dir, "documents")
    return excise_spans(raw, cross_doc_duplicate_spans(docs, n=8))


SELFDEDUP_TEXT_SQL = f"""
WITH spansq AS ({SELFDUP_SPANS_SQL}),
agg AS (
  SELECT doc_id,
         list(span_start ORDER BY span_start) AS ss,
         list(span_end ORDER BY span_start) AS ee,
         CAST(SUM(span_end - span_start + 1) AS BIGINT) AS nrem
  FROM spansq GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.nrem, 0) AS n_tokens_removed,
       CASE WHEN a.doc_id IS NULL THEN d.text
            -- COALESCE: DuckDB's array_to_string([]) is NULL where
            -- Spark's array_join([]) is '' (fully-excised docs)
            ELSE COALESCE(array_to_string(
              list_filter(string_split(d.text, ' '),
                (x, i) -> len(list_filter(a.ss,
                    (s, k) -> s <= i AND i <= a.ee[k])) = 0), ' '), '')
       END AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


REGISTRY.update({
    "docs_selfdup_spans": (docs_selfdup_spans, SELFDUP_SPANS_SQL),
    "emb_sign_hamming_topk": (emb_sign_hamming_topk, _sign_hamming_sql()),
    "emb_matryoshka_recall": (emb_matryoshka_recall, _matryoshka_sql()),
    "docs_langid_trigram_rank": (
        docs_langid_trigram_rank, _langid_trigram_sql(),
    ),
    "docs_selfdedup_text": (docs_selfdedup_text, SELFDEDUP_TEXT_SQL),
})


def stream_langid_scores(spark, sf_dir):
    """Language ID at INGEST (streaming/docs.py::
    streaming_langid_scores): the n_langs x 50 profile artifact is
    trained once from the labeled batch corpus
    (text_analysis.py::langid_profile) and collected — the bounded
    literal-artifact class of the CMS sketch — then arriving
    documents are classified by a stateless Arrow-batched scorer.
    One emission per document (no state), so the drained frame
    equals the batch classifier row-for-row and shares its oracle;
    the defensive max-fold collapses any re-emission, the
    stream_dsir_scores idiom."""
    from universal_importer_duckdb_spark.operators.text_analysis import (
        langid_artifact,
    )
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.docs import (
        stream_documents,
        streaming_langid_scores,
    )

    artifact = langid_artifact(_t(spark, sf_dir, "documents"), m=50)
    _STREAM_COUNTER[0] += 1
    stream = stream_documents(spark, sf_dir)
    drained = se.run_available_now(
        streaming_langid_scores(stream, artifact),
        f"q_stream_langid_{_STREAM_COUNTER[0]}",
        output_mode="append",
    )
    return drained.groupBy("doc_id").agg(
        F.max("lang").alias("lang"),
        F.max("pred_lang").alias("pred_lang"),
        F.max("dist").cast("bigint").alias("dist"),
    )


REGISTRY.update({
    "stream_langid_scores": (stream_langid_scores, _langid_trigram_sql()),
})


def docs_incremental_selfdup_spans(spark, sf_dir):
    """Exact-substring dedup at INGEST (operators/corpus.py::
    incremental_duplicate_spans): the arriving batch (doc_id % 10 = 0,
    the same batch class as docs_incremental_dedup) is screened
    against the at-rest corpus's gram index — a window is a
    duplicate span when its 8-gram occurs anywhere at rest.
    Verdicts depend only on at-rest state (batch-order-free, the
    incremental-family contract); only arriving hit windows reach
    the island merge. Completes the self-dedup loop's production
    shape: one corpus pass (docs_selfdup_spans), then per-batch
    admission against the STORED index — served here as a HELD
    artifact (corpus.py::gram_index, scoped-cached and built by the
    first action): the r10 verdict's like-for-like fix — the entry's
    own adjudication said "production holds the index at rest" while
    the benched form rebuilt it per run; now the benched/certified
    shape IS the production serving shape, under the same
    trained-artifact contract as BPE/DSIR/textrank."""
    from universal_importer_duckdb_spark.operators.corpus import (
        incremental_duplicate_spans,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    arriving = docs.filter(F.col("doc_id") % 10 == 0)
    at_rest = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_duplicate_spans(at_rest, arriving, n=8)


INCREMENTAL_SELFDUP_SPANS_SQL = """
WITH g AS (
  SELECT doc_id, doc_id % 10 = 0 AS arriving, toks, len(toks) AS nt
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents)),
pos AS (
  SELECT doc_id, arriving, i,
         ('0x' || substr(md5(array_to_string(
            list_slice(toks, i, i + 7), ' ')), 1, 15))::BIGINT AS gram
  FROM g, unnest(range(1, nt - 6)) AS u(i)
  WHERE nt >= 8),
idx AS (SELECT DISTINCT gram FROM pos WHERE NOT arriving),
hits AS (
  SELECT p.doc_id, p.i AS s, p.i + 7 AS e
  FROM pos p JOIN idx USING (gram)
  WHERE p.arriving),
isl AS (
  SELECT *, CASE WHEN s > COALESCE(MAX(e) OVER (
      PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS nw
  FROM hits),
isl2 AS (
  SELECT *, SUM(nw) OVER (
      PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl)
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl2 GROUP BY doc_id, island
"""


REGISTRY.update({
    "docs_incremental_selfdup_spans": (
        docs_incremental_selfdup_spans, INCREMENTAL_SELFDUP_SPANS_SQL,
    ),
})


REGISTRY.update({
    "docs_cluster_aware_split": (
        docs_cluster_aware_split, CLUSTER_AWARE_SPLIT_SQL,
    ),
    "docs_softdedup_weights": (
        docs_softdedup_weights, SOFTDEDUP_WEIGHTS_SQL,
    ),
    "emb_semdedup": (emb_semdedup, _semdedup_oracle()),
    "emb_incremental_semdedup": (
        emb_incremental_semdedup, _incremental_semdedup_oracle(),
    ),
    "stream_semdedup_ingest": (
        stream_semdedup_ingest, _incremental_semdedup_oracle(),
    ),
    "docs_multisignal_admission": (
        docs_multisignal_admission, _multisignal_admission_oracle(),
    ),
    "stream_multisignal_admission": (
        stream_multisignal_admission,
        _multisignal_admission_oracle(intra_batch=False),
    ),
})


def docs_bigram_lm_bits(spark, sf_dir):
    """CCNet-style LM quality filter (operators/lm.py): train a
    bigram model on the target subset (source = 'src0' — the curated
    seed, the DSIR target convention), score EVERY document by
    integer bits-per-token (floor-log2 surprisal buckets via base-2
    string length — identical in Spark conv(x,10,2) and DuckDB
    bin(x); OOV bigrams cost a flat 24 bits). Low bits = looks like
    the target. The sequential-likelihood sibling of the DSIR
    importance tier; spreads the single-row-group test parquet
    first."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.lm import (
        bigram_lm_bits,
    )

    return bigram_lm_bits(
        spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id"),
        is_target=F.col("source") == "src0",
    )


BIGRAM_LM_SQL = """
WITH toks AS (
  SELECT doc_id, source = 'src0' AS t,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     x -> x <> '') AS l
  FROM documents),
big AS (
  SELECT doc_id, t, l[i] AS w1, l[i + 1] AS w2
  FROM toks, unnest(range(1, len(l))) AS u(i)
  WHERE len(l) >= 2),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big WHERE t GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
art AS (SELECT w1, w2, LENGTH(bin(c1 // c2)) AS bits
        FROM c2 JOIN c1 USING (w1)),
scored AS (
  SELECT b.doc_id, COUNT(*) AS nb, SUM(COALESCE(a.bits, 24)) AS s
  FROM big b LEFT JOIN art a USING (w1, w2) GROUP BY b.doc_id)
SELECT d.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
       CAST(CASE WHEN COALESCE(nb, 0) > 0 THEN (1000 * s) // nb
            ELSE 0 END AS BIGINT) AS bits_milli
FROM documents d LEFT JOIN scored USING (doc_id)
"""


def stream_lm_bits(spark, sf_dir):
    """Bigram-LM bits at INGEST (streaming/docs.py::streaming_lm_bits):
    the bit table is trained once from the batch corpus
    (operators/lm.py::bigram_lm_artifact), then arriving documents
    are scored by a stateless explode_outer + stream-static join +
    per-doc aggregation in update mode. One source row per document,
    so its state is final on first emission and the drained output
    equals the batch scores however availableNow splits the source —
    the batch oracle applies. Defensive max-fold collapses any
    re-emission, the stream_dsir_scores idiom."""
    from universal_importer_duckdb_spark.operators.lm import (
        bigram_lm_artifact,
    )
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.docs import (
        stream_documents,
        streaming_lm_bits,
    )

    artifact = bigram_lm_artifact(
        _t(spark, sf_dir, "documents"),
        is_target=F.col("source") == "src0",
    )
    _STREAM_COUNTER[0] += 1
    stream = stream_documents(spark, sf_dir)
    drained = se.run_available_now(
        streaming_lm_bits(stream, artifact),
        f"q_stream_lm_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return drained.groupBy("doc_id").agg(
        F.max("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.max("bits_milli").cast("bigint").alias("bits_milli"),
    )


def docs_ingest_novelty(spark, sf_dir):
    """Admission-time novelty (operators/corpus.py::ingest_novelty):
    the arriving batch (doc_id % 10 = 0, the incremental-family batch
    class) scored by the fraction of its 8-gram windows absent from
    the at-rest corpus's distinct gram index — the inverse read of
    the index incremental_duplicate_spans screens against (one stored
    index, two admission signals: seen windows for excision, unseen
    fraction for curriculum/priority). Served from the HELD index
    (gram_index) — the production shape, same trained-artifact
    contract and r10-verdict rationale as
    docs_incremental_selfdup_spans."""
    from universal_importer_duckdb_spark.operators.corpus import (
        ingest_novelty,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    arriving = docs.filter(F.col("doc_id") % 10 == 0)
    at_rest = docs.filter(F.col("doc_id") % 10 != 0)
    return ingest_novelty(at_rest, arriving, n=8)


INGEST_NOVELTY_SQL = """
WITH g AS (
  SELECT doc_id, doc_id % 10 = 0 AS arriving, toks, len(toks) AS nt
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents)),
pos AS (
  SELECT doc_id, arriving, i,
         ('0x' || substr(md5(array_to_string(
            list_slice(toks, i, i + 7), ' ')), 1, 15))::BIGINT AS gram
  FROM g, unnest(range(1, nt - 6)) AS u(i)
  WHERE nt >= 8),
idx AS (SELECT DISTINCT gram FROM pos WHERE NOT arriving),
counts AS (
  SELECT p.doc_id, COUNT(*) AS nw,
         SUM(CASE WHEN i.gram IS NULL THEN 1 ELSE 0 END) AS novel
  FROM pos p LEFT JOIN idx i USING (gram)
  WHERE p.arriving GROUP BY p.doc_id)
SELECT d.doc_id, CAST(COALESCE(nw, 0) AS BIGINT) AS n_windows,
       CAST(CASE WHEN COALESCE(nw, 0) > 0 THEN (1000 * novel) // nw
            ELSE 0 END AS BIGINT) AS novel_milli
FROM documents d LEFT JOIN counts USING (doc_id)
WHERE d.doc_id % 10 = 0
"""


REGISTRY.update({
    "docs_bigram_lm_bits": (docs_bigram_lm_bits, BIGRAM_LM_SQL),
    "stream_lm_bits": (stream_lm_bits, BIGRAM_LM_SQL),
    "docs_ingest_novelty": (docs_ingest_novelty, INGEST_NOVELTY_SQL),
})


# ======================================================================
# Round 10 (cont.): HyperLogLog cardinality — the sketch pair's
# second half next to the CMS (operators/sketches.py)
# ======================================================================

def docs_hll_vocab(spark, sf_dir):
    """Per-source vocabulary cardinality via HyperLogLog
    (operators/sketches.py::hll_registers/hll_report; Flajolet et al.
    2007): 256 max-rho registers per source — a 1 KB summary replacing
    a COUNT(DISTINCT) whose exact dedup state is corpus-vocabulary-
    sized — reported as the raw milli-estimate AND the small-range-
    corrected estimate (LinearCounting under the 2.5m gate, r12)
    alongside the exact distinct count (the CMS heavy-hitter audit
    pattern: the sketch's error is CERTIFIED on real data, not
    asserted — and the correction's effect is auditable per source). The register fold
    is a max monoid, so it partial-aggregates map-side and the one
    exchange carries <= 256 rows per source per map task; the same
    monoid is what bounds the streaming twin's state. Everything is
    integer or exact-dyadic-double arithmetic (no pow/ln), so the
    whole report value-hash matches the SQL replay bit for bit."""
    from universal_importer_duckdb_spark.operators.sketches import (
        hll_registers,
        hll_report,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    from universal_importer_duckdb_spark.caching import scoped_cache

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("k"),
    ).filter(F.col("k") != "")
    # Distinct-first: ONE corpus exchange (map-side-combined distinct
    # of (source, k)) feeds BOTH branches — the exact audit needs the
    # distinct set anyway, and hashing once per DISTINCT key instead
    # of once per occurrence is the same win at 100 TB. The scoped
    # cache is bounded by the same vocab the exact audit's agg state
    # already holds. (The streaming twin deliberately does NOT
    # distinct-first: its register fold on raw tokens is what keeps
    # its state at 256 rows per source instead of vocab-sized.)
    keyed = scoped_cache(toks.distinct())
    report = hll_report(hll_registers(keyed, "k"))
    exact = keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    return exact.join(report, "source").select(
        "source", "exact_distinct", "hll_est_milli",
        "hll_corrected_milli", "n_zero_registers",
    )


def stream_hll_vocab(spark, sf_dir):
    """Streaming twin of docs_hll_vocab: the REGISTER TABLE is the
    streaming state (update mode), capped at 256 rows per source
    forever — max is idempotent and monotone, so replayed tokens are
    absorbed for free where an exact streaming COUNT(DISTINCT) keeps
    per-token state without bound. Drained emissions max-fold to the
    final registers (the finalize_cms_sketch idiom) and equal the
    batch table however availableNow splits the source, so the batch
    oracle applies; the exact audit column comes from the at-rest
    table, shared with the batch entry."""
    from universal_importer_duckdb_spark.operators.sketches import (
        finalize_hll_registers,
        hll_report,
        streaming_hll_registers,
    )
    from universal_importer_duckdb_spark.streaming import docs as sd
    from universal_importer_duckdb_spark.streaming.events import (
        run_available_now,
    )

    _STREAM_COUNTER[0] += 1
    stream = sd.stream_documents(spark, sf_dir)
    toks = stream.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("k"),
    ).filter(F.col("k") != "")
    drained = run_available_now(
        streaming_hll_registers(toks, "k"),
        f"q_stream_hll_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    report = hll_report(finalize_hll_registers(drained))
    at_rest = _t(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("k"),
    ).filter(F.col("k") != "")
    exact = at_rest.groupBy("source").agg(
        F.countDistinct("k").cast("bigint").alias("exact_distinct")
    )
    return exact.join(report, "source").select(
        "source", "exact_distinct", "hll_est_milli",
        "hll_corrected_milli", "n_zero_registers",
    )


def _hll_vocab_sql() -> str:
    # the LinearCounting table ships as the SAME integer literals the
    # Spark plan holds (sketches.HLL_LC_MILLI — ln() evaluated once at
    # import, never by either engine), so the corrected column
    # value-hash matches bit for bit
    from universal_importer_duckdb_spark.operators.sketches import (
        HLL_LC_GATE_MILLI,
        HLL_LC_MILLI,
    )

    lc = ", ".join(str(v) for v in HLL_LC_MILLI)
    return f"""
WITH toks AS (
  SELECT source, k FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS k
    FROM documents)
  WHERE k <> ''),
keyed AS (SELECT DISTINCT source, k FROM toks),
h AS (
  SELECT source,
         ('0x' || substr(md5('hll-v1:' || k), 1, 7))::BIGINT % 256
           AS bucket,
         ('0x' || substr(md5('hll-v1:' || k), 8, 10))::BIGINT AS w
  FROM keyed),
regs AS (
  SELECT source, bucket,
         MAX(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS r
  FROM h GROUP BY source, bucket),
rep AS (
  SELECT source,
         256 - COUNT(*) AS nz,
         (256 - COUNT(*)) * 1.0
           + SUM(1.0 / CAST((1::BIGINT << r) AS DOUBLE)) AS s
  FROM regs GROUP BY source),
est AS (
  SELECT source, nz,
         CAST(floor(47072712.671202235 / s) AS BIGINT) AS raw
  FROM rep),
ex AS (
  SELECT source, COUNT(DISTINCT k) AS exact_distinct FROM toks
  GROUP BY source)
SELECT e.source,
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       r.raw AS hll_est_milli,
       CAST(CASE WHEN r.nz > 0 AND r.raw <= {HLL_LC_GATE_MILLI}
                 THEN list_extract([{lc}], r.nz)
                 ELSE r.raw END AS BIGINT) AS hll_corrected_milli,
       CAST(r.nz AS BIGINT) AS n_zero_registers
FROM ex e JOIN est r USING (source)
"""


HLL_VOCAB_SQL = _hll_vocab_sql()


REGISTRY.update({
    "docs_hll_vocab": (docs_hll_vocab, HLL_VOCAB_SQL),
    "stream_hll_vocab": (stream_hll_vocab, HLL_VOCAB_SQL),
})


def docs_source_gram_overlap(spark, sf_dir):
    """Cross-source duplication forensics (operators/corpus.py::
    source_gram_overlap): shared distinct 8-grams and exact
    milli-Jaccard for every source pair — the which-dump-copies-which
    matrix read before mixing overlapping crawls into one corpus.
    One gram-keyed exchange folds each gram's bounded source set and
    expands pairs map-side; never a gram-keyed self-join."""
    from universal_importer_duckdb_spark.operators.corpus import (
        source_gram_overlap,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return source_gram_overlap(docs, n=8)


SOURCE_GRAM_OVERLAP_SQL = """
WITH base AS (
  SELECT source, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS nt
  FROM documents),
g AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(array_to_string(
            list_slice(toks, i, i + 7), ' ')), 1, 7))::BIGINT AS gram
  FROM base, unnest(range(1, nt - 6)) AS u(i)
  WHERE nt >= 8),
per AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
sh AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
  FROM g a JOIN g b USING (gram)
  WHERE a.source < b.source
  GROUP BY 1, 2)
SELECT sh.sa AS source_a, sh.sb AS source_b,
       CAST(sh.shared AS BIGINT) AS shared_grams,
       CAST((1000 * sh.shared) // (pa.n + pb.n - sh.shared) AS BIGINT)
         AS jaccard_milli
FROM sh
JOIN per pa ON pa.source = sh.sa
JOIN per pb ON pb.source = sh.sb
"""


REGISTRY.update({
    "docs_source_gram_overlap": (
        docs_source_gram_overlap, SOURCE_GRAM_OVERLAP_SQL,
    ),
})


def emb_ingest_drift(spark, sf_dir):
    """Embedding-distribution drift at ingest (operators/similarity.py
    ::embedding_ingest_drift): integer k-means trained on the AT-REST
    vectors (vec_id % 10 != 0), both sides assigned, per-cluster
    occupancy + exact integer mean-d2 per side + arriving share in
    milli — the aggregate health signal next to the per-vector
    SemDeDup admission verdicts. Training replayed in the oracle via
    the unrolled integer-Lloyd's CTE chain (int_kmeans.kmeans_ctes),
    so the full drift table is hash-exact."""
    from universal_importer_duckdb_spark.operators.similarity import (
        embedding_ingest_drift,
    )

    emb = _t(spark, sf_dir, "embeddings")
    arriving = emb.filter(F.col("vec_id") % 10 == 0)
    at_rest = emb.filter(F.col("vec_id") % 10 != 0)
    return embedding_ingest_drift(at_rest, arriving, n_clusters=16)


def _ingest_drift_oracle(
    n_clusters: int = 16,
    dim: int = 64,
    sample_size: int = 2048,
    iters: int = 5,
) -> str:
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        SAMPLE_SALT,
        kmeans_ctes,
        sql_md5_28,
        sql_qdim,
    )

    samp_hash = sql_md5_28(f"'{SAMPLE_SALT}:'||pid")
    dims = ", ".join(
        f"{sql_qdim('embedding', i)} AS d{i}" for i in range(1, dim + 1)
    )
    dist_pc = " + ".join(
        f"(p.d{i}-c.d{i})*(p.d{i}-c.d{i})" for i in range(1, dim + 1)
    )
    return f"""
WITH
pts0 AS MATERIALIZED (
  SELECT vec_id AS pid, (vec_id % 10 = 0) AS arr, {dims}
  FROM embeddings),
rest AS MATERIALIZED (SELECT * FROM pts0 WHERE NOT arr),
sampids AS MATERIALIZED (SELECT pid FROM rest
            ORDER BY {samp_hash}, pid
            LIMIT {sample_size}),
pts AS MATERIALIZED (SELECT p.* FROM rest p JOIN sampids USING (pid)),
{kmeans_ctes('pts', dim, n_clusters, iters, 'cents')},
asg AS (
  SELECT pid, arr, cid, dd FROM (
    SELECT p.pid, p.arr, c.cid, {dist_pc} AS dd,
           row_number() OVER (PARTITION BY p.pid
                              ORDER BY {dist_pc}, c.cid) AS rn
    FROM pts0 p JOIN cents c ON TRUE) WHERE rn = 1)
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(SUM(CASE WHEN arr THEN 0 ELSE 1 END) AS BIGINT) AS n_at_rest,
       CAST(SUM(CASE WHEN arr THEN 1 ELSE 0 END) AS BIGINT) AS n_arriving,
       CAST(CASE WHEN SUM(CASE WHEN arr THEN 0 ELSE 1 END) > 0
            THEN SUM(CASE WHEN arr THEN 0 ELSE dd END)
                 // SUM(CASE WHEN arr THEN 0 ELSE 1 END)
            ELSE 0 END AS BIGINT) AS mean_d2_at_rest,
       CAST(CASE WHEN SUM(CASE WHEN arr THEN 1 ELSE 0 END) > 0
            THEN SUM(CASE WHEN arr THEN dd ELSE 0 END)
                 // SUM(CASE WHEN arr THEN 1 ELSE 0 END)
            ELSE 0 END AS BIGINT) AS mean_d2_arriving,
       CAST((1000 * SUM(CASE WHEN arr THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS arriving_milli
FROM asg GROUP BY cid
"""


INGEST_DRIFT_SQL = _ingest_drift_oracle()


def stream_ingest_drift(spark, sf_dir):
    """Streaming twin of emb_ingest_drift: the arriving side's
    per-cluster (count, sum d2) aggregate is the streaming state
    (update mode, capped at n_clusters rows forever — the CMS/HLL
    bounded-state class; the assignment itself is a stateless Arrow
    map with the at-rest-trained centroid matrix in the closure).
    Drained emissions max-fold to the final totals and join the
    batch at-rest side through the shared drift_report, so the
    drained output equals the batch entry however availableNow
    splits the source — the batch oracle applies."""
    from universal_importer_duckdb_spark.operators.similarity import (
        drift_registers,
        drift_report,
        ivf_train_centroids,
    )
    from universal_importer_duckdb_spark.streaming.embeddings import (
        finalize_drift_registers,
        stream_embeddings,
        streaming_drift_registers,
    )
    from universal_importer_duckdb_spark.streaming.events import (
        run_available_now,
    )

    emb = _t(spark, sf_dir, "embeddings")
    at_rest = emb.filter(F.col("vec_id") % 10 != 0)
    C = ivf_train_centroids(at_rest, 16)
    _STREAM_COUNTER[0] += 1
    arriving = stream_embeddings(spark, sf_dir).filter(
        F.col("vec_id") % 10 == 0
    )
    drained = run_available_now(
        streaming_drift_registers(arriving, C),
        f"q_stream_drift_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return drift_report(
        drift_registers(at_rest, C, "at_rest"),
        finalize_drift_registers(drained),
    )


REGISTRY.update({
    "emb_ingest_drift": (emb_ingest_drift, INGEST_DRIFT_SQL),
    "stream_ingest_drift": (stream_ingest_drift, INGEST_DRIFT_SQL),
})


# Chained-section export: star-import carries every module-level
# name (including the underscore-prefixed shared helpers) to the
# next registry section / the entry_queries spine.
__all__ = [_n for _n in globals() if not _n.startswith("__")]
