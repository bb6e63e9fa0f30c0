"""Scale probe: MEASURE how entries scale with data volume instead of
arguing about it.

The standing performance adjudications (README "Performance
adjudication" section) all make one empirical claim: the recorded >2x
Spark-vs-DuckDB ratios on sf0.1 are FIXED COSTS (scheduling floors,
single-row-group scans, per-job overhead) that amortize as data grows,
while the oracle's cost is data-proportional from the start — so the
ratio trends toward (or below) 1x at production scale. This tool tests
that claim directly: it replicates the sf0.1 tables Nx with
key-domain shifting (each copy is an independent shard — joins,
dedup and gram statistics scale like N independent corpora, the honest
production analogy), times both sides at each scale, and fits the
log-log slope (scaling exponent) per entry per side.

Reading the output:
  - spark_exp ~0 .. 0.5 with oracle_exp ~1.0 ==> the entry's sf0.1
    cost IS mostly floor, the adjudication holds, and the recorded
    ratio shrinks at scale (the ratio@16x column shows it directly).
  - spark_exp ~1.0 ==> the entry is data-proportional already; its
    sf0.1 ratio is what scale will look like, floor excuses don't
    apply.
  - spark_exp >1.2 ==> superlinear: a genuine scale bug (pair blowup,
    skew) — fails the probe.

Replication semantics (build_scaled):
  - every key column is shifted by copy * (domain max + 1), per
    REFERENCED domain (l_partkey shifts by part's offset), so each
    copy joins only within itself — N independent shards.
  - documents.text is letter-rotated per copy (translate with a
    rotated alphabet), so grams/fingerprints are DISJOINT across
    copies: dedup and self-dedup workloads scale like N independent
    corpora instead of collapsing into one all-duplicate blob
    (replicating text verbatim would make every gram corpus-shared
    and every doc an exact duplicate — an adversarial, unrepresentative
    16x).
  - embeddings.embedding is cyclically shifted per copy (norm- and
    distribution-preserving) so LSH buckets decorrelate across copies
    instead of multiplying bucket sizes toward the quadratic cap.
  - parquet ROW_GROUP_SIZE is pinned to the BASE table's row count
    (capped at duckdb's 122880 default), so the scan's split count
    grows with scale exactly as a production multi-file layout would —
    scaled data in one jumbo row group would deny Spark the
    parallelism the 100 TB layout actually has, biasing the probe.

Protocol per (entry, scale): warm once (plan + codegen + any trained
artifact via the prepared-plan cache — matching bench.py's serving
shape), then median of --runs timed noop-sink actions; DuckDB oracle
median of --runs on views over the same scaled parquet. Results go to
SCALE_PROBE.json at the repo root and a human table on stdout.

Pass-median cells (r15, the committed r14 follow-up): each
(entry, scale, side) cell stores the last PASS_KEEP invocation
medians (``spark_passes`` / ``oracle_passes``), and the published
cell value — what the exponent fit, ratio_first/ratio_last and the
canonical weak list consume — is the MEDIAN of that history. One hot
oracle pass can no longer flip an entry across the 2.0x bar; it takes
a majority of recorded passes. Re-running the probe IS the watch
process: each invocation appends one pass per touched cell.

Usage:
  python tools/scale_probe.py                    # default entries
  python tools/scale_probe.py --scales 1,4,16 --runs 3 name...
  python tools/scale_probe.py --list
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# key column -> its domain table + column (offset = max+1 over the
# domain's BASE data; FK columns shift by the referenced domain's
# offset so each copy is referentially closed)
DOMAINS = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "nationkey": ("nation", "n_nationkey"),
    "regionkey": ("region", "r_regionkey"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
}

# table -> [(column, domain)] key shifts
KEY_SHIFTS = {
    "region": [("r_regionkey", "regionkey")],
    "nation": [("n_nationkey", "nationkey"), ("n_regionkey", "regionkey")],
    "customer": [("c_custkey", "custkey"), ("c_nationkey", "nationkey")],
    "supplier": [("s_suppkey", "suppkey"), ("s_nationkey", "nationkey")],
    "part": [("p_partkey", "partkey")],
    "orders": [("o_orderkey", "orderkey"), ("o_custkey", "custkey")],
    "lineitem": [
        ("l_orderkey", "orderkey"),
        ("l_partkey", "partkey"),
        ("l_suppkey", "suppkey"),
    ],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
}

ALPHA = "abcdefghijklmnopqrstuvwxyz"

# The probe set: the six standing-adjudication entries + the active
# watch item + three data-proportional controls whose sf0.1 ratios are
# already healthy (they pin the harness: controls must come out ~1.0
# exponent on both sides or the replication itself is broken).
DEFAULT_ENTRIES = [
    # standing floor adjudications (README): claim spark_exp << 1
    "docs_corpus_card",
    "docs_source_gram_overlap",
    "docs_selfdedup_text",
    "docs_selfdup_spans",
    "docs_bigram_lm_bits",
    "docs_dsir_resample",
    # active watch (r12): 2-job floor claim
    "emb_hard_negatives",
    # probe-adjudicated when the r12 pass-3 bench put them >2x
    "docs_benchmark_contamination",
    "events_user_narratives",
    # r13 changed-kernel / re-adjudicated set (BLAS near-pairs port,
    # translate-counter gate, split-aware spread, scaled() hybrid)
    "emb_near_dup_pairs",
    "docs_quality_filter_ids",
    "docs_corpus_prep",
    "docs_bpe_token_counts",
    "docs_tokenizer_fertility",
    "lineitem_content_checksum",
    # controls: expected ~linear on both sides
    "q1_pricing_summary",
    "q9_profit_by_nation_year",
    "docs_minhash_lsh_neardup",
    # r14 additions: the rest of the generated weak list (q3 join
    # rewrite + q18 final adjudication live at x64) and the x64
    # crossover pair that fell OFF the list there (q5, dsir_resample
    # — re-probing is the watch process in both directions)
    "q3_top_unshipped",
    "q18_large_orders",
    "q5_revenue_by_nation",
]


def _offsets(con, base: str) -> dict[str, int]:
    out = {}
    for dom, (tab, col) in DOMAINS.items():
        mx = con.execute(
            f"SELECT max({col}) FROM read_parquet('{base}/{tab}.parquet')"
        ).fetchone()[0]
        out[dom] = int(mx) + 1
    return out


def _copy_expr(table: str, offs: dict[str, int]) -> str:
    """SELECT-list for one replicated copy; `c` is the copy index."""
    reps = [
        f"{col} + c * {offs[dom]} AS {col}"
        for col, dom in KEY_SHIFTS[table]
    ]
    if table == "documents":
        # rotate lowercase letters by c (mod 26): gram-disjoint copies
        reps.append(
            "translate(text, '{a}', substr('{a}', (c % 26)::INT + 1)"
            " || substr('{a}', 1, (c % 26)::INT)) AS text".format(a=ALPHA)
        )
    if table == "embeddings":
        # cyclic shift by c (mod len): norm-preserving decorrelation
        reps.append(
            "(embedding[(c % len(embedding))::INT + 1 :]"
            " || embedding[1 : (c % len(embedding))::INT]) AS embedding"
        )
    # EXCLUDE (c): the copy index is plumbing, not a table column —
    # leaking it would widen every scan at the scaled SFs
    return "SELECT * EXCLUDE (c) REPLACE (" + ", ".join(reps) + ")"


def build_scaled(
    base: str, out_dir: str, scale: int, tables: list[str] | None = None
) -> None:
    """Replicate every base table `scale`x into out_dir. Idempotent,
    but the skip check is NOT row-count-only (r12 advice): a sidecar
    `<table>.parquet.meta.json` records the md5 of the exact COPY SQL
    that built the file, so a replica built by an older _copy_expr
    (same row count, different schema/transform) is rebuilt instead
    of silently reused — stale replicas would quietly bias every
    probe number derived from them."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    offs = _offsets(con, base)
    for t in tables or TABLES:
        src = f"{base}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        meta_path = dst + ".meta.json"
        n_base = con.execute(
            f"SELECT count(*) FROM read_parquet('{src}')"
        ).fetchone()[0]
        rg = min(int(n_base), 122880)
        copy_sql = (
            f"COPY ({_copy_expr(t, offs)} FROM read_parquet('{src}') "
            f"CROSS JOIN (SELECT range::BIGINT AS c FROM range({scale})))"
            f" TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE {rg})"
        )
        sql_md5 = hashlib.md5(copy_sql.encode()).hexdigest()
        if os.path.exists(dst) and os.path.exists(meta_path):
            try:
                with open(meta_path) as fh:
                    meta = json.load(fh)
            except (OSError, ValueError):
                meta = {}
            n_have = con.execute(
                f"SELECT count(*) FROM read_parquet('{dst}')"
            ).fetchone()[0]
            if (
                n_have == n_base * scale
                and meta.get("copy_sql_md5") == sql_md5
            ):
                continue
        con.execute(copy_sql)
        with open(meta_path, "w") as fh:
            json.dump({"copy_sql_md5": sql_md5, "n_rows": n_base * scale}, fh)


PASS_KEEP = 5  # last N passes retained per (entry, scale, side) cell


def merge_passes(
    prior: dict, side: str, new_times: dict[int, float], keep: int = PASS_KEEP
) -> tuple[dict[int, list[float]], dict[int, float]]:
    """Fold one invocation's per-scale timings into the stored pass
    history for one side ('spark' | 'oracle') of one entry.

    r15 (the committed r14 follow-up, VERDICT r14 #1): a probe CELL is
    no longer the last invocation's scalar — it is the MEDIAN of the
    last ``keep`` recorded passes, so the canonical weak rule
    (ratio_last > 2.0) stops breathing ±30-50% with single oracle
    passes (q5's x64 oracle read 2.37 s in one pass, 0.71 s in the
    next). A pre-r15 scalar cell seeds a one-element history, so old
    artifacts upgrade in place and a partial re-run still merges.

    Returns (passes, cells): passes[scale] = last-N list (oldest
    first), cells[scale] = median of that list — the value every
    downstream consumer (exponent fit, ratio_last, weak list) reads.
    """
    passes: dict[int, list[float]] = {
        int(k): list(v)
        for k, v in (prior.get(f"{side}_passes") or {}).items()
    }
    # seed from a legacy scalar cell when no history exists yet
    for k, v in (prior.get(side) or {}).items():
        passes.setdefault(int(k), [v])
    for s, t in new_times.items():
        passes.setdefault(int(s), []).append(t)
        passes[int(s)] = passes[int(s)][-keep:]
    cells = {s: round(statistics.median(p), 3) for s, p in passes.items()}
    return passes, cells


def _fit_exponent(scales: list[int], times: list[float]) -> float:
    """Least-squares slope of log(time) vs log(scale)."""
    xs = [math.log(s) for s in scales]
    ys = [math.log(max(t, 1e-4)) for t in times]
    n = len(xs)
    if n == 0:
        # --side oracle on an entry with no stored Spark history
        # reaches here with an empty series (r15 advice): nan, like
        # the single-scale case below, instead of ZeroDivisionError
        return float("nan")
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0.0:
        return float("nan")
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def _exp_cell(cells: dict[int, float]) -> float | None:
    """Rounded exponent fit over a cell dict; None where the fit is
    undefined (no or one scale), so the artifact stays strict JSON."""
    xs = sorted(cells)
    e = _fit_exponent(xs, [cells[s] for s in xs])
    return round(e, 2) if math.isfinite(e) else None


def _num(x: float | None) -> float:
    return float("nan") if x is None else x


def build_row(prior: dict, spark_times: dict, oracle_times: dict) -> dict:
    """One SCALE_PROBE.json entry row: this invocation's times folded
    into the per-cell pass histories (r15 pass-median regime — see
    merge_passes); exponents and ratios recompute on the per-cell
    MEDIANS' union."""
    sp, st = merge_passes(prior, "spark", spark_times)
    op, ot = merge_passes(prior, "oracle", oracle_times)
    row = {"spark": st, "spark_passes": sp, "spark_exp": _exp_cell(st)}
    if ot:
        row.update({"oracle": ot, "oracle_passes": op,
                    "oracle_exp": _exp_cell(ot)})
        both = sorted(set(st) & set(ot))
        if both:  # st can be empty under --side oracle (r15 advice)
            row.update({
                "ratio_first": round(st[both[0]] / ot[both[0]], 2),
                "ratio_last": round(st[both[-1]] / ot[both[-1]], 2),
            })
    return row


def time_spark(entries, dirs, runs: int):
    from universal_importer_duckdb_spark import entry_queries as eq
    from universal_importer_duckdb_spark.caching import release_scoped
    from universal_importer_duckdb_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    q = eq.queries()
    out: dict[str, dict[int, float]] = {n: {} for n in entries}
    for scale, d in dirs.items():
        for name in entries:
            release_scoped(spark)
            spark.catalog.clearCache()
            fn = q[name]
            # warm: plan construction + codegen + trained artifacts
            # (prepared-plan cache) — bench.py's serving shape
            fn(spark, d).write.format("noop").mode("overwrite").save()
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            out[name][scale] = round(statistics.median(samples), 3)
    return out


def time_oracle(entries, dirs, runs: int):
    import duckdb

    from universal_importer_duckdb_spark import entry_queries as eq

    sqls = eq.oracle_sql()
    out: dict[str, dict[int, float]] = {n: {} for n in entries}
    for scale, d in dirs.items():
        con = duckdb.connect()
        con.execute(
            f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}"
        )
        for t in TABLES:
            # partial replicas (--tables) only materialize the tables
            # the probed entries read; skip views over missing files
            if not os.path.exists(f"{d}/{t}.parquet"):
                continue
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet')"
            )
        for name in entries:
            sql = sqls.get(name)
            if sql is None:
                continue
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                samples.append(time.perf_counter() - t0)
            out[name][scale] = round(statistics.median(samples), 3)
        con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="*", default=None)
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--work", default="/tmp/scale_probe")
    ap.add_argument("--list", action="store_true")
    ap.add_argument(
        "--tables", default=None,
        help="comma-separated subset of tables to replicate (for very "
        "large scales where the probed entries read few tables; the "
        "oracle only registers views over files that exist)")
    ap.add_argument(
        "--side", choices=("both", "spark", "oracle"), default="both",
        help="time only one side this invocation; the other side's "
        "stored pass history is carried through unchanged. The "
        "kernel-change etiquette pairs --side spark with "
        "--reset-spark: Spark cells re-measure against the new "
        "kernel without paying (or double-recording) another oracle "
        "replay — the SQL twin didn't change")
    ap.add_argument(
        "--reset-spark", action="store_true",
        help="drop the named entries' stored Spark pass histories "
        "before merging — REQUIRED etiquette when an entry's kernel "
        "changed this round, or its cell medians silently mix old- "
        "and new-kernel passes (oracle histories are kept: the SQL "
        "twin didn't change)")
    args = ap.parse_args()
    if args.list:
        print("\n".join(DEFAULT_ENTRIES))
        return 0
    entries = args.entries or DEFAULT_ENTRIES
    scales = sorted({int(s) for s in args.scales.split(",")})

    dirs = {}
    for s in scales:
        d = args.base if s == 1 else os.path.join(args.work, f"x{s}")
        if s != 1:
            t0 = time.perf_counter()
            build_scaled(args.base, d, s,
                         args.tables.split(",") if args.tables else None)
            print(f"built x{s} in {time.perf_counter() - t0:.1f}s -> {d}",
                  file=sys.stderr)
        dirs[s] = d

    spark_t = (
        time_spark(entries, dirs, args.runs)
        if args.side in ("both", "spark")
        else {n: {} for n in entries}
    )
    oracle_t = (
        time_oracle(entries, dirs, args.runs)
        if args.side in ("both", "oracle")
        else {n: {} for n in entries}
    )

    # merge into the existing artifact (a partial re-run of one entry
    # or one scale must not clobber the rest of the board)
    path = os.path.join(REPO, "SCALE_PROBE.json")
    prior_entries: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                prior_entries = json.load(f).get("entries", {})
        except Exception:
            prior_entries = {}
    if args.reset_spark:
        for name in entries:
            row = prior_entries.get(name)
            if row:
                row.pop("spark", None)
                row.pop("spark_passes", None)
    result = {"scales": scales, "base": args.base, "runs": args.runs,
              "entries": prior_entries}
    hdr = (f"{'entry':34s} " +
           " ".join(f"spark@x{s:<3d}" for s in scales) + " exp  " +
           " ".join(f"duck@x{s:<4d}" for s in scales) +
           " exp   ratio@x1 -> x" + str(scales[-1]))
    print(hdr)
    for name in entries:
        row = build_row(prior_entries.get(name, {}), spark_t[name],
                        oracle_t.get(name, {}))
        st, ot = row["spark"], row.get("oracle", {})
        line = (f"{name:34s} " +
                " ".join(f"{st.get(s, float('nan')):9.3f}"
                         for s in scales) +
                f" {_num(row['spark_exp']):4.2f}  ")
        if ot:
            line += (" ".join(f"{ot.get(s, float('nan')):9.3f}"
                              for s in scales) +
                     f" {_num(row['oracle_exp']):4.2f}")
            if "ratio_last" in row:
                line += f"   {row['ratio_first']:5.2f} -> {row['ratio_last']:5.2f}"
        print(line)
        result["entries"][name] = row

    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"\nwrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
