"""Near-duplicate text detection at scale — the generalization of the
reference's exact composite-key dedup (SURVEY.md §2.3) to fuzzy
content identity. Grouping, banding and verification are JVM column
expressions; three per-row hot spots run in Arrow-batched numpy
kernels (MinHash permutation minima, SimHash fingerprints, SimHash
in-bucket pair expansion). Every operator has ONE implementation, and
every hash is md5-derived so the DuckDB oracles in the registry replay
each stage bit-for-bit.

Operators:
- exact_dedup        — content-hash groupBy (one shuffle, map-side combine)
- minhash_signatures — k-perm MinHash over character shingles
- minhash_lsh_pairs  — banded LSH candidate generation + exact-Jaccard
                       verification (the classic MMDS ch.3 pipeline)
- simhash_32x2_portable — 64-bit SimHash as two 32-bit halves
- simhash_fp_columns — the same fingerprint as pure column expressions
                       (the Structured Streaming form)
- simhash_near_pairs_portable — chunk-banded SimHash bucketing +
                       Hamming verification
- neardup_clusters / cluster_canonical — pairs -> connected components
                       -> one kept member per cluster

Scale design: every pairing step goes through a bucket-join (shuffle on
the band/bucket hash) so candidate generation is O(collisions), never
O(n²); verification runs only on candidates. Skewed buckets (a shingle
shared by everything) are the classic failure mode — AQE skew-join
handles moderate skew, and `max_bucket_size` hard-caps degenerate
buckets the way production LSH pipelines drop stop-shingles.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from universal_importer_duckdb_spark.caching import scoped_cache


def estimated_splits(df: DataFrame) -> int:
    """Estimated number of scan splits for a file-backed frame,
    mirroring Spark's own FilePartition sizing: ``maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores))``
    then ``max(file count, ceil(totalBytes / maxSplitBytes))``
    (bounded driver work: at most 64 files are stat'ed, the rest
    extrapolated). This is the byte-aware proxy the r13 decomposition
    demanded — file COUNT alone said a single 10 GB parquet file was
    "one partition" and triggered a full raw-row shuffle that Spark's
    own byte-ranged splitting makes pointless (at 100 TB every file
    splits into maxPartitionBytes tasks with no exchange at all).
    Returns 0 for non-file-backed frames."""
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    spark = df.sparkSession

    def _bytes_conf(key: str, default: int) -> int:
        try:
            v = spark.conf.get(key)
            return int(v.rstrip("b")) if v.endswith("b") else int(v)
        except Exception:
            return default

    mpb = _bytes_conf("spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", 4 << 20)
    cores = spark.sparkContext.defaultParallelism
    total = 0
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        # stride the sample across the PATH-SORTED listing — a head
        # slice is not size-representative (date-partitioned layouts
        # put same-vintage, same-size files together), and a sample
        # skewed large overestimates splits and skips a spread that
        # would have helped (r13 advice). Ceiling division: floor
        # gave stride=1 for 65-127 files, degenerating back into the
        # head slice the comment promises to avoid (r14 advice).
        stride = -(-len(files) // 64)
        sample = files[::stride][:64]
        for f in sample:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            total += fs.getFileStatus(p).getLen()
        if len(files) > len(sample):
            total = total * len(files) // len(sample)
    except Exception:
        return len(files)
    # Spark's FilePartition sizing pads every file by openCostInBytes
    # before computing bytesPerCore — mirror it or maxSplitBytes comes
    # out too small on many-small-file inputs (r13 advice)
    padded = total + open_cost * len(files)
    max_split = min(mpb, max(open_cost, padded // max(cores, 1) + 1))
    byte_splits = max(len(files), -(-total // max_split))
    # Parquet can't split finer than its row groups: a byte-split
    # whose range contains no row-group midpoint reads nothing, so a
    # single-row-group file is ONE effective split no matter how many
    # byte ranges Spark carves (the sf0.1 test tables are exactly
    # this shape). Footer reads are driver-local and cheap for
    # file:// paths; for remote filesystems fall back to the byte
    # estimate (production writers emit ~128 MB row groups, where
    # byte and row-group granularity coincide).
    local = [
        f[len("file:"):] if f.startswith("file:") else f
        for f in sample
        if f.startswith(("file:", "/"))
    ]
    if len(local) == len(sample):
        try:
            import pyarrow.parquet as pq

            rgs = sum(pq.ParquetFile(f).num_row_groups for f in local)
            if len(files) > len(local):
                rgs = rgs * len(files) // len(local)
            return max(len(files), min(byte_splits, rgs))
        except Exception:
            pass
    return byte_splits


def spread_for_compute(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    input arrives in fewer partitions. Small parquet files (one 128 MB
    split) otherwise pin the whole CPU-bound shingle/hash pipeline to
    a single core; the shuffle of the raw rows is trivial next to the
    per-row compute. A wide input (>= target partitions) is left
    untouched.

    Split estimation is BYTE-AWARE since r13 (estimated_splits): the
    old file-count proxy would shuffle a large single parquet file
    that Spark's byte-ranged scan splitting already parallelizes —
    at 100 TB that was a full-corpus exchange for nothing. The
    estimate can only SKIP spreads the old rule performed, never add
    one."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if estimated_splits(df) >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in cols]) if cols else df.repartition(target)


def bucket_pairs(
    df: DataFrame, bucket_cols, id_col: str, max_bucket_size: int
) -> DataFrame:
    """Distinct candidate pairs ``(id_a < id_b)`` of rows sharing a
    bucket: ONE groupBy shuffle + in-bucket combination expansion,
    instead of window-count + self-join + distinct (three shuffles of
    the full bucketed table). Degenerate buckets above
    ``max_bucket_size`` are dropped the way production LSH pipelines
    drop stop-shingles."""
    buckets = (
        df.groupBy(*bucket_cols)
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"))).alias("items"))
        .filter((F.size("items") >= 2) & (F.size("items") <= max_bucket_size))
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size("items")),
                lambda y: F.struct(
                    F.when(x["id"] < y["id"], x).otherwise(y).alias("a"),
                    F.when(x["id"] < y["id"], y).otherwise(x).alias("b"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.a.id").alias("id_a"), F.col("p.b.id").alias("id_b"))
        .distinct()
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep the lowest-id row per identical content. Aggregation form:
    partial (map-side) min/count shrink the shuffle to one row per
    distinct fingerprint."""
    content = F.lower(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.withColumn("fingerprint", F.md5(content))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("kept_" + id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Production ingest dedup: admit only NEW-batch documents whose
    content fingerprint is (a) first within the batch and (b) absent
    from the existing-corpus index. This is the daily-ingest shape — a
    100 TB corpus is deduplicated ONCE, after which every arriving
    batch checks against the stored fingerprint index instead of
    re-scanning history.

    ``index_df`` needs only the fingerprint-bearing columns (here it
    is derived from text for self-containment; production stores the
    fingerprint index as its own bucketed table, making the anti-join
    co-partitioned and shuffle-free on the index side).

    Shape: one within-batch window dedup (single exchange on the
    fingerprint) + one left_anti join on the fingerprint — batch-sized
    work, never corpus-sized rescans.
    """
    content = (
        F.lower(F.col(text_col)) if normalize else F.col(text_col)
    )
    batch = new_df.select(
        F.col(id_col), F.md5(content).alias("fingerprint")
    )
    idx = index_df.select(F.md5(content).alias("fingerprint")).distinct()
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    firsts = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return firsts.join(idx, "fingerprint", "left_anti").select(
        id_col, "fingerprint"
    )


def shingles(col, n: int = 5, distinct: bool = False):
    """Character n-grams of a string column (JVM higher-order
    functions — no UDF). NOT deduplicated by default: every consumer
    here is set-semantic anyway (MinHash min over a multiset equals
    min over its set; ``array_intersect``/``array_union`` dedupe
    internally), and interpreted ``array_distinct`` is O(n²) per row —
    it was the single largest cost of the signature stage. Pass
    ``distinct=True`` if you need the actual set."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.array_distinct(out) if distinct else out


_MERSENNE_31 = (1 << 31) - 1

# σ margin of the signature presift in minhash_lsh_pairs; the registry's
# DuckDB replica (_minhash_lsh_sql) reads this same constant
PRESIFT_SIGMA = 3.0


def shingle_hash(s):
    """Shingle-string -> 28-bit int: the first 7 hex chars of its md5.
    Bit-exactly reproducible in DuckDB as
    ``('0x'||substr(md5(s),1,7))::BIGINT``, which is what makes a full
    cross-engine SQL oracle for the LSH pipeline possible (DuckDB has
    no xxhash64). 28 bits keep a*h+b < 2^59: overflow-free int64 in
    both engines, and inside the Mersenne domain of the permutations."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 7), 16, 10).cast("bigint")


def _perm_params(num_perm: int, seed: int = 7):
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_perm)
    ]


def _perm_min_pandas_udf(num_perm: int, seed: int = 7, sample_mod: int = 1):
    """Arrow-batched permutation-min: given the hashed shingle array,
    compute all num_perm (a*h+b) mod p minima. a < 2^31 and h < 2^28,
    so a*h+b stays exact in int64 — identical bit-for-bit to the
    DuckDB replica's ``(a*h+b)%2147483647``.

    Vectorized ACROSS the batch, not per row: all rows' hashes are
    concatenated into one flat vector, each permutation is one
    (a*flat+b) % p pass, and per-row minima come from
    ``np.minimum.reduceat`` at the row offsets — num_perm vectorized
    passes per batch instead of one numpy broadcast per row.

    ``sample_mod > 1`` applies the consistent mod-sampling here: keep
    hashes ≡ 0 mod k. The filter is a function of the shingle alone,
    so it selects the SAME shingles in every document and the sampled
    sets' Jaccard is an unbiased estimate of the full Jaccard. A short
    doc that samples to empty falls back to its full set."""
    from pyspark.sql.pandas.functions import pandas_udf

    params = _perm_params(num_perm, seed)
    A = np.array([p[0] for p in params], dtype=np.int64)
    B = np.array([p[1] for p in params], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def sig(hs: pd.Series) -> pd.Series:
        out: list = [None] * len(hs)
        keep_idx: list[int] = []
        arrays: list[np.ndarray] = []
        for i, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue
            hv = np.asarray(h, dtype=np.int64)
            if sample_mod > 1:
                s = hv[hv % sample_mod == 0]
                if s.size:
                    hv = s
            keep_idx.append(i)
            arrays.append(hv)
        if not keep_idx:
            return pd.Series(out)
        flat = np.concatenate(arrays)
        offs = np.zeros(len(arrays), dtype=np.intp)
        np.cumsum([a.size for a in arrays[:-1]], out=offs[1:])
        res = np.empty((len(arrays), num_perm), dtype=np.int64)
        for p in range(num_perm):
            res[:, p] = np.minimum.reduceat((A[p] * flat + B[p]) % _MERSENNE_31, offs)
        for j, i in enumerate(keep_idx):
            out[i] = res[j]
        return pd.Series(out)

    return sig


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_n: int = 5,
    sample_mod: int = 1,
) -> DataFrame:
    """MinHash signature per document via universal hashing: each
    shingle is string-hashed ONCE (:func:`shingle_hash`), then the
    i-th permutation is (a_i*h + b_i) mod (2^31-1) — three integer ops
    instead of a fresh string hash per permutation (the standard
    datasketch-style scheme; 32x less string hashing). The num_perm
    minima come from one Arrow-batched numpy pass over the hashes
    (:func:`_perm_min_pandas_udf`).

    Signatures are num_perm*8 bytes however long the document is —
    this is what makes 100 TB near-dedup tractable (shuffle
    signatures, not text)."""
    # sample_mod is applied inside the kernel: no interpreted filter
    # pass over the array column
    hashed = F.transform(shingles(text_col, shingle_n), shingle_hash)
    with_h = spread_for_compute(df, id_col).select(
        F.col(id_col), hashed.alias("__h")
    )
    sig_udf = _perm_min_pandas_udf(num_perm, sample_mod=sample_mod)
    return with_h.select(F.col(id_col), sig_udf("__h").alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 50,
    sample_mod: int = 1,
) -> DataFrame:
    """Candidate pairs from banded MinHash, verified with exact
    shingle-set Jaccard. Returns (id_a, id_b, jaccard), id_a < id_b.
    Every stage is bit-reproducible in DuckDB SQL (the registry's
    ``_minhash_lsh_sql``): md5_28 shingle hashes, and band buckets
    keyed on the raw signature component tuple.

    bands must divide num_perm; rows-per-band r = num_perm//bands sets
    the S-curve threshold ≈ (1/bands)^(1/r).

    The signature, candidate and shingle-set frames each feed both
    sides of a self-join, so they are scoped-cached (signatures are
    num_perm*8 bytes per doc — tiny; shingle sets are corpus-sized,
    trading memory for the recompute on the verify join).

    Presift: before the exact-Jaccard verify, estimate each candidate
    pair's Jaccard from its (already-computed, tiny) signatures — the
    fraction of equal components — and drop pairs whose estimate is
    more than ``PRESIFT_SIGMA`` standard deviations
    (σ = sqrt(j(1-j)/num_perm)) below the threshold. Single-band
    chance collisions sit near r/num_perm and are eliminated without
    ever touching their shingle sets; a true-positive pair at exactly
    the threshold survives with P ≈ Φ(3) (99.87%). The exact verify —
    the only stage that shuffles corpus-sized shingle arrays — then
    runs on the survivors alone, and only THEIR documents are shingled
    at all (left-semi pushdown).
    """
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    r = num_perm // bands
    # scoped_cache = cache() semantics (CacheManager plan-equality
    # reuse across actions AND rebuilt identical queries) plus a
    # per-session ledger so sweepers release storage explicitly
    # (caching.release_scoped) instead of accumulating to LRU
    sigs = scoped_cache(
        minhash_signatures(df, text_col, id_col, num_perm, shingle_n, sample_mod)
    )

    # raw component tuple as the bucket key (groupable in any engine)
    bucket_cols = ["band"] + [f"c{j}" for j in range(r)]
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[F.col("signature")[b * r + j].alias(f"c{j}") for j in range(r)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, *[f"bb.{c}" for c in bucket_cols])

    # candidates: same (band, bucket); degenerate buckets capped — at
    # scale the banded table is corpus×bands rows, so shuffling it
    # once (bucket_pairs) is the difference that matters.
    cand = bucket_pairs(banded, bucket_cols, id_col, max_bucket_size)

    cutoff = jaccard_threshold - PRESIFT_SIGMA * math.sqrt(
        jaccard_threshold * (1.0 - jaccard_threshold) / num_perm
    )
    if cutoff > 0:
        est = F.size(
            F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda m: m)
        ) / F.lit(float(num_perm))
        cand = (
            cand.join(sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("__sa")), "id_a")
            .join(sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("__sb")), "id_b")
            .filter(est >= cutoff)
            .select("id_a", "id_b")
        )
    cand = scoped_cache(cand)

    # shingle ONLY documents that appear in a surviving pair — at scale
    # the corpus is orders of magnitude larger than the candidate set,
    # and shingle sets are the one corpus-sized intermediate here.
    need_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Verify on HASHED shingles: array_intersect compares bigints
    # instead of n-char strings — measurably cheaper in the
    # interpreted higher-order evaluator, and the shuffled verify
    # payload is 8 bytes per shingle regardless of shingle_n. The
    # md5_28 sets are the cross-engine ground truth (a 28-bit
    # collision affects both engines identically, so the oracle
    # comparison stays bit-exact).
    # The per-doc array is pre-deduplicated and each side's set size
    # rides along, so the per-pair work is ONE array_intersect —
    # |A∪B| = |A|+|B|-|A∩B| replaces the (larger) array_union pass.
    sh = scoped_cache(
        spread_for_compute(df.join(need_ids, [id_col], "left_semi"), id_col).select(
            F.col(id_col),
            F.array_distinct(
                F.transform(shingles(text_col, shingle_n), shingle_hash)
            ).alias("sh"),
        ).withColumn("n_sh", F.size("sh"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
                      F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
                      F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (inter / (F.col("n_a") + F.col("n_b") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified


def _simhash_pandas_udf():
    """Arrow-batched portable-SimHash kernel: md5 per token via
    hashlib (identical bytes to the SQL ``md5``), bit votes vectorized
    in numpy. Bit-identical to :func:`simhash_fp_columns` — covered by
    a differential test.

    md5 runs once per DISTINCT token per Arrow batch (token
    distributions are heavy-tailed: the certification corpus has ~31
    distinct tokens over 270k occurrences; any natural corpus is
    Zipfian): a per-batch dict maps token -> row of a precomputed
    (uniq, 64) 0/1 bit matrix (``np.unpackbits`` over the first 8
    digest bytes, MSB-first), and each row's votes are one
    fancy-index + column sum. int(hexdigest[:8], 16) is exactly the
    big-endian int of digest bytes 0-4, and [8:16] of bytes 4-8, so
    the (fp_lo, fp_hi) split matches the SQL replica. Per-batch memory
    is O(distinct tokens * 64 bytes)."""
    from pyspark.sql.pandas.functions import pandas_udf

    import hashlib

    weights = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)

    @pandas_udf("struct<fp_lo:bigint,fp_hi:bigint>")
    def fp(texts: pd.Series) -> pd.DataFrame:
        md5 = hashlib.md5
        lo_out = np.zeros(len(texts), dtype=np.int64)
        hi_out = np.zeros(len(texts), dtype=np.int64)
        if not len(texts):
            return pd.DataFrame({"fp_lo": lo_out, "fp_hi": hi_out})
        tok_lists = [("" if t is None else t).split(" ") for t in texts]
        tokmap: dict = {}
        for toks in tok_lists:
            for t in toks:
                if t not in tokmap:
                    tokmap[t] = len(tokmap)
        dig = np.empty(len(tokmap), dtype=np.uint64)
        for t, j in tokmap.items():
            # first 8 digest bytes big-endian: top 32 bits == the
            # hexdigest[:8] 'hi' half, low 32 == hexdigest[8:16] 'lo'
            dig[j] = int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big")
        # (uniq, 64) 0/1 rows; column k holds bit (63-k) — unpackbits
        # is MSB-first per byte, matching the big-endian byte view
        bits = np.unpackbits(
            dig.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1
        )
        for i, toks in enumerate(tok_lists):
            idx = np.fromiter(
                (tokmap[t] for t in toks), dtype=np.intp, count=len(toks)
            )
            votes = bits[idx].sum(axis=0, dtype=np.int64)
            fp64 = int((weights * (2 * votes > len(toks))).sum())
            hi_out[i] = fp64 >> 32
            lo_out[i] = fp64 & 0xFFFFFFFF
        return pd.DataFrame({"fp_lo": lo_out, "fp_hi": hi_out})

    return fp


def simhash_32x2_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Portable SimHash: the 64-bit fingerprint as TWO 32-bit halves
    (fp_lo, fp_hi), with per-token bit sources taken from md5 hex
    halves — ``('0x'||substr(md5(t),1,8))::BIGINT`` is reproducible in
    DuckDB, which a xxhash64-based fingerprint is not. Splitting into
    halves keeps every intermediate in non-negative int32 range, so no
    cross-engine signed-overflow semantics are ever in play.
    Fingerprints come from the Arrow-batched numpy kernel
    (:func:`_simhash_pandas_udf`)."""
    fp_udf = _simhash_pandas_udf()
    return spread_for_compute(df, id_col).select(
        F.col(id_col), fp_udf(F.col(text_col)).alias("__fp")
    ).select(id_col, "__fp.fp_lo", "__fp.fp_hi")


def simhash_fp_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the portable SimHash halves as ``fp_lo``/``fp_hi``
    columns, preserving every input column. Pure column expressions —
    no UDF, no repartition — so this lifts UNCHANGED onto Structured
    Streaming frames (the streaming near-dup dedup builds on it).
    Bit-identical to the pandas kernel and the DuckDB SQL replica."""
    # coalesce NULL text to '' so this path fingerprints [''] like
    # the pandas kernel (None -> ""); keeps the bit-identical guarantee
    # on corpora that carry null text
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")

    def half(start: int):
        return lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), start, 8), 16, 10
        ).cast("bigint")

    base = df.withColumns({
        "__n": F.size(toks),
        "__hi": F.transform(toks, half(1)),
        "__lo": F.transform(toks, half(9)),
    })

    def fingerprint(arr: str):
        terms = []
        # factory closure: a `lambda h, b=b` two-param lambda would
        # make PySpark pass the array index as the second arg; and
        # mask-AND instead of shiftright, which rejects lambda vars
        def make_bit_set(b: int):
            mask = 1 << b
            return lambda h: h.bitwiseAND(F.lit(mask)) != 0

        for b in range(32):
            votes = F.size(F.filter(F.col(arr), make_bit_set(b)))
            terms.append(
                F.when(votes * 2 > F.col("__n"), F.lit(1 << b).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint"))
            )
        fp = terms[0]
        for t in terms[1:]:
            fp = fp + t
        return fp

    return base.withColumns({
        "fp_lo": fingerprint("__lo"),
        "fp_hi": fingerprint("__hi"),
    }).drop("__n", "__hi", "__lo")


# 16-bit popcount lookup table for the pair kernel: numpy < 2.0 has
# no vectorized bit_count, and LUT[x & 0xFFFF] + LUT[x >> 16] over
# int64 values < 2^32 is one gather + one add per half
_POPCNT16 = np.unpackbits(
    np.arange(1 << 16, dtype=np.uint16).view(np.uint8).reshape(-1, 2),
    axis=1,
).sum(axis=1).astype(np.uint8)


# Pairs per XOR/popcount pass of the pair kernel. A size class of
# same-size buckets is split into sub-passes of at most
# max(1, _PAIR_BUDGET // (m(m-1)/2)) buckets, so a pass's numpy
# temporaries (int64 xor halves and gathered ids, a few tens of bytes
# per pair) stay in the tens of MB however many large buckets one
# Arrow batch carries. Read once when the kernel is built.
_PAIR_BUDGET = 1 << 18


def _simhash_pairs_kernel(
    chunks: DataFrame,
    id_col: str,
    max_hamming: int,
    max_bucket_size: int,
) -> DataFrame:
    """(id_a, id_b, hamming) from bucketed portable fingerprints. The
    bucket grouping is a JVM ``collect_list`` aggregation (map-side
    partial, one exchange); the in-bucket pair expansion + hamming
    verify runs in numpy inside ``mapInPandas`` (the interpreted
    nested-transform expansion of :func:`bucket_pairs` cost +1.08 s of
    the 2.44 s x16 pair stage):

      * buckets are grouped BY SIZE inside each Arrow batch, so each
        pass is one stacked (k, m) triu-indexed XOR + popcount — no
        per-bucket numpy dispatch on the (dominant) tiny buckets — and
        k is capped by ``_PAIR_BUDGET``;
      * popcount via a 16-bit lookup table (values are 32-bit halves);
      * pairs failing ``hamming <= max_hamming`` never leave the
        kernel, so the de-duplicating ``distinct()`` shuffles only
        true near-pairs (hamming is a function of the pair, so
        filtering before the distinct is equivalent).

    Ids keep their input type: integral ids stay numpy ints, anything
    else (strings) rides as an object array compared with Python's
    ``<``, which orders strings by code point like Spark does. Null ids
    are dropped up front — they cannot be ordered into a pair, and
    ``collect_list`` skipping them would misalign the three parallel
    lists (ids / fp_lo / fp_hi), which otherwise index-align because
    one aggregation operator feeds every buffer row by row."""
    from pyspark.sql import types as T

    maxh = int(max_hamming)
    budget = _PAIR_BUDGET
    id_type = chunks.schema[id_col].dataType
    buckets = (
        chunks.filter(F.col(id_col).isNotNull())
        .groupBy("chunk", "bkey")
        .agg(
            F.collect_list(id_col).alias("ids"),
            F.collect_list("fp_lo").alias("los"),
            F.collect_list("fp_hi").alias("his"),
        )
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size)
        )
        .select("ids", "los", "his")
    )

    def expand(batches):
        lut = _POPCNT16
        for pdf in batches:
            rows = sorted(
                (
                    (np.asarray(i), np.asarray(lo, dtype=np.int64),
                     np.asarray(hi, dtype=np.int64))
                    for i, lo, hi in zip(pdf["ids"], pdf["los"], pdf["his"])
                ),
                key=lambda r: len(r[0]),
            )
            for m, cls in itertools.groupby(rows, key=lambda r: len(r[0])):
                cls = list(cls)
                ia, ib = np.triu_indices(m, 1)
                step = max(1, budget // len(ia))
                for s in range(0, len(cls), step):
                    part = cls[s:s + step]
                    ids = np.stack([r[0] for r in part])
                    lo = np.stack([r[1] for r in part])
                    hi = np.stack([r[2] for r in part])
                    x = lo[:, ia] ^ lo[:, ib]
                    y = hi[:, ia] ^ hi[:, ib]
                    h = (
                        lut[x & 0xFFFF].astype(np.int32)
                        + lut[(x >> 16) & 0xFFFF]
                        + lut[y & 0xFFFF]
                        + lut[(y >> 16) & 0xFFFF]
                    )
                    keep = h <= maxh
                    if not keep.any():
                        continue
                    a = ids[:, ia][keep]
                    b = ids[:, ib][keep]
                    sw = a > b
                    yield pd.DataFrame({
                        "id_a": np.where(sw, b, a),
                        "id_b": np.where(sw, a, b),
                        "hamming": h[keep],
                    })

    schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("hamming", T.IntegerType()),
    ])
    return buckets.mapInPandas(expand, schema=schema).distinct()


def simhash_near_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-dup pairs on the portable two-half SimHash: band the
    fingerprint into four 16-bit chunks (two per half; pigeonhole: a
    pair within Hamming distance 3 shares a chunk, for larger
    thresholds the chunk match is a recall heuristic), bucket on
    (chunk, key), verify with the popcount of the xor summed over the
    halves (:func:`_simhash_pairs_kernel`). Bit-reproducible in DuckDB
    — see the generated oracle in ``registry.core._simhash_sql``."""
    fp = simhash_32x2_portable(df, text_col, id_col)
    chunk_key = [
        F.shiftrightunsigned(F.col(half), shift).bitwiseAND(F.lit(0xFFFF))
        for half, shift in (("fp_lo", 0), ("fp_lo", 16), ("fp_hi", 0), ("fp_hi", 16))
    ]
    chunks = fp.select(
        id_col,
        "fp_lo",
        "fp_hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), key.alias("bkey"))
                    for c, key in enumerate(chunk_key)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "fp_lo", "fp_hi", "cc.chunk", "cc.bkey")
    return _simhash_pairs_kernel(chunks, id_col, max_hamming, max_bucket_size)


def neardup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
    driver_max_edges: int = 100_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS — the step that turns
    pairwise similarity into an actual dedup decision (drop all but
    one doc per connected component). Pairs alone under-dedup: if
    A~B and B~C but A!~C, keeping "one per pair" keeps two of the
    three.

    Connected components by iterative min-label propagation (the
    HashMin BSP algorithm): every node starts labeled with its own id;
    each round takes the min of its label and its neighbors' labels;
    at the fixed point every node carries the MINIMUM id reachable
    from it, which is iteration-order independent — the reason a
    declarative oracle (recursive-CTE closure) can check this exactly.

    Scale: the iteration runs ONLY over edge endpoints — a node with
    no near-dup pair can never change its label, so the corpus-sized
    frame is touched exactly twice (an anti-join to emit singletons,
    once, at the end). Each round is one join + one groupBy on the
    EDGE list (O(|E|), and near-dup pair lists are orders of magnitude
    smaller than the corpus), and rounds needed equal the component
    diameter — near-dup graphs are overwhelmingly tiny stars and
    chains, so this converges in a handful of rounds. Labels are
    eagerly localCheckpointed per round to keep the plan linear in
    rounds (not exponential). For adversarial graphs with huge
    diameters, swap in alternating-star contraction (Kiveris et al.);
    the interface stays the same.

    ``driver_max_edges`` bounds the driver-local path: at or below it
    (default 100k edges ~ 1.6 MB) components are solved exactly by
    union-find on the collected edge list — the BSP loop's per-round
    job latency dwarfs the work at that size — and above it the
    distributed BSP owns the graph. Both paths produce the identical
    min-label fixed point. Set 0 to force BSP.

    Fault tolerance: per-round barriers default to ``localCheckpoint``
    — executor-local blocks, fastest, but lost if an executor dies
    mid-loop (the whole query restarts). Pass ``checkpoint_dir`` (an
    HDFS/object-store path on a real cluster) to write round barriers
    through ``checkpoint()`` to reliable storage instead — each round
    costs a write to stable storage, but a lost executor replays from
    the last round, not from scratch. Local runs don't need it.

    Returns (id_col, cluster_id, is_kept): every id keeps a row;
    singletons are their own cluster; ``is_kept`` marks the cluster
    representative (min id)."""
    restore_dir = None
    if checkpoint_dir is not None:
        # setCheckpointDir is SESSION-GLOBAL state; every checkpoint
        # here is EAGER (written before this function returns), so the
        # prior dir — if one was configured — is restored on exit
        # rather than leaving later callers silently redirected. (If
        # none was set before, the new dir stays: the JVM offers no
        # clean unset, and nothing else was using checkpoint().)
        sc = pairs.sparkSession.sparkContext
        prior = sc._jsc.sc().getCheckpointDir()
        if prior.isDefined():
            restore_dir = (sc, prior.get())
        sc.setCheckpointDir(checkpoint_dir)

        def _barrier(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _barrier(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # materialize the pair list ONCE before symmetrizing: the union
    # references `pairs` twice, and without this barrier the entire
    # upstream candidate pipeline (e.g. MinHash banding + verify) is
    # evaluated once per orientation
    p0 = _barrier(pairs.select("id_a", "id_b"))
    edges = (
        p0.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .unionByName(p0.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .distinct()
    )
    edges = _barrier(edges)
    # Size the BSP working set from the MEASURED edge count (a count on
    # the materialized checkpoint is free): the checkpoint inherits the
    # upstream shuffle's partitioning (64 near-empty partitions here),
    # and without this every round schedules dozens of empty tasks —
    # pure overhead locally, and still wasteful on a cluster when the
    # pair list is small. ~100k edges per partition, capped at the
    # session's parallelism.
    n_edges = edges.count()
    # Scale-adaptive strategy: near-dup edge lists are orders of
    # magnitude smaller than the corpus, and BELOW ``driver_max_edges``
    # (bounded: 100k (s,d) int64 pairs = ~1.6 MB) the BSP loop's cost
    # is pure per-round job latency. Solve those exactly on the driver
    # with union-find (same min-label fixed point, same oracle) and
    # keep the distributed BSP as the path that owns anything larger —
    # the same bounded-collect pattern as the IVF training-sample cap.
    try:
        if n_edges <= driver_max_edges:
            labels = _driver_union_find(edges)
        else:
            labels = _bsp_min_label(edges, _barrier, max_iters, n_edges)
    finally:
        if restore_dir is not None:
            restore_dir[0].setCheckpointDir(restore_dir[1])
    clustered = labels.select(
        F.col("n").alias(id_col),
        F.col("lab").alias("cluster_id"),
        (F.col("n") == F.col("lab")).alias("is_kept"),
    )
    singletons = (
        ids.select(F.col(id_col))
        .join(labels.select(F.col("n").alias(id_col)), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(True).alias("is_kept"),
        )
    )
    return clustered.unionByName(singletons)


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact connected components of a BOUNDED edge list on the
    driver: union-find with path compression, labels resolved to the
    minimum id per component (identical to the BSP fixed point)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for row in edges.select("s", "d").collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(n, find(n)) for n in parent]
    # labels keep the EDGE id type (string URLs cluster as well as
    # bigints; the downstream unionByName with the ids frame requires
    # the types to line up). The explicit schema rides the Arrow
    # fast path via pandas without ever coercing values.
    from pyspark.sql import types as T

    id_type = edges.schema["s"].dataType
    schema = T.StructType(
        [T.StructField("n", id_type), T.StructField("lab", id_type)]
    )
    if not out:
        return edges.sparkSession.createDataFrame([], schema)
    return edges.sparkSession.createDataFrame(
        pd.DataFrame(out, columns=["n", "lab"]), schema
    )


def _bsp_min_label(
    edges: DataFrame, _barrier, max_iters: int, n_edges: int
) -> DataFrame:
    target = max(1, min(
        edges.sparkSession.sparkContext.defaultParallelism,
        -(-n_edges // 100_000),
    ))
    edges = _barrier(edges.coalesce(target))
    # active subgraph: only edge endpoints can ever change label
    labels = _barrier(
        edges.select(F.col("s").alias("n")).distinct()
        .select("n", F.col("n").alias("lab"))
        .coalesce(target)
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.d == labels.n)
            .groupBy("s")
            .agg(F.min("lab").alias("nbr_lab"))
        )
        hashed = labels.join(nbr_min, labels.n == nbr_min.s, "left").select(
            F.col("n"),
            F.least(F.col("lab"), F.coalesce("nbr_lab", F.col("lab"))).alias("lab"),
        )
        # pointer jumping (lab := lab[lab]): plain HashMin moves a
        # label ONE hop per round, so a path component of diameter d
        # needs d rounds; shortcutting through the current label makes
        # the distance-to-root roughly halve per round — O(log d)
        # rounds total, so max_iters=25 covers any real graph instead
        # of silently mislabeling chains longer than max_iters
        lut = hashed.select(F.col("n").alias("__ln"), F.col("lab").alias("__ll"))
        stepped = (
            hashed.join(lut, hashed.lab == lut.__ln, "left")
            .select(
                "n",
                F.least(F.col("lab"), F.coalesce("__ll", F.col("lab"))).alias("new_lab"),
            )
            # convergence flag rides along in the same materialization
            # (one checkpoint job + one cheap count over it per round)
            .join(labels.select(F.col("n").alias("__on"), F.col("lab").alias("__ol")),
                  F.col("n") == F.col("__on"))
            .select(
                "n",
                F.col("new_lab"),
                (F.col("new_lab") < F.col("__ol")).alias("chg"),
            )
            .coalesce(target)
        )
        stepped = _barrier(stepped)
        changed = stepped.filter("chg").count()
        labels = stepped.select("n", F.col("new_lab").alias("lab"))
        if changed == 0:
            converged = True
            break
    if not converged:
        # wrong clusters are a silent data-correctness trap; refuse
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iters} rounds "
            "(pathological component diameter?); raise max_iters"
        )
    return labels


def cluster_canonical(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Canonical-member selection per near-dup cluster: instead of
    blindly keeping the min-id member, keep the LONGEST one (by
    ``size_col``, min id on ties) — the standard "most complete copy"
    policy when near-dups are truncations/excerpts of each other.

    One aggregation (single shuffle on cluster_id): member count,
    argmax by (size, -id) for the canonical, and the total size
    dropped by deduplication. All-integer comparisons, so the choice
    is deterministic and oracle-replayable; singletons are included,
    certifying every document's cluster assignment.
    """
    joined = clusters.join(docs.select(id_col, size_col), id_col)
    pick = F.struct(F.col(size_col), (-F.col(id_col)).alias("__nid"))
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max_by(id_col, pick).alias("canonical_" + id_col),
            F.max(size_col).cast("bigint").alias("canonical_" + size_col),
            (F.sum(size_col) - F.max(size_col))
            .cast("bigint")
            .alias(size_col + "_dropped"),
        )
    )
