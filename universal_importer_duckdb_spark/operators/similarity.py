"""Similarity search over embedding columns (array<float>).

Structure:

- Candidate generators feeding one exact re-rank. The single-query
  top-k paths (``cosine_topk_two_phase``, ``lsh_ann_topk``,
  ``sign_hamming_topk``, ``ivf_topk``) differ only in how they pick
  candidate rows: a JVM phase-1 score, hyperplane buckets, sign-bit
  Hamming or IVF lists. Each ends in ``cosine_topk``, the one
  order-defined exact cosine fold and (cosine desc, id) selection,
  as does every prefix tier of ``matryoshka_recall``. Every path
  filters its rows through ``_vec_fits``: a NULL vector is never a
  candidate, and a row narrower than the query raises.
- One centroid-assignment kernel, ``assign_to_centroids``
  (Arrow-batched integer argmin), behind k-means, ingest drift,
  SemDeDup and its admission twins. IVF list assignment runs the same
  batch function (``_assign_batch``) as a scalar Arrow UDF.
- Pair operators (``hard_negative_pairs``, ``embedding_near_pairs``,
  ``knn_join_exact``) pre-sift candidates in numpy and re-score the
  survivors with the same exact fold.

Hyperplanes are generated from a seeded PRNG on the driver (tiny:
n_planes × dim floats) and broadcast as literal arrays; bucket
signatures are computed with JVM higher-order functions — no UDFs.

Determinism: exact scores route per-element products through
order-defined double folds (see the strategy note below) so results are
reproducible bit-for-bit across engines and partitionings.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Exactness strategy: ORDER-DEFINED double left folds. F.aggregate
# over an array is a sequential left fold, and DuckDB's list_reduce
# replays the identical association (0.0 + x1 == x1 exactly), so the
# oracle reproduces every score bit-for-bit with NO rounding step.
# The previous idiom — products cast to DECIMAL(33,13) then summed —
# was order-independent but relied on the double->DECIMAL cast, whose
# round-half mode differs between engines on boundary values
# (observed on this table's norms: 1.0000000268674 vs ...73 once
# every vector's norm is touched). A defined-order double fold has no
# such cast, at the cost of fixing the fold order in the oracle.


def _dot_double(a, b):
    """Sequential left-fold dot product (JVM-side, no Arrow
    round-trip). Order-defined: the oracle's list_reduce replays the
    identical association, so this IS the exact cross-engine path."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, t: s + t
    )


def _norm2_double(a):
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, t: s + t
    )


def cosine(a, b):
    return _dot_double(a, b) / (
        F.sqrt(_norm2_double(a)) * F.sqrt(_norm2_double(b))
    )


def _double_array(xs):
    """A driver-side vector (the query, a hyperplane) as an
    array<double> literal."""
    return F.array(*[F.lit(float(x)) for x in xs])


def _vec_fits(
    vec_col: str, id_col: str, width: int, what: str = "query dim"
):
    """The one check on an embedding column: TRUE for a vector at
    least ``width`` wide, NULL for a NULL vector, and a per-row error
    for a narrower one. Unchecked, a narrow row would zip_with-pad
    with NULLs and fold its score to NULL (sorting last silently),
    pack a truncated sign signature, or break the numpy stack of an
    assignment batch. It reads only ``size()``: the vector is cast
    where it is scored, so the check costs nothing per fold."""
    v = F.col(vec_col)
    ragged = F.raise_error(
        F.concat(
            F.lit(f"embedding narrower than the {what} ({width}) for id "),
            F.col(id_col).cast("string"),
        )
    ).cast("boolean")
    return F.when(F.size(v) >= width, F.lit(True)).when(v.isNotNull(), ragged)


def _search_rows(
    df: DataFrame, vec_col: str, id_col: str, width: int
) -> DataFrame:
    """The rows a top-k path may read: a NULL vector is never a
    candidate, and a vector narrower than ``width`` raises
    (:func:`_vec_fits`). A filter, not a guarded column: Catalyst
    would push a later candidate filter below the column and copy the
    guard into every fold of it."""
    return df.filter(_vec_fits(vec_col, id_col, width))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact cosine top-k against a literal query vector: the one
    re-rank and selection every top-k path in this module ends in.
    Returns ``(<id_col>, <extra_cols...>, cosine)`` for the top-k by
    (cosine desc, id). The score is the order-defined JVM fold the
    oracles replay bit for bit. It inherits the input's partitioning
    rather than forcing one (a repartition of an already-filtered
    candidate frame costs more than it buys; for full-corpus scans
    prefer cosine_topk_two_phase)."""
    rows = _search_rows(df, vec_col, id_col, len(query_vec))
    v = F.col(vec_col).cast("array<double>")
    score = cosine(v, _double_array(query_vec))
    return (
        rows.select(F.col(id_col), *extra_cols, score.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def cosine_topk_two_phase(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    overfetch: int = 4,
    extra_cols: tuple[str, ...] = (),
    size_hint: int | None = None,
) -> DataFrame:
    """Exact cosine top-k in two phases: a JVM-side double-precision
    fold SELECTS the top ``k*overfetch`` candidates (zip-with product
    + aggregate sum — stays in the executor JVM, no Arrow round-trip
    of the embedding column to a Python worker), then ``cosine_topk``
    re-ranks only those candidates, so the output is bit-identical to
    the one-phase exact scan while the re-rank arithmetic touches
    k*overfetch rows instead of the corpus. The selection score drops
    the constant |q| factor (order-equivalent) and is never emitted.

    Soundness assumption (tie density): phase 1 can only err by
    EXCLUDING a true top-k member, which requires more than
    k*(overfetch-1) vectors within double-rounding distance (~1e-13
    relative) of the kth cosine. Real embedding corpora are nowhere
    near that degenerate; if a corpus is (e.g. quantized vectors with
    mass ties), raise ``overfetch`` toward n/k — at overfetch >= n/k
    this degrades gracefully into the one-phase exact scan.

    At 100 TB the double fold is the part you'd push to a SIMD kernel
    or GPU; the exact re-rank cost stays O(k). No forced repartition:
    phase-1 parallelism comes from file splits (a shuffle of every
    vector would dwarf the fold it feeds at any scale).

    ``size_hint`` (a cheap row-count estimate, e.g. from the parquet
    footer — NOT a Spark action) gates the candidate phase: when the
    corpus is at most ``4 * k * overfetch`` rows, phase 1 would keep
    most of it anyway, so ``cosine_topk`` runs directly on the
    corpus in ONE TakeOrdered — the degraded-to-one-phase form the
    soundness note above describes, minus the wasted selection stage.
    Results are bit-identical either way (phase 2 alone IS the exact
    scan)."""
    if size_hint is None or size_hint > 4 * k * overfetch:
        vd = F.col(vec_col).cast("array<double>")
        dscore = _dot_double(vd, _double_array(query_vec)) / F.greatest(
            F.sqrt(_norm2_double(vd)), F.lit(1e-300)
        )
        df = (
            _search_rows(df, vec_col, id_col, len(query_vec))
            .select(id_col, *extra_cols, vec_col, dscore.alias("__dscore"))
            .orderBy(F.desc("__dscore"), id_col)
            .limit(k * overfetch)
        )
    return cosine_topk(df, query_vec, k, vec_col, id_col, extra_cols)


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def bucket_signature(vec_col, planes: list[list[float]]):
    """Sign-bit signature: bit p set iff dot(v, plane_p) > 0. Plain
    double arithmetic — the signature is a partition/cluster key, not
    a score, so cross-engine exactness is not required."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    v = v.cast("array<double>")
    bits = []
    for p, plane in enumerate(planes):
        d = _dot_double(v, _double_array(plane))
        bits.append(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("bigint"), p)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    max_probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to vectors whose
    bucket signature is within ``max_probe_hamming`` bits of the
    query's (multi-probe LSH). Recall/cost dial: 0 probes scans ~n/2^p
    of the data."""
    dim = len(query_vec)
    from universal_importer_duckdb_spark.operators.dedup_text import spread_for_compute

    planes = _hyperplanes(n_planes, dim, seed)
    # query signature computed on the driver (tiny)
    qsig = 0
    for p, plane in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, plane)) > 0:
            qsig |= 1 << p
    rows = _search_rows(spread_for_compute(df, id_col), vec_col, id_col, dim)
    sig = bucket_signature(vec_col, planes)
    cand = rows.filter(
        F.bit_count(sig.bitwiseXOR(F.lit(qsig))) <= max_probe_hamming
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def sign_bits(vec_col, start: int, width: int):
    """Pack ``width`` sign bits (component > 0) of a vector slice
    starting at 1-based ``start`` into one BIGINT via an acc*2+bit
    fold over the REVERSED slice, so the slice's first component
    lands in the LOW bit (weight 2^i for offset i) — the init-free
    association DuckDB's list_reduce shares (0*2+b == b), so the
    signature is bit-identical in both engines. ``width`` <= 63
    keeps the fold inside int64."""
    if width > 63:
        raise ValueError("sign_bits packs at most 63 bits per word")
    sl = F.slice(F.col(vec_col).cast("array<double>"), start, width)
    return F.aggregate(
        F.reverse(sl),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + acc + F.when(x > 0, 1).otherwise(0),
    )


def sign_hamming_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Binary (sign) quantization ANN — the 1-bit-per-dimension
    serving path production vector stores ship as "binary
    quantization": every vector compresses 64x into its sign
    bitmap, candidates are the ``n_candidates`` smallest Hamming
    distances to the query's bitmap (XOR + popcount, whole-stage
    codegen — no floats touched during the scan), and only those
    re-rank by the exact order-defined cosine fold. Deterministic
    end to end: Hamming ties break on id, so the candidate set —
    and therefore the result — replays bit-for-bit in SQL.

    The 64-dim bitmap packs as TWO 32-bit words (a single 64-bit
    acc*2 fold would overflow int64 on the top bit); Hamming is the
    sum of the two popcounts. At 100 TB the signature words are
    computed once at ingest and stored (16 bytes/vector); the scan
    then reads only them, and the top-``n_candidates`` select is a
    per-partition takeOrdered — no shuffle of the corpus, exactly
    the IVF partition-pruning class of savings with zero training.

    Returns ``(vec_id, hamming, cosine)`` for the top-k by
    (cosine desc, id)."""
    dim = len(query_vec)
    half = dim // 2
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    # same bit orientation as sign_bits: slice offset i -> weight 2^i
    qhi = sum(1 << i for i in range(half) if query_vec[i] > 0)
    qlo = sum(
        1 << (i - half) for i in range(half, dim) if query_vec[i] > 0
    )
    ham = F.bit_count(
        sign_bits(vec_col, 1, half).bitwiseXOR(F.lit(qhi))
    ) + F.bit_count(
        sign_bits(vec_col, half + 1, dim - half).bitwiseXOR(F.lit(qlo))
    )
    cand = (
        _search_rows(spread_for_compute(df, id_col), vec_col, id_col, dim)
        .withColumn("hamming", ham.cast("bigint"))
        .orderBy("hamming", id_col)
        .limit(n_candidates)
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col, ("hamming",))


def matryoshka_recall(
    df: DataFrame,
    query_vec: list[float],
    dims: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka/MRL truncation audit: before serving prefix-
    truncated embeddings (the Kusupati et al. 2022 deployment trick —
    keep the first d dimensions, cut index cost d/dim), measure what
    truncation does to retrieval. For each prefix width d, take the
    exact cosine top-k under the truncated geometry (slice both sides
    to d, fold, rank) and report its overlap with the full-dimension
    top-k: ``(dim, n_overlap, recall_milli)``. NULL vectors are never
    candidates.

    Every tier's dot/norm is an independent order-defined fold over
    its own slice (NOT an incremental sum over the previous tier —
    a different association would drift a ulp from the oracle's
    list_reduce). Each tier is a per-partition takeOrdered over the
    scored scan — no shuffle of the corpus — and the overlap join
    broadcasts the k-row full-dim reference. On synthetic isotropic
    vectors recall decays steeply with truncation (there is no MRL
    training pulling information into the prefix) — the audit is the
    point: it certifies the measurement pipeline a real deployment
    runs on its own trained embeddings."""
    from functools import reduce

    from universal_importer_duckdb_spark.caching import scoped_cache

    if any(d < 1 or d > len(query_vec) for d in dims):
        # a tier wider than the vector would zip_with-pad with NULLs
        # and fold every cosine to NULL silently
        raise ValueError(
            f"matryoshka dims {tuple(dims)} must lie in "
            f"[1, {len(query_vec)}] (the query width)"
        )
    # a corpus row narrower than the widest slice taken raises per row.
    # The widest slice is the FULL-DIMENSION REFERENCE tier
    # (len(query_vec)), not just max(dims): a row with size in
    # [max(dims), len(query_vec)) would pass a max(dims) guard yet
    # NULL-fold in the reference top-k.
    dmax = max(max(dims), len(query_vec))
    rows = df.filter(_vec_fits(vec_col, id_col, dmax, "widest tier"))

    def topk_for(d: int) -> DataFrame:
        tier = rows.select(id_col, F.slice(vec_col, 1, d).alias(vec_col))
        return cosine_topk(tier, query_vec[:d], k, vec_col, id_col).select(
            F.lit(d).cast("bigint").alias("dim"), F.col(id_col)
        )

    # the full-dim reference IS the widest tier's id set — reuse it
    # (k rows, held) instead of a fifth takeOrdered scan
    full = scoped_cache(
        topk_for(len(query_vec)).select(F.col(id_col).alias("__fid"))
    )
    tiers = reduce(
        lambda a, b: a.unionAll(b),
        [
            topk_for(d) if d != len(query_vec)
            else full.select(
                F.lit(int(d)).cast("bigint").alias("dim"),
                F.col("__fid").alias(id_col),
            )
            for d in dims
        ],
    )
    return (
        tiers.join(
            F.broadcast(full), tiers[id_col] == full["__fid"], "left"
        )
        .groupBy("dim")
        .agg(
            F.sum(F.when(F.col("__fid").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_overlap"),
        )
        .select(
            "dim",
            "n_overlap",
            F.expr(f"CAST(n_overlap * 1000 div {int(k)} AS BIGINT)").alias(
                "recall_milli"
            ),
        )
        .coalesce(1)
        .sortWithinPartitions("dim")
    )


def _bucket_presift_kernel(
    floor_margin: float,
    max_bucket_size: int,
    with_labels: bool,
    drop_acc=None,
):
    """Arrow-batched per-bucket BLAS pre-sift for ``applyInPandas``:
    one numpy ``X @ X.T`` per (length-homogeneous slice of a) bucket,
    emitting the pairs whose double cosine clears ``floor_margin``
    together with both raw vectors, so the JVM can re-score the tiny
    survivor set with the order-defined exact fold. Shared by
    ``hard_negative_pairs`` (``with_labels=True``: different-label
    pairs only) and ``embedding_near_pairs`` (all pairs) — the r12
    finding-class fix (interpreted per-pair HOF dots are
    data-proportional, exponent ~0.9; the kernel is BLAS-speed and
    ships only the ~1% floor-crossing tail back to the JVM).

    Contracts mirrored from the old all-JVM candidate path so the
    surviving pair SET is identical:

    * the bucket-size cap tests the RAW bucket size (null-vector rows
      carry a real bucket key — the all-zero signature — in both
      engines, so they count toward the cap exactly as they did in
      ``bucket_pairs``); capped and singleton buckets are dropped,
      and ``drop_acc`` (an optional Spark accumulator) counts the
      capped ones so the drop is observable. The count is
      BEST-EFFORT / at-least-once: accumulators updated inside a
      transformation are re-applied on task retries and speculative
      duplicates, so it may over-count under failure or speculation —
      use the oracle-backed ``lsh_bucket_audit`` entry for exact
      corpus-level accounting;
    * null vectors are dropped AFTER the cap check — the old
      NULL-propagating folds scored such pairs to NULL, which never
      crossed the floor (r12 advice: ``map(len)`` on None raised);
    * buckets are scored per vector LENGTH group — ``zip_with``
      null-padded ragged pairs into a null fold, so cross-length
      pairs never survived (pinned by
      tests/test_round10_ops.py::..._drops_cross_length_pairs);
    * null-label rows are dropped with the null vectors — Column
      ``!=`` (and the oracle's SQL ``<>``) is null-rejecting, whereas
      numpy elementwise ``!=`` keeps None-vs-anything (r12 advice).
    """
    id_cols = ["id_a", "id_b"]
    lab_cols = ["label_a", "label_b"] if with_labels else []
    empty = pd.DataFrame(columns=id_cols + lab_cols + ["va", "vb"])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2 or n > max_bucket_size:
            if n > max_bucket_size and drop_acc is not None:
                drop_acc.add(1)
            return empty
        pdf = pdf[pdf["__v"].notna()]
        if with_labels:
            pdf = pdf[pdf["__lab"].notna()]
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        frames = []
        lens = pdf["__v"].map(len)
        for length in lens.unique():
            sub = pdf[lens == length]
            m = len(sub)
            if m < 2:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in sub["__v"]]
            )
            norms = np.sqrt(np.einsum("ij,ij->i", X, X))
            denom = np.outer(norms, norms)
            denom[denom == 0.0] = np.inf
            cos = (X @ X.T) / denom
            ia, ib = np.triu_indices(m, 1)
            keep = cos[ia, ib] >= floor_margin
            if with_labels:
                lab = sub["__lab"].to_numpy()
                keep = keep & (lab[ia] != lab[ib])
            if not keep.any():
                continue
            ia, ib = ia[keep], ib[keep]
            ids = sub["__id"].to_numpy()
            vs = sub["__v"].to_numpy()
            data = {"id_a": ids[ia], "id_b": ids[ib]}
            if with_labels:
                data["label_a"] = lab[ia]
                data["label_b"] = lab[ib]
            data["va"] = vs[ia]
            data["vb"] = vs[ib]
            frames.append(pd.DataFrame(data))
        return pd.concat(frames) if frames else empty

    return kernel


def hard_negative_pairs(
    df: DataFrame,
    label_col: str = "label",
    cosine_floor: float = 0.3,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 500,
    drop_acc=None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: the top-k
    DIFFERENT-label pairs by cosine among LSH-bucket candidates — the
    pairs a contrastive loss learns most from, mined the way
    production does it (approximate candidate generation, exact
    scoring on candidates only; recall is bounded by bucket collision
    probability, which is the accepted trade at corpus scale).

    Two-tier verify, r12 kernel form: the PRE-SIFT runs as one BLAS
    ``X @ X.T`` per bucket inside an Arrow-batched ``applyInPandas``
    (margin ``1e-9`` below the floor, different-label pairs only),
    and the order-defined JVM fold then re-scores the tiny survivor
    set exactly — the emitted cosine is the same
    ``dot/(sqrt(n2a)*sqrt(n2b))`` sequential-fold expression the
    seeded-literal SQL oracle replays, so the deterministic
    (cosine desc, id_a, id_b) top-k is still bit-exact cross-engine.
    The previous all-JVM shape evaluated the interpreted HOF dot on
    EVERY candidate pair — data-proportional cost the r12 scale probe
    measured at exponent 0.90 (5.97 s / ~8M pairs at x16-replicated
    sf0.1 vs 2.16 s for the oracle's vectorized list_inner_product);
    the kernel form does the per-pair arithmetic in numpy at BLAS
    speed and ships only floor-crossing survivors (a ~0.8% tail on
    near-random embeddings) back to the JVM. At 100 TB this is the
    production ANN-mining shape: bounded-bucket matrices (the
    ``max_bucket_size`` cap that production LSH pipelines apply
    anyway), per-bucket kernels distributed by the one bucket
    exchange, no pair materialization outside the kernel.

    Ragged/cross-length pairs: ``zip_with`` in the old HOF pre-sift
    null-padded unequal-length vectors, nulling the whole fold, so
    such pairs were silently dropped — the kernel reproduces that
    contract by grouping each bucket by vector length and scoring
    within groups only.

    Deliberately NOT spread_for_compute'd (r12, decomposed with
    tools/decompose.py): the per-ROW work here (signature) is linear
    and stays in the scan stage, while the quadratic per-PAIR work
    distributes through the bucket exchange — a pre-shuffle
    repartition is a second full exchange that bought nothing.

    Capped-bucket drops are NOT silent (r12 verdict): pass
    ``drop_acc`` (``spark.sparkContext.accumulator(0)``) to count the
    buckets dropped for exceeding ``max_bucket_size`` — read it after
    an action; run ``lsh_bucket_audit`` with the same bucketing
    params for the full corpus-level accounting (dropped buckets /
    rows / candidate pairs) as an oracle-checkable DataFrame. When
    the audit shows mass drops, the bucketing is too coarse for the
    corpus density: n_planes should scale with log2(n_rows /
    target_bucket_size) — e.g. ~2^k rows at target bucket ~500 wants
    ~k-9 planes — so raise ``n_planes`` (finer buckets, lower
    per-bucket recall cost) rather than raising the cap (quadratic
    kernel cost)."""
    planes = _hyperplanes(n_planes, dim, seed)
    b = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lab"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        bucket_signature(vec_col, planes).alias("__bucket"),
    )
    id_t = b.schema["__id"].dataType.simpleString()
    lab_t = b.schema["__lab"].dataType.simpleString()
    out_schema = (
        f"id_a {id_t}, id_b {id_t}, label_a {lab_t}, label_b {lab_t}, "
        "va array<double>, vb array<double>"
    )
    _presift = _bucket_presift_kernel(
        cosine_floor - 1e-9, max_bucket_size, with_labels=True,
        drop_acc=drop_acc,
    )
    survivors = b.groupBy("__bucket").applyInPandas(_presift, out_schema)
    # exact emitted score: the sequential-fold cosine — NOT the
    # kernel's BLAS value — to match the oracle's expression tree
    # bit-for-bit on the survivor set
    exact_cos = cosine(F.col("va"), F.col("vb"))
    return (
        survivors.select(
            "id_a", "id_b", "label_a", "label_b", exact_cos.alias("cosine")
        )
        .filter(F.col("cosine") >= cosine_floor)
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(k)
    )


def ivf_train_centroids(
    df: DataFrame,
    n_list: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 2048,
    iters: int = 5,
    spherical: bool = False,
):
    """IVF centroid lists trained driver-side with the deterministic
    scaled-integer Lloyd's (operators/int_kmeans.py) on a bounded
    hash-ordered sample. The collect is capped at ``sample_size`` rows
    regardless of corpus size (per-partition top-k under the hood), so
    training stays O(sample·n_list·dim) on the driver even at 100 TB;
    the integer centroid matrix ships to executors inside the
    closure of :func:`assign_to_centroids`.

    ``spherical=True`` projects points to the unit sphere before
    quantization (quantize_unit_np — still bit-replayable in SQL via
    sql_qdim_unit): the geometry COSINE serving needs, because raw-L2
    lists on non-normalized data cluster by norm shell and directional
    neighbors scatter across lists (the r8 review recall finding —
    measured recall@10 halved vs the spherical form). Keep the default
    (raw L2) for L2 semantics: SemDeDup's eps2 pruning, PQ's
    reconstruction, kmeans_clusters. NULL vectors are left out of the
    sample. Returns a (n_list, dim) int64 numpy array."""
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        collect_hash_ordered_sample,
        init_indices,
        int_lloyds,
        quantize_np,
        quantize_unit_np,
    )

    qz = quantize_unit_np if spherical else quantize_np
    ids, x = collect_hash_ordered_sample(
        df.filter(F.col(vec_col).isNotNull()), id_col, vec_col, sample_size
    )
    return int_lloyds(qz(x), n_list, iters, init_indices(ids, n_list))


def _assign_batch(vecs: pd.Series, C, spherical: bool = False):
    """Integer argmin of one Arrow batch of vectors against the integer
    centroid matrix ``C`` (ties to the smaller cluster id): the
    ``(cluster, d2, q)`` arrays, with -1, -1 and an empty q for a NULL
    vector. ``spherical`` quantizes on the unit sphere and must match
    the trainer's setting (``ivf_train_centroids``)."""
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        int_argmin_dists,
        quantize_np,
        quantize_unit_np,
    )

    qz = quantize_unit_np if spherical else quantize_np
    n = len(vecs)
    present = np.flatnonzero(vecs.notna().to_numpy())
    a = np.full(n, -1, dtype=np.int64)
    dd = np.full(n, -1, dtype=np.int64)
    qs = [np.empty(0, dtype=np.int64)] * n
    if len(present):
        xq = qz(np.stack(vecs.to_numpy()[present]).astype(np.float64))
        a[present], dd[present] = int_argmin_dists(xq, C)
        for i, row in zip(present, xq):
            qs[i] = row
    return a, dd, qs


def assign_to_centroids(
    df: DataFrame,
    C,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The one centroid-assignment kernel: an Arrow-batched integer
    argmin of each vector against a HELD integer centroid matrix (ties
    to the smaller cluster id), emitting ``(<id_col>, <carry_cols...>,
    cluster, d2, q)`` — the cluster, the exact integer squared L2 to
    it, and the quantized vector. Callers that do not need ``q`` drop
    it. Stateless, so it runs unchanged on a streaming DataFrame.

    The vector is checked by :func:`_vec_fits` at the centroid width,
    so a narrower row raises. A NULL vector (a document not yet
    embedded, in the admission-funnel shape) assigns to cluster -1
    with d2 -1 and an empty q: no kept member lives in cluster -1, so
    the downstream semantic gate abstains on it by construction. The
    id and carry columns keep their input names and types."""
    Cm = np.asarray(C, dtype=np.int64)
    cols = [id_col, *carry_cols]
    # project BEFORE the Arrow map: mapInPandas pins its input
    # columns, so an unpruned frame would ship every column (the
    # embeddings table's label, at 100 TB the whole row) through
    # Arrow for nothing
    df = df.select(
        *cols,
        F.when(
            _vec_fits(vec_col, id_col, Cm.shape[1], "centroid dim"),
            F.col(vec_col).cast("array<double>"),
        ).alias("__v"),
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a, dd, qs = _assign_batch(pdf["__v"], Cm)
            out = {c: pdf[c].to_numpy() for c in cols}
            out.update({"cluster": a, "d2": dd, "q": qs})
            yield pd.DataFrame(out)

    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in cols
    )
    return df.mapInPandas(
        _assign, schema=f"{schema}, cluster bigint, d2 bigint, q array<bigint>"
    )


def kmeans_clusters(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 2048,
    iters: int = 5,
) -> DataFrame:
    """Corpus-wide k-means cluster assignment — the primitive under
    semantic dedup (SemDeDup prunes within-cluster near-duplicates),
    curriculum/mixture balancing by semantic cluster, and IVF ingest
    (the assignment IS the list id written at storage time, making
    probe-time pruning partition pruning). Centroids come from the
    deterministic scaled-integer Lloyd's on a bounded hash-ordered
    sample; every vector then gets ``(cluster, d2)`` — integer argmin
    id (ties to the smaller cluster) and exact integer squared L2
    distance to its centroid — in one pass of
    :func:`assign_to_centroids`. A NULL vector gets cluster -1 and
    d2 -1; the id column keeps its input type. All-integer output, so
    the full assignment is hash-exact in the SQL replay
    (kmeans_clusters_sql)."""
    C = ivf_train_centroids(df, n_clusters, vec_col, id_col, sample_size, iters)
    return assign_to_centroids(df, C, vec_col, id_col).drop("q")


def drift_registers(
    df: DataFrame,
    C,
    side: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One side's per-cluster ``(n_<side>, __s_<side>)`` (count, sum
    d2) aggregate for :func:`drift_report` — shared by the batch drift
    operator and the streaming twin, where the arriving side's
    aggregate is the update-mode state."""
    return (
        assign_to_centroids(df, C, vec_col, id_col)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{side}"),
            F.sum("d2").cast("bigint").alias(f"__s_{side}"),
        )
    )


def embedding_ingest_drift(
    at_rest: DataFrame,
    arriving: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 2048,
    iters: int = 5,
) -> DataFrame:
    """Embedding-distribution DRIFT at ingest, per semantic region:
    train the deterministic integer k-means on the AT-REST corpus
    (the held clustering — production trains once), assign BOTH
    sides, and report per cluster how the arriving batch occupies the
    at-rest geometry — counts, exact integer mean squared distance to
    the centroid for each side, and the arriving share in milli. The
    monitoring read that closes the admission-control story: SemDeDup
    admission gives per-vector verdicts, this gives the aggregate
    health signal (a cluster whose arriving share or mean-d2 jumps is
    a shifted or degraded upstream source — retrain / re-balance
    before it pollutes the mixture).

    Verdicts depend only on at-rest state + the arriving batch (the
    incremental-family contract). Scale shape: one bounded
    hash-ordered training sample (the int_kmeans discipline), one
    Arrow argmin pass per side with the centroid matrix in the
    closure, two map-side-combinable per-cluster aggregates, one
    k-row join. All-integer output — clusters nobody occupies are
    absent; a side with no members in a cluster reports mean 0 (no
    evidence, the wordless-doc convention):
    ``(cluster, n_at_rest, n_arriving, mean_d2_at_rest,
    mean_d2_arriving, arriving_milli)``. NULL vectors on either side
    land in cluster -1 with d2 -1, so a cluster -1 row counts the
    not-yet-embedded arrivals (its mean d2 reads -1)."""
    C = ivf_train_centroids(
        at_rest, n_clusters, vec_col, id_col, sample_size, iters
    )
    return drift_report(
        drift_registers(at_rest, C, "at_rest", vec_col, id_col),
        drift_registers(arriving, C, "arriving", vec_col, id_col),
    )


def drift_report(rest_agg: DataFrame, arriving_agg: DataFrame) -> DataFrame:
    """Join the two per-cluster (count, sum d2) aggregates into the
    drift table — shared by the batch operator and the streaming twin
    (streaming/embeddings.py::streaming_drift_registers), so both
    shapes emit identical verdicts against the same oracle."""
    return (
        rest_agg.join(arriving_agg, "cluster", "full_outer")
        .select(
            F.col("cluster"),
            F.coalesce("n_at_rest", F.lit(0)).cast("bigint").alias("n_at_rest"),
            F.coalesce("n_arriving", F.lit(0)).cast("bigint").alias("n_arriving"),
            F.coalesce(
                F.expr("CAST(__s_at_rest div n_at_rest AS BIGINT)"),
                F.lit(0).cast("bigint"),
            ).alias("mean_d2_at_rest"),
            F.coalesce(
                F.expr("CAST(__s_arriving div n_arriving AS BIGINT)"),
                F.lit(0).cast("bigint"),
            ).alias("mean_d2_arriving"),
        )
        .withColumn(
            "arriving_milli",
            F.expr(
                "CAST((1000 * n_arriving) div (n_arriving + n_at_rest)"
                " AS BIGINT)"
            ),
        )
    )


def kmeans_clusters_sql(
    n_clusters: int = 16,
    dim: int = 64,
    sample_size: int = 2048,
    iters: int = 5,
) -> str:
    """DuckDB oracle for kmeans_clusters: replay the integer training
    and the full-table argmin assignment. A NULL vector stays out of
    the sample and gets cluster -1 and d2 -1, as in the Spark path."""
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        SAMPLE_SALT,
        kmeans_ctes,
        sql_md5_28,
        sql_qdim,
    )

    # built directly on the aliased column (r8 review: the former
    # .replace("vec_id", "pid") surgery worked only while the salt
    # contained no "vec_id" substring)
    samp_hash = sql_md5_28(f"'{SAMPLE_SALT}:'||pid")
    dims = ", ".join(
        f"{sql_qdim('embedding', i)} AS d{i}" for i in range(1, dim + 1)
    )
    dist_pc = " + ".join(
        f"(p.d{i}-c.d{i})*(p.d{i}-c.d{i})" for i in range(1, dim + 1)
    )
    return f"""
WITH
pts0 AS MATERIALIZED (SELECT vec_id AS pid, {dims} FROM embeddings
                      WHERE embedding IS NOT NULL),
sampids AS MATERIALIZED (SELECT pid FROM pts0
            ORDER BY {samp_hash}, pid
            LIMIT {sample_size}),
pts AS MATERIALIZED (SELECT p.* FROM pts0 p JOIN sampids USING (pid)),
{kmeans_ctes('pts', dim, n_clusters, iters, 'cents')}
SELECT pid AS vec_id, CAST(cid AS BIGINT) AS cluster,
       CAST(dd AS BIGINT) AS d2
FROM (
  SELECT p.pid, c.cid, {dist_pc} AS dd,
         row_number() OVER (PARTITION BY p.pid
                            ORDER BY {dist_pc}, c.cid) AS rn
  FROM pts0 p JOIN cents c ON TRUE) WHERE rn = 1
UNION ALL
SELECT vec_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM embeddings WHERE embedding IS NULL
"""


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_list: int = 16,
    nprobe: int = 4,
    sample_size: int = 2048,
) -> DataFrame:
    """IVF approximate top-k (the clustered-index alternative to
    ``lsh_ann_topk``): integer-k-means lists, probe the ``nprobe``
    lists whose centroids are nearest the query (integer L2 on the
    UNIT SPHERE — spherical lists, the cosine-serving geometry; ties
    to the smaller list id), exact cosine re-rank inside them.
    Expected scan fraction ≈ nprobe/n_list; recall rises with nprobe
    (nprobe = n_list degenerates to the exact scan). In a stored
    table the list id is a partition column, so probing is partition
    pruning — the non-probed ~(1-nprobe/n_list) of the corpus is
    never read."""
    from universal_importer_duckdb_spark.operators.dedup_text import spread_for_compute
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        quantize_unit_np,
    )

    rows = _search_rows(df, vec_col, id_col, len(query_vec))
    C = ivf_train_centroids(
        rows, n_list, vec_col, id_col, sample_size, spherical=True
    )
    qq = quantize_unit_np(np.asarray(query_vec, dtype=np.float64))
    qd = ((C - qq[None, :]) ** 2).sum(axis=1, dtype=np.int64)
    probe = sorted(range(len(C)), key=lambda c: (qd[c], c))[:nprobe]
    # A scalar Arrow UDF over the shared batch function, not the
    # assign_to_centroids map: the map also ships the vector and q back
    # out, and through it the entry measured slower than the parent's
    # spread (per-entry A/B at sf0.1, medians of 3 interleaved sweeps:
    # 0.393 s -> 0.536 s, parent spread 0.130 s; a three-way rerun read
    # parent 0.571 s, map 0.680 s, this UDF 0.647 s).
    @F.pandas_udf("bigint")
    def ivf_list(v: pd.Series) -> pd.Series:
        return pd.Series(_assign_batch(v, C, spherical=True)[0])

    cand = spread_for_compute(rows, id_col).filter(
        ivf_list(F.col(vec_col)).isin(probe)
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def ivf_topk_sql(
    k: int = 10,
    n_list: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    sample_size: int = 2048,
    iters: int = 5,
    sql_dot: str = "",
    sql_n2: str = "",
) -> str:
    """DuckDB oracle for emb_ivf_topk: replay the SPHERICAL integer
    k-means training (unit-normalized quantization — the same
    cosine-serving geometry the Spark path uses), full-table list
    assignment, nprobe probe selection, and the order-defined exact
    cosine re-rank + exact-top-k audit. ``sql_dot``/``sql_n2`` are the
    registry's list_reduce fold templates (bit-identical to Spark's
    F.aggregate folds). A NULL vector is never sampled nor a
    candidate, as in the Spark path."""
    from universal_importer_duckdb_spark.operators.int_kmeans import (
        SAMPLE_SALT,
        kmeans_ctes,
        sql_md5_28,
        sql_qdim_unit,
    )

    # built directly on the aliased column (r8 review: the former
    # .replace("vec_id", "pid") surgery worked only while the salt
    # contained no "vec_id" substring)
    samp_hash = sql_md5_28(f"'{SAMPLE_SALT}:'||pid")
    dims = ", ".join(
        f"{sql_qdim_unit('embedding', i)} AS d{i}" for i in range(1, dim + 1)
    )
    dist_pc = " + ".join(
        f"(p.d{i}-c.d{i})*(p.d{i}-c.d{i})" for i in range(1, dim + 1)
    )
    dist_cq = " + ".join(
        f"(c.d{i}-q.d{i})*(c.d{i}-q.d{i})" for i in range(1, dim + 1)
    )
    dot = sql_dot.format(a="e.embedding::DOUBLE[]", b="qv")
    n2v = sql_n2.format(a="e.embedding::DOUBLE[]")
    n2q = sql_n2.format(a="qv")
    return f"""
WITH
pts0 AS MATERIALIZED (SELECT vec_id AS pid, {dims} FROM embeddings
                      WHERE vec_id > 0 AND embedding IS NOT NULL),
sampids AS MATERIALIZED (SELECT pid FROM pts0
            ORDER BY {samp_hash}, pid
            LIMIT {sample_size}),
pts AS MATERIALIZED (SELECT p.* FROM pts0 p JOIN sampids USING (pid)),
{kmeans_ctes('pts', dim, n_list, iters, 'cents')},
qp AS (SELECT {dims} FROM embeddings WHERE vec_id = 0),
probe AS (SELECT c.cid FROM cents c, qp q
          ORDER BY {dist_cq}, c.cid LIMIT {nprobe}),
asg AS MATERIALIZED (SELECT pid, cid FROM (
    SELECT p.pid, c.cid,
           row_number() OVER (PARTITION BY p.pid
                              ORDER BY {dist_pc}, c.cid) AS rn
    FROM pts0 p JOIN cents c ON TRUE) WHERE rn = 1),
cand AS (SELECT pid FROM asg JOIN probe USING (cid)),
qv_t AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
topk AS (
  SELECT vec_id, cosine FROM (
    SELECT e.vec_id, {dot} / (sqrt({n2v}) * sqrt({n2q})) AS cosine
    FROM embeddings e JOIN cand ON cand.pid = e.vec_id, qv_t)
  ORDER BY cosine DESC, vec_id LIMIT {k}),
exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id, {dot} / (sqrt({n2v}) * sqrt({n2q})) AS cosine
    FROM embeddings e, qv_t
    WHERE e.vec_id > 0 AND e.embedding IS NOT NULL)
  ORDER BY cosine DESC, vec_id LIMIT {k})
SELECT t.vec_id, t.cosine,
       CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END AS in_exact_topk,
       SUM(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) OVER ()
         / {float(k)} AS recall_at_k
FROM topk t LEFT JOIN exact x ON x.vec_id = t.vec_id
"""


def embedding_near_pairs(
    df: DataFrame,
    cosine_threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 10,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 500,
    drop_acc=None,
) -> DataFrame:
    """Near-duplicate embedding pairs: bucket on the full signature,
    score within buckets, verify exact cosine. Recall is bounded by
    the probability that near vectors share all sign bits — raise
    recall by lowering n_planes or running multiple seeded
    repetitions; see ``hard_negative_pairs`` for the density-adaptive
    ``n_planes`` sizing rule and ``lsh_bucket_audit`` /``drop_acc``
    for the capped-bucket accounting.

    Two-tier verify, r13 kernel form (the r12 ``hard_negative_pairs``
    precedent ported to the all-pairs shape — the committed r13 queue
    item (a)): the PRE-SIFT runs as one BLAS ``X @ X.T`` per bucket
    inside an Arrow-batched ``applyInPandas`` (margin ``1e-9`` below
    the threshold), and the order-defined JVM fold re-scores the tiny
    survivor set exactly — the emitted cosine is the same
    ``dot/(sqrt(n2a)*sqrt(n2b))`` sequential-fold expression the
    seeded-literal SQL oracle replays, so the surviving pair set AND
    its scores stay bit-exact cross-engine (the margin dominates the
    double fold's rounding error: 64 unit-scale terms err < 1e-12
    relative). The previous shape expanded every in-bucket candidate
    pair JVM-side (``bucket_pairs``) and ran the interpreted HOF dot
    on each — data-proportional cost the r12 scale probe measured at
    exponent 0.90 on the sibling kernel; the per-bucket matrix form
    does the per-pair arithmetic at BLAS speed and ships only the
    floor-crossing survivors (a ~1% tail on near-random embeddings)
    back to the JVM. At 100 TB this is the production near-dup shape:
    bounded-bucket matrices distributed by the one bucket exchange,
    no pair materialization outside the kernel.

    Null / ragged contracts (identical to the old NULL-propagating
    fold path — see ``_bucket_presift_kernel``): null vectors count
    toward the bucket cap but never pair; cross-length pairs are
    dropped by per-length grouping.

    Deliberately NOT spread_for_compute'd (the r12 decomposition on
    the sibling kernel): the linear per-row signature stays in the
    scan stage and the quadratic per-pair work distributes through
    the bucket exchange."""
    planes = _hyperplanes(n_planes, dim, seed)
    b = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        bucket_signature(vec_col, planes).alias("__bucket"),
    )
    id_t = b.schema["__id"].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, va array<double>, vb array<double>"
    kernel = _bucket_presift_kernel(
        cosine_threshold - 1e-9, max_bucket_size, with_labels=False,
        drop_acc=drop_acc,
    )
    survivors = b.groupBy("__bucket").applyInPandas(kernel, out_schema)
    va, vb = F.col("va"), F.col("vb")
    return (
        survivors.select("id_a", "id_b", cosine(va, vb).alias("cosine"))
        .filter(F.col("cosine") >= cosine_threshold)
    )


def lsh_bucket_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Corpus-level accounting for the LSH bucket-size cap that
    ``hard_negative_pairs`` / ``embedding_near_pairs`` apply: one row
    with the bucket count, the largest bucket, and — for buckets over
    ``max_bucket_size`` — how many buckets, rows, and candidate pairs
    the cap silently removes from the candidate set. Run it with the
    SAME (n_planes, seed, dim, max_bucket_size) as the mining query
    ("no silent caps": the drop becomes a number an operator alerts
    on, the way SemDeDup's max_cluster_size raises actionably).

    Reading it: ``n_dropped_rows`` near ``n_rows`` means the bucketing
    is too coarse for the corpus density — raise ``n_planes``
    (buckets halve per plane; target n_rows / 2^n_planes ≈
    max_bucket_size/2) rather than the cap, whose kernel cost is
    quadratic. Cost: one map-side-combinable count per bucket + a
    one-row reduce — strictly cheaper than the mining query itself,
    so it can run as a pre-flight on every corpus."""
    planes = _hyperplanes(n_planes, dim, seed)
    g = (
        df.select(bucket_signature(vec_col, planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    over = F.col("n") > max_bucket_size
    z = F.lit(0).cast("bigint")
    return g.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint")
        .alias("n_dropped_buckets"),
        F.sum(F.when(over, F.col("n")).otherwise(z)).cast("bigint")
        .alias("n_dropped_rows"),
        F.sum(
            F.when(over, (F.col("n") * (F.col("n") - 1)).cast("bigint"))
            .otherwise(z)
        ).cast("bigint").alias("n_dropped_candidate_pairs_x2"),
    ).select(
        "n_buckets",
        "n_rows",
        "max_bucket",
        "n_dropped_buckets",
        "n_dropped_rows",
        # integer DIV: n*(n-1) is always even, and a double division
        # would lose exactness past 2^53 candidate pairs
        F.expr("n_dropped_candidate_pairs_x2 DIV 2")
        .alias("n_dropped_candidate_pairs"),
    )


def knn_join_exact(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-9,
) -> DataFrame:
    """EXACT k-nearest-neighbor self-join by cosine: for every vector,
    its top-k neighbors (excluding itself), deterministic ties by
    neighbor id. The all-pairs baseline that (a) deduplicates against
    a bounded reference set and (b) serves as the recall oracle for
    the approximate paths (ann_lsh_topk / ivf_topk are the corpus-
    scale substitutes — an n^2 exact join does NOT scale past a
    broadcastable right side, and says so here rather than pretending).

    Two-phase exactness (same margin argument as hard_negative_pairs):

    * Phase 1 — candidate generation in numpy: the reference matrix is
      collected ONCE (bounded-broadcast contract, <= ~1M vectors),
      row-normalized in double, and each Arrow batch of the streaming
      side does one BLAS GEMM against it. Per row, every candidate
      within ``margin`` of the k-th best double cosine is emitted —
      double error over a 64-term dot is ~1e-13, far inside the 1e-9
      margin, so the true exact top-k always survives.
    * Phase 2 — the survivors (k + ties per row, not n) are re-scored
      JVM-side with ORDER-DEFINED double left folds and ranked
      (cosine DESC, id). The oracle replays the identical fold order
      via list_reduce, so scores are bit-identical WITHOUT the
      double->DECIMAL cast — that cast's round-half mode differs
      between engines on boundary values (observed on this table's
      norms: 1.0000000268674 vs ...73), so the DECIMAL idiom the
      pairwise ops use is NOT safe when every vector's norm is
      touched; a defined-order double fold has no rounding step at
      all.

    The neighbor and query ids keep the input id type.
    """
    ref_rows = df.select(id_col, vec_col).collect()
    ref_ids = np.array([r[0] for r in ref_rows], dtype=np.int64)
    ref = np.array([r[1] for r in ref_rows], dtype=np.float64)
    norms = np.sqrt((ref * ref).sum(axis=1))
    norms[norms == 0] = 1e-300
    ref_n = ref / norms[:, None]
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ref_ids)
    b_ref = spark.sparkContext.broadcast(ref_n)
    kk, mg = k, margin

    def _candidates(batches):
        rids, rmat = b_ids.value, b_ref.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            qn = np.sqrt((q * q).sum(axis=1))
            qn[qn == 0] = 1e-300
            sims = (q / qn[:, None]) @ rmat.T
            out_q, out_c, out_s = [], [], []
            qids = pdf[id_col].to_numpy()
            for i in range(len(pdf)):
                row = sims[i]
                self_mask = rids == qids[i]
                row = np.where(self_mask, -np.inf, row)
                n_cand = min(kk, row.size - int(self_mask.sum()))
                if n_cand <= 0:
                    continue
                kth = np.partition(row, -n_cand)[-n_cand]
                keep = np.flatnonzero(row >= kth - mg)
                out_q.extend([qids[i]] * len(keep))
                out_c.extend(rids[keep])
                out_s.extend(row[keep])
            yield pd.DataFrame(
                {"q_id": out_q, "cand_id": out_c, "dcos": out_s}
            )

    # project before the Arrow map (mapInPandas pins its input
    # columns — don't ship label/metadata through Arrow)
    id_t = df.schema[id_col].dataType.simpleString()
    cands = df.select(id_col, vec_col).mapInPandas(
        _candidates, schema=f"q_id {id_t}, cand_id {id_t}, dcos double"
    )

    vd = F.col(vec_col).cast("array<double>")
    payload = df.select(
        F.col(id_col).alias("__pid"),
        F.struct(
            vd.alias("v"),
            _norm2_double(vd).alias("n2"),
        ).alias("__pl"),
    )
    joined = (
        cands.join(
            payload.select(
                F.col("__pid").alias("q_id"), F.col("__pl").alias("pa")
            ),
            "q_id",
        )
        .join(
            payload.select(
                F.col("__pid").alias("cand_id"), F.col("__pl").alias("pb")
            ),
            "cand_id",
        )
        .withColumn(
            "cosine",
            _dot_double(F.col("pa.v"), F.col("pb.v"))
            / (F.sqrt(F.col("pa.n2")) * F.sqrt(F.col("pb.n2"))),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias(id_col),
            F.col("cand_id").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "cosine",
        )
    )
