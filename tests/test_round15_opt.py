"""Round-15 optimization regression tests.

Each test pins an operator whose INTERNALS changed this round for
performance, by asserting the optimized form is value-identical to the
form it replaced (the replaced form stays in the codebase for the
streaming twins, so the comparison is live, not archived)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_admission_kernel_matches_join_form(spark, sf_dir):
    """The per-cluster integer-GEMM admission kernel (r15,
    _admit_against_kept_kernel) must produce the exact row set of the
    zip_with/aggregate join form it replaced in the batch path — same
    vec_id/cluster/d2/nn_d2/admitted, including clusters with no kept
    member (nn_d2 = -1, admitted)."""
    from universal_importer_duckdb_spark.operators.similarity import (
        assign_to_centroids,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        EPS2_DEFAULT,
        _admit_against_kept,
        _admit_against_kept_kernel,
        at_rest_artifacts,
        ingest_split,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    at_rest, arriving = ingest_split(emb)
    C, kept_q = at_rest_artifacts(at_rest)
    kq = kept_q.localCheckpoint()
    assigned = assign_to_centroids(arriving, C)
    old = _rows(_admit_against_kept(assigned, kq, EPS2_DEFAULT))
    new = _rows(_admit_against_kept_kernel(assigned, kq, EPS2_DEFAULT))
    assert len(new) > 0
    assert new == old


def test_admission_kernel_null_vector_abstains(spark):
    """Arrivals with a NULL vector assign to cluster -1 (empty q);
    the kernel must admit them with nn_d2 = -1 — same abstain
    semantics as the join form — and never touch their empty q
    through the GEMM path."""
    from universal_importer_duckdb_spark.operators.similarity import (
        assign_to_centroids,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        EPS2_DEFAULT,
        _admit_against_kept,
        _admit_against_kept_kernel,
        at_rest_artifacts,
    )

    dim = 64
    rest = spark.createDataFrame(
        [(i, [float(i % 7) / 7.0] * dim) for i in range(1, 31)],
        "vec_id bigint, embedding array<double>",
    )
    arr = spark.createDataFrame(
        [(100, [0.5] * dim), (101, None)],
        "vec_id bigint, embedding array<double>",
    )
    C, kept_q = at_rest_artifacts(rest, n_clusters=2, sample_size=30, iters=2)
    kq = kept_q.localCheckpoint()
    assigned = assign_to_centroids(arr, C)
    old = _rows(_admit_against_kept(assigned, kq, EPS2_DEFAULT))
    new = _rows(_admit_against_kept_kernel(assigned, kq, EPS2_DEFAULT))
    assert new == old
    null_row = [r for r in new if r[0] == 101]
    assert null_row and null_row[0][1] == -1  # cluster -1
    assert null_row[0][3] == -1 and null_row[0][4] is True  # nn_d2, admitted


def test_int_gemm_exact_is_bit_exact_at_bounds():
    """The float64-BLAS fast path must equal int64 matmul bit-for-bit
    at the adversarial edge of its proof: entries at the quantize
    contract's maximum (2^22 - 1) and the full 512-dim bound where a
    row dot reaches its 2^53 ceiling — plus the over-bound fallback."""
    import numpy as np

    from universal_importer_duckdb_spark.operators.int_kmeans import (
        _F64_EXACT_MAX_DIM,
        int_gemm_exact,
    )

    top = (1 << 22) - 1
    rng = np.random.default_rng(15)
    # worst case: every entry at the max, d at the bound — the dot is
    # d * top^2, within 2^53 by the proof, and must round-trip exactly
    A = np.full((3, _F64_EXACT_MAX_DIM), top, dtype=np.int64)
    assert np.array_equal(int_gemm_exact(A, A), A @ A.T)
    # random in-contract matrices at d=64 (the embeddings dim)
    B = rng.integers(1, top, size=(50, 64), dtype=np.int64)
    C = rng.integers(1, top, size=(40, 64), dtype=np.int64)
    assert np.array_equal(int_gemm_exact(B, C), B @ C.T)
    # beyond the provable dim bound: the helper must take the int64
    # path (same result by construction; this pins the gate exists)
    D = rng.integers(1, top, size=(4, _F64_EXACT_MAX_DIM + 1), dtype=np.int64)
    assert np.array_equal(int_gemm_exact(D, D), D @ D.T)


def test_int_argmin_dists_matches_broadcast_form():
    """The norm-expansion GEMM form of int_argmin_dists must reproduce
    the broadcast-subtract definition exactly — assignments AND
    distances, including first-minimum tie-breaks on equidistant
    centroids."""
    import numpy as np

    from universal_importer_duckdb_spark.operators.int_kmeans import (
        int_argmin_dists,
    )

    rng = np.random.default_rng(7)
    xq = rng.integers(1, 1 << 22, size=(500, 64), dtype=np.int64)
    cent = rng.integers(1, 1 << 22, size=(16, 64), dtype=np.int64)
    # plant exact ties: two identical centroids — argmin must pick the
    # smaller index, as the SQL ORDER BY dist, cid does
    cent[9] = cent[3]
    a, dd = int_argmin_dists(xq, cent)
    ref = ((xq[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2, dtype=np.int64)
    assert np.array_equal(a, ref.argmin(axis=1))
    assert np.array_equal(dd, ref[np.arange(len(xq)), ref.argmin(axis=1)])
    assert not (a == 9).any()  # ties resolve to centroid 3


def test_admission_kernel_guard_fires(spark):
    """The kernel inherits the bounded-cluster contract: an
    over-large cluster fails with the actionable max_cluster_size
    error instead of shipping an unbounded group into memory."""
    from pyspark.errors.exceptions.captured import PythonException

    from universal_importer_duckdb_spark.operators.similarity import (
        assign_to_centroids,
    )
    from universal_importer_duckdb_spark.operators.semdedup import (
        EPS2_DEFAULT,
        _admit_against_kept_kernel,
        at_rest_artifacts,
    )

    dim = 64
    rest = spark.createDataFrame(
        [(i, [0.1] * dim) for i in range(1, 9)],
        "vec_id bigint, embedding array<double>",
    )
    arr = spark.createDataFrame(
        [(100 + i, [0.1] * dim) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    C, kept_q = at_rest_artifacts(
        rest, n_clusters=1, sample_size=8, iters=1, max_cluster_size=None
    )
    out = _admit_against_kept_kernel(
        assign_to_centroids(arr, C), kept_q, EPS2_DEFAULT, max_cluster_size=3
    )
    with pytest.raises(PythonException, match="max_cluster_size"):
        out.collect()
