"""One contract for the embedding-search family.

- Every single-query top-k path ends in ``cosine_topk`` and reads its
  vectors through ``similarity._search_rows``: a vector narrower than
  the query raises ``embedding narrower than ...`` wherever the path
  touches it, and a NULL vector is never a candidate.
- The one assignment kernel (``similarity.assign_to_centroids``) puts
  a NULL vector in cluster -1 with d2 -1, and the id column keeps its
  input type through ``kmeans_clusters``, ``ivf_topk`` and
  ``knn_join_exact``.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

DIM = 8
N_GOOD = 10
K = 20  # above the corpus size: a NULL row would show up if it were a candidate


def _corpus(spark, extra, id_type="bigint"):
    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(DIM)])
        for i in range(1, N_GOOD + 1)
    ]
    return spark.createDataFrame(
        rows + extra, f"vec_id {id_type}, embedding array<double>"
    )


def _paths():
    from universal_importer_duckdb_spark.operators import similarity as s

    return {
        "cosine_topk": lambda df, q: s.cosine_topk(df, q, k=K),
        "two_phase": lambda df, q: s.cosine_topk_two_phase(df, q, k=K),
        "two_phase_size_hint": lambda df, q: s.cosine_topk_two_phase(
            df, q, k=K, size_hint=N_GOOD + 1
        ),
        "lsh_ann_topk": lambda df, q: s.lsh_ann_topk(
            df, q, k=K, n_planes=2, max_probe_hamming=2
        ),
        "ivf_topk": lambda df, q: s.ivf_topk(df, q, k=K, n_list=2, nprobe=2),
        "sign_hamming_topk": lambda df, q: s.sign_hamming_topk(
            df, q, k=K, n_candidates=K
        ),
        "matryoshka_recall": lambda df, q: s.matryoshka_recall(
            df, q, dims=(4, DIM), k=K
        ),
    }


@pytest.mark.parametrize("path", sorted(_paths()))
def test_topk_paths_share_bad_vector_contract(spark, path):
    run = _paths()[path]
    q = [0.25 * (i + 1) * (-1) ** i for i in range(DIM)]

    ragged = _corpus(spark, [(N_GOOD + 1, [0.5] * (DIM // 2))])
    with pytest.raises(Exception, match="embedding narrower than"):
        run(ragged, q).collect()

    rows = run(_corpus(spark, [(N_GOOD + 1, None)]), q).collect()
    if path == "matryoshka_recall":
        # every tier ranks exactly the N_GOOD non-NULL rows
        assert {(r.dim, r.n_overlap) for r in rows} == {
            (4, N_GOOD), (DIM, N_GOOD)
        }
    else:
        assert sorted(r.vec_id for r in rows) == list(range(1, N_GOOD + 1))
        assert all(r.cosine is not None for r in rows)


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_assignment_null_and_id_type_contract(spark, id_type):
    from universal_importer_duckdb_spark.operators.similarity import (
        assign_to_centroids,
        embedding_ingest_drift,
        ivf_topk,
        kmeans_clusters,
        knn_join_exact,
    )

    null_id = N_GOOD + 1
    df = _corpus(spark, [(null_id, None)], id_type)
    good = df.filter("embedding IS NOT NULL")
    q = [0.1 * (i + 1) for i in range(DIM)]

    km = kmeans_clusters(df, n_clusters=2, sample_size=64, iters=2)
    assert km.schema["vec_id"].dataType.simpleString() == id_type
    by_id = {r.vec_id: (r.cluster, r.d2) for r in km.collect()}
    assert by_id[null_id] == (-1, -1)
    assert len(by_id) == N_GOOD + 1
    assert all(c >= 0 and d >= 0 for i, (c, d) in by_id.items() if i != null_id)

    # the assignment checks the centroid width, not a query's
    narrow = _corpus(spark, [(null_id, [0.5] * (DIM // 2))], id_type)
    C = np.zeros((2, DIM), dtype=np.int64)
    with pytest.raises(Exception, match=rf"narrower than the centroid dim \({DIM}\)"):
        assign_to_centroids(narrow, C).collect()

    drift = {
        r.cluster: r
        for r in embedding_ingest_drift(
            good, df.filter(f"vec_id > {N_GOOD - 3}"), n_clusters=2,
            sample_size=64, iters=2,
        ).collect()
    }
    assert drift[-1].n_arriving == 1 and drift[-1].mean_d2_arriving == -1
    assert drift[-1].n_at_rest == 0

    ivf = ivf_topk(good, q, k=3, n_list=2, nprobe=1)
    assert ivf.schema["vec_id"].dataType.simpleString() == id_type
    assert ivf.count() > 0

    knn = knn_join_exact(good, k=2)
    assert knn.schema["vec_id"].dataType.simpleString() == id_type
    assert knn.schema["neighbor_id"].dataType.simpleString() == id_type
    assert knn.count() == 2 * N_GOOD
