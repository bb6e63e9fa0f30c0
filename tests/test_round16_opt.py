"""Round-16 optimization invariants: the simhash pair-expansion Arrow
kernel must equal a brute-force Python reference over the same
fingerprints, and the batch-dedup fingerprint kernel must be
bit-identical to the column-expression form ``simhash_fp_columns``
(every kernel keeps a live differential oracle on real data), and the q9 flat-broadcast revision must keep its exact fixed-point
semantics (covered by tests/test_oracle_parity.py; the plan-shape
claim lives in plans/r16)."""

from __future__ import annotations

import collections
import itertools

import pytest
from pyspark.sql import functions as F


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def _bruteforce_pairs(docs, max_hamming, max_bucket_size=200):
    """Reference for ``simhash_near_pairs_portable`` given its
    fingerprints: group the collected (fp_lo, fp_hi) by (chunk, 16-bit
    key), drop buckets outside [2, max_bucket_size], and keep the
    distinct (min id, max id, hamming) pairs within max_hamming."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_32x2_portable,
    )

    buckets = collections.defaultdict(list)
    for i, lo, hi in simhash_32x2_portable(docs).collect():
        for c, key in enumerate((lo, lo >> 16, hi, hi >> 16)):
            buckets[(c, key & 0xFFFF)].append((i, lo, hi))
    out = set()
    for members in buckets.values():
        if not 2 <= len(members) <= max_bucket_size:
            continue
        for (a, la, ha), (b, lb, hb) in itertools.combinations(members, 2):
            h = bin(la ^ lb).count("1") + bin(ha ^ hb).count("1")
            if h <= max_hamming:
                out.add((min(a, b), max(a, b), h))
    return sorted(out)


def test_simhash_pair_kernel_matches_bruteforce_on_real_data(spark, sf_dir):
    """Full row-set equality (ids, hamming, multiplicity) between the
    Arrow pair kernel and the brute-force reference on the real
    certification corpus."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_near_pairs_portable,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kern = _pairs(simhash_near_pairs_portable(docs, max_hamming=8))
    assert kern == _bruteforce_pairs(docs, 8) and len(kern) > 0


def test_simhash_pair_kernel_hamming_boundary(spark):
    """Pairs at exactly max_hamming survive; max_hamming+1 is cut.
    Fingerprints are forced through the real text pipeline by crafting
    doc pairs with identical token sets except a controlled
    difference."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_near_pairs_portable,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    rows = [
        (1, base),
        (2, base),                       # hamming 0 twin
        (3, base + " omega omega"),      # small perturbation
        (4, "totally different words " * 16),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for h in (0, 8):
        kern = _pairs(simhash_near_pairs_portable(docs, max_hamming=h))
        assert kern == _bruteforce_pairs(docs, h)
        assert all(r[2] <= h for r in kern)
    assert (1, 2, 0) in _pairs(simhash_near_pairs_portable(docs, max_hamming=0))


def test_simhash_pair_kernel_null_text_and_dup_fps(spark):
    """NULL text fingerprints like '' (the kernel's None -> "" rule);
    many identical fingerprints in one bucket expand to all C(m,2)
    pairs."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_near_pairs_portable,
    )

    same = "one two three four five six seven eight"
    rows = [(i, same) for i in range(1, 6)] + [(6, None), (7, None)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    kern = _pairs(simhash_near_pairs_portable(docs, max_hamming=8))
    assert kern == _bruteforce_pairs(docs, 8)
    # the 5 identical docs yield all 10 pairs at hamming 0
    assert sum(1 for a, b, h in kern if a <= 5 and b <= 5 and h == 0) == 10
    # the two null-text docs pair with each other
    assert (6, 7, 0) in kern


def test_simhash_pair_kernel_bounded_passes_match_bruteforce(
    spark, monkeypatch
):
    """Skew: many 200-member buckets (the max_bucket_size cap) in one
    Arrow batch, smaller perturbed buckets, and an all-null-text
    group, with the pair budget set below two 200-member buckets so
    every such size class splits into one-bucket passes. The output
    must still equal the brute-force reference."""
    from universal_importer_duckdb_spark.operators import dedup_text

    monkeypatch.setattr(dedup_text, "_PAIR_BUDGET", 25_000)
    rows = []
    for g in range(6):
        text = " ".join(f"g{g}w{k}" for k in range(30))
        rows += [(g * 1000 + j, text) for j in range(200)]
    for g in (6, 7):
        text = " ".join(f"g{g}w{k}" for k in range(30))
        rows += [(g * 1000 + j, f"{text} v{j}") for j in range(120)]
    rows += [(9000 + j, None) for j in range(150)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    kern = _pairs(dedup_text.simhash_near_pairs_portable(docs, max_hamming=8))
    assert kern == _bruteforce_pairs(docs, 8)
    assert len(kern) >= 6 * (200 * 199 // 2)

    nulls = spark.createDataFrame(
        [(j, None) for j in range(200)], "doc_id bigint, text string"
    )
    got = _pairs(dedup_text.simhash_near_pairs_portable(nulls, max_hamming=8))
    assert got == _bruteforce_pairs(nulls, 8) and len(got) == 200 * 199 // 2


def test_simhash_pair_kernel_ids_keep_input_type(spark):
    """int, bigint and string ids all enter the kernel and come back
    as id_a/id_b of their own type, ordered id_a < id_b by that type's
    ordering (strings lexicographically: "10" < "9"). A null id pairs
    with nothing."""
    from pyspark.sql import types as T

    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_near_pairs_portable,
    )

    same = "one two three four five six seven eight"
    cases = {
        "int": ([9, 10, None, 2], {(2, 9, 0), (2, 10, 0), (9, 10, 0)}),
        "bigint": ([9, 10, None, 2], {(2, 9, 0), (2, 10, 0), (9, 10, 0)}),
        "string": (["9", "10", None, "2"],
                   {("10", "2", 0), ("10", "9", 0), ("2", "9", 0)}),
    }
    for id_type, (ids, expected) in cases.items():
        docs = spark.createDataFrame(
            [(i, same) for i in ids], f"doc_id {id_type}, text string"
        )
        out = simhash_near_pairs_portable(docs, max_hamming=8)
        want = docs.schema["doc_id"].dataType
        assert out.schema["id_a"].dataType == want, id_type
        assert out.schema["id_b"].dataType == want, id_type
        assert out.schema["hamming"].dataType == T.IntegerType()
        assert {tuple(r) for r in out.collect()} == expected, id_type


def test_simhash_fp_kernel_token_dedup_edge_cases(spark):
    """The batch-dedup fingerprint kernel vs the column-expression
    form (``simhash_fp_columns``) on adversarial token shapes: empty
    string, single token repeated, consecutive spaces (empty tokens),
    null text."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_32x2_portable,
        simhash_fp_columns,
    )

    rows = [
        (1, ""),
        (2, None),
        (3, "x"),
        (4, "x x x x"),
        (5, "a  b"),          # consecutive spaces: '' is a token
        (6, "unique tokens only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {r.doc_id: (r.fp_lo, r.fp_hi)
         for r in simhash_32x2_portable(docs).collect()}
    b = {r.doc_id: (r.fp_lo, r.fp_hi)
         for r in simhash_fp_columns(docs).collect()}
    assert a == b and len(a) == 6
    # null text and empty text share the [''] token list -> same fp
    assert a[1] == a[2]


def test_containment_hashed_blocking_still_lossless(spark):
    """r16 hashed-gram blocking (xxhash64 at the map): planted
    containment pairs must still be found exactly — the rare pick may
    change, the verified output may not. Exercises >=7-token
    containees, a too-short containee (excluded by contract), and
    mutual containment (one removable side)."""
    from universal_importer_duckdb_spark.operators.containment import (
        containment_dedup_pairs,
    )

    inner = "one two three four five six seven eight nine"
    rows = [
        (1, inner),
        (2, f"prefix words {inner} suffix words"),        # contains 1
        (3, f"{inner} trailing"),                          # contains 1
        (4, "tiny doc"),                                   # too short
        (5, inner),                                        # equal text to 1
        (6, "unrelated content that matches nothing at all here ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {tuple(r) for r in containment_dedup_pairs(docs).collect()}
    assert (1, 2) in got and (1, 3) in got
    assert (5, 2) in got and (5, 3) in got
    # equal-text mutual containment keeps exactly the larger-id side
    assert (5, 1) in got and (1, 5) not in got
    assert not any(a == 4 or b == 4 for a, b in got)
    assert not any(a == 6 or b == 6 for a, b in got)


def test_popcnt16_lut_is_exact():
    import numpy as np

    from universal_importer_duckdb_spark.operators.dedup_text import (
        _POPCNT16,
    )

    vals = np.array([0, 1, 0xFFFF, 0x8000, 0x5555, 0x1234], dtype=np.int64)
    want = [bin(int(v)).count("1") for v in vals]
    assert list(_POPCNT16[vals]) == want
    assert len(_POPCNT16) == 1 << 16
