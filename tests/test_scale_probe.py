"""Unit tests for tools/scale_probe.py's pure parts: the exponent
fit, the per-table replication SQL, and the artifact merge. The probe
itself (Spark + DuckDB at x4/x16) runs out-of-band — these pin the
arithmetic the README's scale adjudications cite."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools"),
)

from scale_probe import (  # noqa: E402
    DEFAULT_ENTRIES,
    DOMAINS,
    KEY_SHIFTS,
    TABLES,
    _copy_expr,
    _fit_exponent,
)


def test_fit_exponent_linear():
    # t = c * s  ->  slope 1 in log-log
    assert abs(_fit_exponent([1, 4, 16], [0.2, 0.8, 3.2]) - 1.0) < 1e-9


def test_fit_exponent_flat():
    assert abs(_fit_exponent([1, 4, 16], [0.5, 0.5, 0.5])) < 1e-9


def test_fit_exponent_quadratic():
    assert abs(_fit_exponent([1, 2, 4], [1.0, 4.0, 16.0]) - 2.0) < 1e-9


def test_fit_exponent_single_point_is_nan():
    assert math.isnan(_fit_exponent([4], [1.0]))


def test_every_table_has_key_shifts():
    assert set(KEY_SHIFTS) == set(TABLES)
    for table, shifts in KEY_SHIFTS.items():
        for col, dom in shifts:
            assert dom in DOMAINS, (table, col, dom)


def test_copy_expr_shifts_keys_and_transforms_payloads():
    offs = {d: 1000 for d in DOMAINS}
    doc = _copy_expr("documents", offs)
    assert "doc_id + c * 1000 AS doc_id" in doc
    assert "translate(text" in doc  # gram-disjoint copies
    emb = _copy_expr("embeddings", offs)
    assert "vec_id + c * 1000 AS vec_id" in emb
    assert "embedding[" in emb  # cyclic shift
    li = _copy_expr("lineitem", offs)
    # FK columns shift by the REFERENCED domain's offset
    assert "l_orderkey + c * 1000 AS l_orderkey" in li
    assert "l_partkey + c * 1000 AS l_partkey" in li


def test_copy_expr_identity_at_copy_zero_documents():
    """Copy 0 must reproduce the base table exactly: rotation by
    c%26=0 is the identity translate and key shift adds 0."""
    import duckdb

    offs = {d: 7 for d in DOMAINS}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 5::BIGINT AS doc_id, "
                "'hello world'::VARCHAR AS text, 'en' AS lang")
    row = con.execute(
        _copy_expr("documents", offs)
        + " FROM documents CROSS JOIN (SELECT 0::BIGINT AS c)"
    ).fetchone()
    # the copy-index column c must NOT leak into the output
    assert row == (5, "hello world", "en")
    # copy 1 rotates letters and shifts the key
    row1 = con.execute(
        _copy_expr("documents", offs)
        + " FROM documents CROSS JOIN (SELECT 1::BIGINT AS c)"
    ).fetchone()
    assert row1[0] == 12 and row1[1] == "ifmmp xpsme"


def test_default_entries_are_registered():
    from universal_importer_duckdb_spark.entry_queries import REGISTRY

    for name in DEFAULT_ENTRIES:
        assert name in REGISTRY, name

# ---------------------------------------------------------------------------
# r15 pass-median regime (VERDICT r14 #1): cells are medians of the
# last PASS_KEEP recorded passes, legacy scalars seed the history, and
# a single hot pass can no longer flip ratio_last across the 2.0x bar.

from scale_probe import PASS_KEEP, merge_passes  # noqa: E402


def test_merge_passes_seeds_from_legacy_scalar():
    prior = {"spark": {"1": 0.5, "16": 1.2}}
    passes, cells = merge_passes(prior, "spark", {16: 1.4})
    assert passes[1] == [0.5]          # untouched cell keeps its seed
    assert passes[16] == [1.2, 1.4]    # scalar seeded, new pass appended
    assert cells[1] == 0.5
    assert cells[16] == round((1.2 + 1.4) / 2, 3)


def test_merge_passes_prefers_history_over_scalar():
    # once a history exists, the derived scalar cell must NOT re-seed
    prior = {"spark": {"4": 9.9}, "spark_passes": {"4": [0.4, 0.6]}}
    passes, cells = merge_passes(prior, "spark", {4: 0.5})
    assert passes[4] == [0.4, 0.6, 0.5]
    assert cells[4] == 0.5


def test_merge_passes_truncates_to_keep():
    prior = {"spark_passes": {"1": [1.0] * PASS_KEEP}}
    passes, _ = merge_passes(prior, "spark", {1: 2.0})
    assert len(passes[1]) == PASS_KEEP
    assert passes[1][-1] == 2.0


def test_merge_passes_median_damps_one_hot_pass():
    # the q5 scenario: oracle read 0.71, 0.71, then one hot 2.37 pass —
    # the cell must stay at the quiet majority, not jump 3x
    prior = {"oracle_passes": {"64": [0.71, 0.71]}}
    _, cells = merge_passes(prior, "oracle", {64: 2.37})
    assert cells[64] == 0.71


def test_merge_passes_empty_new_times_is_identity_on_cells():
    prior = {"oracle": {"1": 0.3}, "oracle_passes": {"1": [0.3, 0.4]}}
    passes, cells = merge_passes(prior, "oracle", {})
    assert passes[1] == [0.3, 0.4]
    assert cells[1] == round((0.3 + 0.4) / 2, 3)


def test_build_row_empty_series_is_strict_json():
    # --side oracle on an entry with no stored Spark history: the
    # Spark series is empty and its exponent undefined. The row must
    # carry null there (never NaN) so SCALE_PROBE.json stays strict
    # JSON; a single-scale oracle series likewise has no exponent.
    import json

    from scale_probe import build_row

    row = build_row({}, {}, {1: 0.25})
    assert row["spark_exp"] is None and row["oracle_exp"] is None
    assert "ratio_last" not in row
    json.dumps(row, allow_nan=False)
    json.dumps(build_row({}, {}, {}), allow_nan=False)
    full = build_row({}, {1: 0.5, 4: 2.0}, {1: 0.25, 4: 0.5})
    assert full["spark_exp"] == 1.0 and full["ratio_last"] == 4.0
    json.dumps(full, allow_nan=False)
