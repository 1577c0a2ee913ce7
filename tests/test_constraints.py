"""constraints.py — Hive-3-shaped NOT NULL / CHECK ENFORCED write
gate + informational (RELY NOVALIDATE) key constraints: one-pass
validation counts, SQL three-valued CHECK semantics, and the
reject-before-write contract."""

from __future__ import annotations

import pytest

from layer_apache_hive_spark.constraints import (
    Constraint,
    ConstraintViolation,
    check,
    enforce,
    not_null,
    primary_key,
    violation_counts,
)


def _batch(spark):
    # k=3 duplicated (both rows CHECK-clean); k=5 violates CHECK;
    # one NULL key; v NULL on k=2 (CHECK must pass: three-valued)
    return spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 7.0), (3, 8.0), (5, -5.0),
         (None, 1.0)],
        "k int, v double",
    )


CONS = [
    not_null("nn_k", "k"),
    check("ck_v_pos", "v > 0"),
    primary_key("pk_k", "k"),
]


def test_violation_counts_one_pass(spark):
    got = {
        r.constraint_name: (r.kind, r.enforced, r.n_checked, r.n_violations)
        for r in violation_counts(_batch(spark), CONS).collect()
    }
    assert got["nn_k"] == ("NOT NULL", True, 6, 1)  # the NULL key row
    # CHECK is three-valued: v IS NULL passes; only -5.0 violates
    assert got["ck_v_pos"] == ("CHECK", True, 6, 1)
    # PK: one duplicate slot (3,3) + one NULL key part; informational
    assert got["pk_k"] == ("PRIMARY KEY", False, 6, 2)


def test_enforce_rejects_dirty_and_names_constraints(spark):
    with pytest.raises(ConstraintViolation) as ei:
        enforce(_batch(spark), CONS)
    msg = str(ei.value)
    assert "nn_k" in msg and "ck_v_pos" in msg
    # informational PK must NOT block the write (RELY NOVALIDATE)
    assert "pk_k" not in msg


def test_enforce_passes_clean_and_skips_informational(spark):
    clean = _batch(spark).filter("k IS NOT NULL AND (v IS NULL OR v > 0)")
    # still contains the duplicate key 3 — informational PK lets it by
    assert enforce(clean, CONS).count() == 4
    # but an ENFORCED primary key rejects the same batch
    with pytest.raises(ConstraintViolation):
        enforce(clean, [primary_key("pk_k", "k", enforced=True)])


def test_unknown_kind_raises(spark):
    bad = Constraint("x", "FOREIGN KEY", cols=("k",))
    with pytest.raises(ValueError):
        violation_counts(_batch(spark), [bad]).collect()
