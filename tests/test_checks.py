"""Data-quality check layer (the dbt-tests capability the reference
declares but leaves empty — SURVEY §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ytspark import checks
from ytspark.session import load_tables


def test_testdata_contract_checks_pass(spark, sf_dir):
    """The driver testdata satisfies the schema.yml-shaped contract."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    results = checks.run_checks(
        t["orders"],
        {
            "not_null": ["o_orderkey", "o_custkey", "o_orderdate"],
            "unique": [["o_orderkey"]],
            "accepted_values": {"o_orderstatus": ["F", "O", "P"]},
        },
    )
    assert all(r.passed for r in results), [r for r in results if not r.passed]
    rel = checks.relationships(t["orders"], "o_custkey", t["customer"], "c_custkey")
    assert rel.passed


def test_checks_count_violations_exactly(spark):
    df = spark.createDataFrame(
        [(1, "F", 10), (2, "X", None), (2, "O", 30), (3, None, 40)],
        "k int, status string, v int",
    )
    assert checks.not_null(df, "v").n_violations == 1
    assert checks.not_null(df, "status").n_violations == 1
    assert checks.unique(df, "k").n_violations == 1  # k=2 twice -> 1 extra
    assert (
        checks.accepted_values(df, "status", ["F", "O", "P"]).n_violations == 1
    )  # NULL is exempt, 'X' is not
    bad = checks.violations(df, F.col("v") > 15)
    # rows with v <= 15 OR v NULL violate the expectation
    assert sorted(r["k"] for r in bad.collect()) == [1, 2]


def test_relationships_counts_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (99,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    r = checks.relationships(child, "fk", parent, "pk")
    assert r.n_violations == 1  # 99 is an orphan; NULL fk is exempt


def _one_by_one(df, spec):
    """The spec evaluated one check at a time, in run_checks' order."""
    out = [checks.not_null(df, c) for c in spec.get("not_null", [])]
    out += [
        checks.accepted_values(df, c, vals)
        for c, vals in spec.get("accepted_values", {}).items()
    ]
    for key in spec.get("unique", []):
        cols = [key] if isinstance(key, str) else list(key)
        out.append(checks.unique(df, *cols))
    return out


def test_run_checks_equals_single_checks(spark):
    """run_checks folds the columnar sums into the first unique key's
    grouped pass; every result and its position must equal the single
    checks called one by one, on a frame with NULL keys, duplicate keys
    and an all-NULL column, and on an empty frame."""
    schema = "k int, g string, status string, empty int"
    df = spark.createDataFrame(
        [
            (1, "a", "F", None),
            (1, "a", "X", None),       # duplicate (k, g)
            (2, "b", None, None),
            (None, "b", "O", None),    # NULL key
            (None, "b", "Q", None),    # second NULL key: a duplicate
            (None, None, "P", None),
            (3, None, "O", None),
        ],
        schema,
    )
    specs = {
        "full": {
            "not_null": ["k", "g", "empty"],
            "unique": [["k"]],
            "accepted_values": {"status": ["F", "O", "P"]},
        },
        "two_unique_keys": {
            "not_null": ["empty"],
            "unique": [["k", "g"], "g"],
            "accepted_values": {"status": ["F", "O"]},
        },
        "columnar_only": {
            "not_null": ["k", "empty"],
            "accepted_values": {"status": ["F"], "g": ["a"]},
        },
        "unique_only": {"unique": [["k"], ["k", "g"], ["empty"]]},
        "empty_spec": {},
    }
    for frame in (df, spark.createDataFrame([], schema)):
        for name, spec in specs.items():
            got = checks.run_checks(frame, spec)
            assert got == _one_by_one(frame, spec), name
    assert checks.run_checks(df, {}) == []
    # the frame really exercises the edge cases it names
    full = {(r.check, r.column): r.n_violations for r in checks.run_checks(df, specs["full"])}
    assert full[("not_null", "empty")] == 7  # all-NULL column
    assert full[("unique", "k")] == 3  # k=1 twice, NULL three times
    assert full[("accepted_values", "status")] == 2  # X, Q; NULL exempt
