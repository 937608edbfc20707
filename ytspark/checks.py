"""Declarative data-quality checks (the dbt-tests layer).

The reference DECLARES a test capability but ships none: its dbt test
dirs are empty placeholders (``dags/dbt/dbt_ytanalytics/tests/.gitkeep``,
``seeds/.gitkeep``), no ``schema.yml`` column tests exist, and
``dbt_utils`` is declared (``packages.yml:1-3``) yet never invoked.
This module supplies that layer: the four dbt-core column checks
(not_null, unique, accepted_values, relationships) as one-pass
DataFrame aggregates.

Scale notes: every check compiles to a single aggregate over the table
(violation COUNT, not violation rows), so a full check suite is one
scan with map-side partials per check target; ``run_checks`` merges
same-table checks into ONE aggregate pass per table (plus one grouped
pass for each unique key after the first). Use ``violations()`` when
the offending rows themselves are wanted.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CheckResult:
    check: str
    column: str
    n_violations: int

    @property
    def passed(self) -> bool:
        return self.n_violations == 0


def _not_null_violations(col: str) -> Column:
    return F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))


def not_null(df: DataFrame, col: str) -> CheckResult:
    """dbt ``not_null``: no NULLs in the column."""
    n = df.agg(_not_null_violations(col).alias("n")).first()["n"] or 0
    return CheckResult("not_null", col, int(n))


def unique(df: DataFrame, *cols: str) -> CheckResult:
    """dbt ``unique`` (multi-column form = surrogate-key uniqueness):
    counts rows beyond the first per key — grouped aggregate, one
    shuffle on the key."""
    n = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") - 1).alias("n"))
        .first()["n"]
        or 0
    )
    return CheckResult("unique", ",".join(cols), int(n))


def _accepted_values_violations(col: str, values: Sequence) -> Column:
    return F.sum(
        F.when(
            F.col(col).isNotNull() & ~F.col(col).isin(list(values)), 1
        ).otherwise(0)
    )


def accepted_values(df: DataFrame, col: str, values: Sequence) -> CheckResult:
    """dbt ``accepted_values``: every non-null value in the allowlist."""
    n = df.agg(_accepted_values_violations(col, values).alias("n")).first()["n"] or 0
    return CheckResult("accepted_values", col, int(n))


def relationships(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str
) -> CheckResult:
    """dbt ``relationships`` (referential integrity): child keys without
    a parent — left-anti join, counted. The parent side is key-only and
    deduplicated before the join, so the check shuffles keys, not rows."""
    parents = parent.select(F.col(parent_col).alias("__pk")).distinct()
    n = (
        child.where(F.col(child_col).isNotNull())
        .select(F.col(child_col).alias("__fk"))
        .join(parents, F.col("__fk") == F.col("__pk"), "left_anti")
        .count()
    )
    return CheckResult("relationships", f"{child_col}->{parent_col}", int(n))


def violations(df: DataFrame, predicate: Column) -> DataFrame:
    """The offending rows for an arbitrary expectation (rows where the
    predicate is FALSE or NULL) — dbt's 'singular test' shape."""
    return df.where(~F.coalesce(predicate, F.lit(False)))


def run_checks(df: DataFrame, spec: dict) -> list[CheckResult]:
    """Run a schema.yml-shaped spec against one table in ONE aggregate
    pass: the columnar checks (not_null / accepted_values) ride as
    per-group partial sums in the first unique key's grouped pass, so
    that pass answers all of them at once. Further unique keys add one
    grouped pass each; a spec without a unique key is one global
    aggregate. Results come in spec order — not_null, accepted_values,
    unique — equal to calling the single checks one by one.

    spec = {"not_null": ["a", "b"],
            "unique": [["a"], ["a", "b"]],
            "accepted_values": {"status": ["F", "O", "P"]}}
    """
    sums: list[Column] = []
    labels: list[tuple[str, str]] = []
    for col in spec.get("not_null", []):
        sums.append(_not_null_violations(col))
        labels.append(("not_null", col))
    for col, vals in spec.get("accepted_values", {}).items():
        sums.append(_accepted_values_violations(col, vals))
        labels.append(("accepted_values", col))
    keys = [
        [key] if isinstance(key, str) else list(key)
        for key in spec.get("unique", [])
    ]
    names = [f"__v{i}" for i in range(len(sums))]
    if keys:
        # per-key partials, then one global sum: a sum of group sums is
        # the table sum, so the columnar counts equal the global pass
        row = (
            df.groupBy(*keys[0])
            .agg(
                F.count(F.lit(1)).alias("__rows"),
                *[s.alias(n) for s, n in zip(sums, names)],
            )
            .agg(
                *[F.sum(n).alias(n) for n in names],
                F.sum(F.col("__rows") - 1).alias("__dup"),
            )
            .first()
        )
    elif sums:
        row = df.agg(*[s.alias(n) for s, n in zip(sums, names)]).first()
    out = [
        CheckResult(kind, col, int(row[n] or 0))
        for (kind, col), n in zip(labels, names)
    ]
    if keys:
        out.append(CheckResult("unique", ",".join(keys[0]), int(row["__dup"] or 0)))
    out.extend(unique(df, *cols) for cols in keys[1:])
    return out


# ---------------------------------------------------------------------------
# Constraint suite (Deequ-style): rule-driven profile beyond the dbt four
# ---------------------------------------------------------------------------

CONSTRAINT_REFERENCE_DATE = "2024-02-15"  # pinned "now" for freshness


def constraint_suite(tables: dict) -> "DataFrame":
    """Evaluate the declarative constraint suite over loaded tables and
    return one report row per rule: (rule, tbl, metric, threshold,
    passed). Each rule compiles to ONE aggregate over its table —
    metrics, never violation rows — so the whole suite is one scan per
    distinct table with map-side partials (the Deequ analyzer shape).
    Rules cover the classes the dbt four don't: rate thresholds
    (null-rate, pattern-match rate), numeric ranges, cross-column
    consistency, freshness against a pinned reference instant, and
    cardinality bands."""
    ev, orders = tables["events"], tables["orders"]
    docs, li, cust = tables["documents"], tables["lineitem"], tables["customer"]

    def row(df, rule, tbl, metric, threshold, passed):
        return df.agg(
            F.lit(rule).alias("rule"),
            F.lit(tbl).alias("tbl"),
            F.round(metric, 6).alias("metric"),
            F.lit(float(threshold)).alias("threshold"),
            passed.alias("passed"),
        )

    null_rate = (
        F.sum(F.col("value").isNull().cast("int")).cast("double")
        / F.count(F.lit(1))
    )
    r1 = row(ev, "null_rate:value<=0.05", "events",
             null_rate, 0.05, null_rate <= 0.05)
    oob = F.sum(
        ((F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 600000))
        .cast("int")
    ).cast("double")
    r2 = row(orders, "range:o_totalprice[0,600000]", "orders",
             oob, 0.0, oob == 0)
    pat = (
        F.sum(F.col("lang").rlike("^[a-z][a-z]$").cast("int")).cast("double")
        / F.count(F.lit(1))
    )
    r3 = row(docs, "pattern_rate:lang~^[a-z]{2}$>=0.99", "documents",
             pat, 0.99, pat >= 0.99)
    age = F.datediff(
        F.lit(CONSTRAINT_REFERENCE_DATE).cast("date"), F.max(F.to_date("ts"))
    ).cast("double")
    r4 = row(ev, "freshness:max(ts)age<=30d", "events",
             age, 30.0, age <= 30)
    uniq = (
        F.count_distinct("o_orderkey").cast("double") / F.count(F.lit(1))
    )
    r5 = row(orders, "unique_ratio:o_orderkey=1", "orders",
             uniq, 1.0, uniq == 1.0)
    xcol = F.sum(
        (F.col("l_tax") + F.col("l_discount") >= 1).cast("int")
    ).cast("double")
    r6 = row(li, "cross_column:l_tax+l_discount<1", "lineitem",
             xcol, 0.0, xcol == 0)
    card = F.count_distinct("c_mktsegment").cast("double")
    r7 = row(cust, "cardinality:c_mktsegment[3,10]", "customer",
             card, 10.0, (card >= 3) & (card <= 10))
    out = r1
    for r in (r2, r3, r4, r5, r6, r7):
        out = out.unionByName(r)
    return out
