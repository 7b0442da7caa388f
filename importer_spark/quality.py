"""Data-quality assertion layer (SURVEY §5).

The reference validates with dbt schema tests (unique / not_null /
accepted_values — ~340 of them), singular SQL tests (fail if query returns
rows), and Python runtime checks (row counts, freshness, duplicate PKs:
pipelines/shared/data_quality.py:17-216). This module is the Spark analog:
each check computes a violation COUNT distributed-side (never collects rows).
The dbt schema-test kinds have one evaluator, ``_violation_expr``, reached
through ``run_suite`` (counts) and ``assert_suite`` (raises
``QualityError``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class QualityError(AssertionError):
    pass


def _fail(name: str, detail: str):
    raise QualityError(f"quality check failed: {name} — {detail}")


def reconcile_counts(left: DataFrame, right: DataFrame, tolerance: int = 0) -> None:
    """Split-integrity reconciliation (reference:
    tests/test_contact_email_splitting_integrity.sql — recompute independently
    and diff counts)."""
    nl, nr = left.count(), right.count()
    if abs(nl - nr) > tolerance:
        _fail("reconcile_counts", f"left={nl} right={nr} tolerance={tolerance}")


def assert_fresh(df: DataFrame, ts_col: str, max_age_hours: float, now) -> None:
    """Freshness vs max_age_hours (reference:
    pipelines/shared/data_quality.py freshness check; thresholds in
    config/sources.yml). ``now`` is an explicit anchor — see session.py on
    deterministic clocks."""
    newest = df.agg(F.max(ts_col).alias("m")).first()["m"]
    if newest is None:
        _fail("freshness", f"{ts_col} has no values")
    age_h = (now - newest).total_seconds() / 3600.0
    if age_h > max_age_hours:
        _fail("freshness", f"newest {ts_col}={newest} is {age_h:.1f}h old > {max_age_hours}h")


def assert_completeness(df: DataFrame, col: str, min_ratio: float) -> None:
    """Column completeness ratio ≥ threshold (reference:
    pipelines/shared/data_quality.py completeness check)."""
    row = df.agg(
        F.count("*").alias("n"), F.count(col).alias("nn")
    ).first()
    ratio = (row["nn"] / row["n"]) if row["n"] else 1.0
    if ratio < min_ratio:
        _fail("completeness", f"{col} ratio {ratio:.4f} < {min_ratio}")


# ---------------------------------------------------------------------------
# Single-pass declarative suite (dbt schema-test runner shape)
# ---------------------------------------------------------------------------
# The reference runs ~340 schema tests, each its own SQL statement. At 100 TB
# a test-per-scan is 340 scans of the table; compile_suite folds every
# column-level check into ONE aggregation (one scan, one job) and returns the
# dbt-test-run output shape: (check_name, n_violations, passed).


def _violation_expr(check: dict):
    kind = check["kind"]
    if kind == "not_null":
        return F.count(F.when(F.col(check["col"]).isNull(), 1))
    if kind == "unique":
        import functools

        cols = check["cols"] if "cols" in check else [check["col"]]
        # dbt `unique` semantics: rows with a NULL in the key are ignored
        # (pair with not_null to police those). Excess duplicate rows among
        # fully-non-null keys = their count − their distinct count; COUNT and
        # COUNT DISTINCT both skip the NULL-keyed rows via the same guard.
        any_null = functools.reduce(
            lambda a, c: a | F.col(c).isNull(), cols, F.lit(False)
        )
        keyed = F.when(~any_null, F.struct(*cols))
        return F.count(keyed) - F.count_distinct(keyed)
    if kind == "accepted_values":
        c = F.col(check["col"])
        return F.count(F.when(~c.isin(check["values"]) | c.isNull(), 1))
    if kind == "accepted_range":
        # dbt_utils.accepted_range, inclusive bounds. NULLs count as
        # violations (dbt pairs the test with not_null; here one suffices).
        c = F.col(check["col"])
        ok = F.lit(True)
        if check.get("lo") is not None:
            ok = ok & (c >= check["lo"])
        if check.get("hi") is not None:
            ok = ok & (c <= check["hi"])
        return F.count(F.when(~ok | c.isNull(), 1))
    if kind == "expression":  # dbt_utils.expression_is_true
        return F.count(F.when(~F.expr(check["expr"]), 1))
    raise ValueError(f"unknown check kind {kind!r}")


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass column profiler: (column_name, n_nulls, n_distinct,
    min_value, max_value) for each requested column — the summary the
    reference's runtime checks sample per table, computed in ONE scan.
    min/max surface as strings so heterogeneous columns stack into one
    long-form result (cast numeric columns to DECIMAL upstream if their
    string form must be engine-portable)."""
    aggs = []
    for i, c in enumerate(cols):
        # Positional internal aliases: the PROFILED column names may be
        # arbitrary ('First Name' from an XLSX ingest) and must only ever
        # appear as escaped string literals, never as identifiers.
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).cast("bigint").alias(f"_nn{i}"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"_nd{i}"),
            F.min(F.col(c)).cast("string").alias(f"_mn{i}"),
            F.max(F.col(c)).cast("string").alias(f"_mx{i}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        "'{}', _nn{i}, _nd{i}, _mn{i}, _mx{i}".format(c.replace("'", "''"), i=i)
        for i, c in enumerate(cols)
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


def run_suite(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Evaluate a declarative check suite in a single aggregation pass.

    Returns (check_name, n_violations, passed) — one row per check, computed
    from one scan of ``df``. `unique` checks use COUNT DISTINCT, which
    Catalyst plans as an expand; suites mixing several multi-column unique
    keys on huge tables may prefer one suite per key instead.
    """
    aggs = [
        _violation_expr(c).cast("bigint").alias(f"_chk{i}")
        for i, c in enumerate(checks)
    ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        "'{}', _chk{}".format(c["name"].replace("'", "''"), i)
        for i, c in enumerate(checks)
    )
    return wide.select(
        F.expr(f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)")
    ).withColumn("passed", F.col("n_violations") == 0)


def assert_suite(df: DataFrame, checks: list[dict]) -> None:
    """Evaluate ``checks`` with :func:`run_suite` and raise ``QualityError``
    naming each failed check and its violation count."""
    failed = [
        f"{r['check_name']} ({r['n_violations']} violations)"
        for r in run_suite(df, checks).collect()
        if not r["passed"]
    ]
    if failed:
        _fail("suite", "; ".join(failed))
