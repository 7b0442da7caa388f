"""Quality-layer behavior: assertions fire on bad data, pass on good, and
the single-pass suite runner is one job over one scan."""

from __future__ import annotations

import datetime as dt

import pytest

from importer_spark.quality import (
    QualityError,
    assert_completeness,
    assert_fresh,
    assert_suite,
    run_suite,
)


@pytest.fixture
def people(spark):
    return spark.createDataFrame(
        [
            (1, "a@x.com", 10.0, dt.datetime(2026, 1, 1)),
            (2, "b@x.com", -5.0, dt.datetime(2026, 1, 2)),
            (2, None, 200.0, dt.datetime(2026, 1, 3)),
        ],
        "id int, email string, score double, seen timestamp",
    )


def _score_range(lo, hi):
    return [{"name": "score_range", "kind": "accepted_range", "col": "score",
             "lo": lo, "hi": hi}]


def test_accepted_range_catches_out_of_bounds(people):
    with pytest.raises(QualityError, match=r"score_range \(2 violations\)"):
        assert_suite(people, _score_range(0, 100))
    assert_suite(people, _score_range(-10, 1000))


def test_freshness(people):
    assert_fresh(people, "seen", 24, now=dt.datetime(2026, 1, 3, 12))
    with pytest.raises(QualityError, match="freshness"):
        assert_fresh(people, "seen", 24, now=dt.datetime(2026, 2, 1))


def test_completeness(people):
    with pytest.raises(QualityError, match="completeness"):
        assert_completeness(people, "email", 0.9)
    assert_completeness(people, "email", 0.5)


def test_run_suite_counts(people):
    res = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in run_suite(
            people,
            [
                {"name": "id_unique", "kind": "unique", "col": "id"},
                {"name": "email_not_null", "kind": "not_null", "col": "email"},
                {
                    "name": "score_range",
                    "kind": "accepted_range",
                    "col": "score",
                    "lo": 0,
                    "hi": 100,
                },
                {"name": "id_positive", "kind": "expression", "expr": "id > 0"},
            ],
        ).collect()
    }
    assert res == {
        "id_unique": (1, False),
        "email_not_null": (1, False),
        "score_range": (2, False),
        "id_positive": (0, True),
    }


def test_run_suite_single_scan(spark):
    """The compiled suite must be ONE aggregation over ONE scan — no
    per-check subplans (the 340-tests-at-100TB design point)."""
    from importer_spark.io import Tables
    from importer_spark.queries.quality_q import _SUITE
    from tests.conftest import SF_DIR

    df = run_suite(Tables(spark, SF_DIR).orders, _SUITE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_run_suite_unique_ignores_null_keys(spark):
    """dbt `unique` semantics: NULL-keyed rows are not duplicates (the
    not_null check owns them). Three NULL ids + one duplicated id pair →
    exactly 1 violation."""
    df = spark.createDataFrame(
        [(None,), (None,), (None,), (7,), (7,), (8,)], "id int"
    )
    res = {
        r["check_name"]: r["n_violations"]
        for r in run_suite(df, [{"name": "u", "kind": "unique", "col": "id"}]).collect()
    }
    assert res == {"u": 1}


def test_profile_columns_handles_spacey_names(spark):
    """Profiling must work on ingest-shaped column names ('First Name' from
    read_xlsx) — names are literals in the output, never identifiers."""
    from importer_spark.quality import profile_columns

    df = spark.createDataFrame([("a", 1), (None, 2)], ["First Name", "O'Brien"])
    res = {r["column_name"]: r["n_nulls"] for r in profile_columns(df, ["First Name", "O'Brien"]).collect()}
    assert res == {"First Name": 1, "O'Brien": 0}
