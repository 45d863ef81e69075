"""Golden-output test for the markdown run report (mirrors the
reference's ``test_format_gh_step_summary``, test_tmdb_index.py:797-827
— exact-string match; dtype names and rss estimation are documented
deltas, SURVEY.md §1.3)."""

from __future__ import annotations

from datetime import date

import pytest

from tmdb_index_spark.operators.diff import change_summary
from tmdb_index_spark.operators.stats import compute_stats
from tmdb_index_spark.operators.upsert import validate_id
from tmdb_index_spark.report import (
    estimated_size_mb,
    format_gh_step_summary,
    render_markdown_table,
)


def _frames(spark):
    old = spark.createDataFrame(
        [(0, True, date(2024, 5, 1)), (1, None, None)],
        "id long, adult boolean, date date",
    )
    new = spark.createDataFrame(
        [
            (0, True, date(2024, 5, 1)),
            (1, False, date(2024, 5, 2)),
            (2, None, None),
        ],
        "id long, adult boolean, date date",
    )
    return old, new


def test_golden_step_summary(spark):
    old, new = _frames(spark)
    got = format_gh_step_summary(old, new, "movie.parquet")
    expected = (
        "## movie.parquet\n"
        "\n"
        "| name (str) | dtype (str) | null (str) | true (str) | false (str) | unique (str) | updated (str) |\n"
        "|------------|-------------|------------|------------|-------------|--------------|---------------|\n"
        # adult is 'unique': n_unique counts null as a distinct value
        # (Polars semantics, reference tmdb_index.py:160); 'updated' uses
        # null-propagating != (P12), so None->False transitions don't count.
        "| id         | bigint      |            |            |             | true         |               |\n"
        "| adult      | boolean     | 1 (33.3%)  | 1 (33.3%)  | 1 (33.3%)   | true         |               |\n"
        "| date       | date        | 1 (33.3%)  |            |             | true         |               |\n"
        "\n"
        "shape: (3, 3)\n"
        "changes: +1 -0 ~1\n"
        "rss: 0.0MB\n"
    )
    assert got == expected


def test_render_markdown_table_empty_rows():
    out = render_markdown_table([], ["name", "dtype"])
    assert out.splitlines()[0] == "| name (str) | dtype (str) |"
    assert len(out.splitlines()) == 2


def test_estimated_size_counts_strings(spark):
    df = spark.createDataFrame([(0, "abcd")], "id long, s string")
    mb = estimated_size_mb(df)
    assert 0 < mb < 1
    assert abs(mb * 1024 * 1024 - (8 + 4)) < 1e-6


def test_estimated_size_counts_utf8_bytes(spark):
    # "é" is 2 bytes and "漢" 3 in UTF-8: 3 characters, 6 bytes
    df = spark.createDataFrame([(0, "né漢")], "id long, s string")
    assert abs(estimated_size_mb(df) * 1024 * 1024 - (8 + 6)) < 1e-6


_COLUMNS = ["name", "dtype", "null", "true", "false", "unique", "updated"]


def _parity_frames(spark, case):
    if case == "same_schema":
        schema = "id long, adult boolean, date date, title string"
        old = spark.createDataFrame(
            [(i, i % 2 == 0, date(2024, 5, 1 + i % 3), f"t{i}") for i in range(6)], schema
        )
        new = spark.createDataFrame(
            [(i, i % 3 == 0, date(2024, 5, 1 + i % 3), f"t{i % 5}") for i in range(8)], schema
        )
    elif case == "schema_growth":
        old = spark.createDataFrame([(0, False), (1, True)], "id long, adult boolean")
        new = spark.createDataFrame(
            [(0, False, None), (1, True, None), (2, None, 7)],
            "id long, adult boolean, tvdb_id long",
        )
    elif case == "empty_old":
        old = spark.createDataFrame([], "id long")
        new = spark.createDataFrame(
            [(0, True, "a"), (1, None, None)], "id long, adult boolean, title string"
        )
    else:  # null_heavy: null<->value transitions, all-null columns
        schema = "id long, adult boolean, v long, title string"
        old = spark.createDataFrame(
            [(0, None, None, None), (1, True, 1, None), (2, None, 2, "x"), (3, None, None, None)],
            schema,
        )
        new = spark.createDataFrame(
            [(0, False, 5, None), (1, None, 1, None), (2, None, 3, None), (3, None, None, None),
             (4, None, None, None)],
            schema,
        )
    return old, new


@pytest.mark.parametrize("case", ["same_schema", "schema_growth", "empty_old", "null_heavy"])
def test_report_matches_standalone_stats_and_changes(spark, case):
    old, new = _parity_frames(spark, case)
    got = format_gh_step_summary(old, new, "t.parquet")
    table = render_markdown_table([r.asDict() for r in compute_stats(old, new).collect()], _COLUMNS)
    added, removed, updated = change_summary(old, new)
    assert f"\n{table}\n" in got
    assert f"\nchanges: +{added:,} -{removed:,} ~{updated:,}\n" in got
    assert f"\nrss: {estimated_size_mb(new):,.1f}MB\n" in got


_BROKEN_IDS = [
    ([(0,), (None,)], "must not have nulls"),
    ([(1,), (2,)], "must start at 0"),
    ([(0,), (0,)], "must be unique"),
    ([(0,), (2,)], "must be consecutive"),
]


@pytest.mark.parametrize("ids,message", _BROKEN_IDS)
def test_report_checks_ids_like_validate_id(spark, ids, message):
    good = spark.createDataFrame([(0,), (1,)], "id long")
    broken = spark.createDataFrame(ids, "id long")
    assert validate_id(good) == 2  # the row count the report reuses
    with pytest.raises(AssertionError, match=message):
        validate_id(broken)
    with pytest.raises(AssertionError, match=message):
        format_gh_step_summary(good, broken, "t.parquet")
    with pytest.raises(AssertionError, match=message):
        format_gh_step_summary(broken, good, "t.parquet")


def test_report_checks_old_ids_before_new(spark):
    old = spark.createDataFrame([(1,), (2,)], "id long")
    new = spark.createDataFrame([(0,), (0,)], "id long")
    with pytest.raises(AssertionError, match="must start at 0"):
        format_gh_step_summary(old, new, "t.parquet")
    with pytest.raises(AssertionError, match="must be unique"):
        format_gh_step_summary(new, old, "t.parquet")


def _report_jobs(spark, old, new, group):
    # cached and counted first, as cli.run_lifecycle hands them over
    sc = spark.sparkContext
    old, new = old.cache(), new.cache()
    old.count()
    new.count()
    sc.setJobGroup(group, "report job count")
    try:
        format_gh_step_summary(old, new, "t.parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        old.unpersist()
        new.unpersist()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_report_job_count(spark):
    # validate_id on the old frame, one aggregate over the new frame and
    # one join aggregate (3 jobs each); the bootstrap (empty old frame)
    # skips the join
    old, new = _parity_frames(spark, "same_schema")
    assert _report_jobs(spark, old, new, "test-report-jobs-day") <= 9
    boot = spark.createDataFrame([], "id long")
    assert _report_jobs(spark, boot, new, "test-report-jobs-bootstrap") <= 6
