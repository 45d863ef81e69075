"""CLI lifecycle tests: bootstrap run, monotonic-growth guard (C10),
dry-run sink skip — with the HTTP feed swapped for a fixture."""

from __future__ import annotations

import os
from datetime import date

import pytest

import tmdb_index_spark.cli as cli
from tmdb_index_spark.sources.fetcher import FixtureFeed


@pytest.fixture
def fixture_feed(monkeypatch):
    feed = FixtureFeed(
        changes_by_day={date(2024, 5, 2): [{"id": 0, "adult": False}]},
        exports={"movie": [0], "collection": []},
        external={0: {"imdb_id": "tt0000001"}},
    )
    monkeypatch.setattr(cli, "HttpFeed", lambda api_key: feed)
    return feed


def test_cli_bootstrap_writes_index(spark, tmp_path, fixture_feed):
    path = str(tmp_path / "movie.parquet")
    rc = cli.main(
        [
            "--tmdb-type", "movie",
            "--filename", path,
            "--days-limit", "100000",
            "--backfill-limit", "5",
            "--refresh-limit", "5",
        ]
    )
    assert rc == 0
    assert os.path.isfile(path)
    got = spark.read.parquet(path).collect()
    assert [r["id"] for r in got] == [0]
    assert got[0]["imdb_numeric_id"] == 1


def test_cli_dry_run_skips_sink(spark, tmp_path, fixture_feed):
    path = str(tmp_path / "movie.parquet")
    rc = cli.main(
        [
            "--tmdb-type", "movie",
            "--filename", path,
            "--days-limit", "100000",
            "--dry-run",
        ]
    )
    assert rc == 0
    assert not os.path.exists(path)


def test_cli_monotonic_guard_refuses_shrink(spark, tmp_path, fixture_feed, monkeypatch):
    path = str(tmp_path / "movie.parquet")
    # Existing 3-row index; patched process "loses" rows.
    spark.createDataFrame(
        [(0,), (1,), (2,)], "id long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "seed"))
    import glob
    import shutil

    shutil.move(glob.glob(str(tmp_path / "seed" / "part-*.parquet"))[0], path)

    def shrinking_process(df, feed, entity_type, **kw):
        return df.filter("id = 0")

    monkeypatch.setattr(cli, "process", shrinking_process)
    rc = cli.main(["--tmdb-type", "movie", "--filename", path])
    assert rc == 1
    # the original index is untouched
    assert spark.read.parquet(path).count() == 3


def test_cli_releases_cached_frames_on_every_exit(spark, tmp_path, fixture_feed, monkeypatch):
    from tmdb_index_spark.operators.materialize import release_pins

    release_pins()  # pins other tests left on the shared ledger
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    path = str(tmp_path / "movie.parquet")
    argv = ["--tmdb-type", "movie", "--filename", path, "--days-limit", "100000"]

    before = persistent().size()
    assert cli.main(argv) == 0  # bootstrap: sink written
    assert persistent().size() == before

    # the guard's refusal path: the real process, then rows "lost"
    real_process = cli.process
    monkeypatch.setattr(
        cli, "process", lambda df, *a, **kw: real_process(df, *a, **kw).filter("id < 0")
    )
    before = persistent().size()
    assert cli.main(argv) == 1
    assert persistent().size() == before
