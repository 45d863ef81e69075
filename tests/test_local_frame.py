"""The feed batches enter Spark as scans of scratch parquet files.

``local_frame`` must give exactly what ``spark.createDataFrame(rows,
schema)`` gives (values, schema, the per-row verifier's errors) while
planning as a file scan (or, when empty, a ``LocalRelation``), so the
daily lifecycle starts no Python worker and keeps no rows in its
plans.  Timestamps are checked under a non-UTC local zone: the list
path reads a naive datetime as local time, pyarrow as UTC.
"""

from __future__ import annotations

import os
import time
from datetime import UTC, date, datetime, timedelta, timezone

import pytest

from tmdb_index_spark.operators.materialize import local_frame, release_pins
from tmdb_index_spark.pipeline import process
from tmdb_index_spark.schemas import (
    changes_schema,
    empty_index_schema,
    export_schema,
    external_ids_schema,
)
from tmdb_index_spark.sources.fetcher import (
    FixtureFeed,
    changes_batch,
    export_batch,
    external_ids_batch,
)
from tmdb_index_spark.sources.parquet import scan_or_empty


@pytest.fixture
def local_tz():
    """A non-UTC, DST-observing local zone for the Python side; the
    previous zone is restored after the test."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def _external_rows(entity_type: str) -> list[dict]:
    plus2 = timezone(timedelta(hours=2))
    rows = [
        # naive, winter and summer (DST) local times
        {"success": True, "id": 1, "retrieved_at": datetime(2024, 1, 2, 3, 4, 5, 6),
         "imdb_numeric_id": 10, "wikidata_numeric_id": None},
        {"success": True, "id": 2, "retrieved_at": datetime(2024, 7, 2, 23, 59, 59),
         "imdb_numeric_id": None, "wikidata_numeric_id": 20},
        # tz-aware, UTC and a fixed offset
        {"success": False, "id": 3, "retrieved_at": datetime(2024, 3, 10, 7, 0, tzinfo=UTC),
         "imdb_numeric_id": None, "wikidata_numeric_id": None},
        {"success": None, "id": 4, "retrieved_at": datetime(2024, 11, 3, 1, 30, tzinfo=plus2),
         "imdb_numeric_id": 4_294_967_295, "wikidata_numeric_id": 0},
        {"success": True, "id": 5, "retrieved_at": None,
         "imdb_numeric_id": None, "wikidata_numeric_id": None},
    ]
    if entity_type == "tv":
        for r, tvdb in zip(rows, (7, None, 0, 3, None)):
            r["tvdb_id"] = tvdb
    return rows


_CASES = [
    (changes_schema(), [
        {"id": 1, "adult": None, "date": date(2012, 10, 5)},
        {"id": 2, "adult": True, "date": date(1969, 12, 31)},
        {"id": 3, "adult": False, "date": date(2024, 2, 29)},
    ]),
    (export_schema(), [{"id": i, "in_export": True} for i in (0, 5, 2**32 - 1)]),
    (external_ids_schema("movie"), _external_rows("movie")),
    (external_ids_schema("tv"), _external_rows("tv")),
    (empty_index_schema(), [{"id": 0}, {"id": 7}]),
]


@pytest.mark.parametrize("schema,data", _CASES)
def test_local_frame_matches_list_path(spark, local_tz, schema, data):
    for batch in (data, []):
        got = local_frame(spark, batch, schema)
        want = spark.createDataFrame(batch, schema)
        assert got.schema == want.schema == schema
        assert got.collect() == want.collect()


def test_local_frame_raises_like_the_verifier(spark):
    schema = export_schema()
    for bad, exc in (
        ({"id": None, "in_export": True}, ValueError),
        ({"id": "1", "in_export": True}, TypeError),
    ):
        with pytest.raises(exc):
            spark.createDataFrame([bad], schema)
        with pytest.raises(exc):
            local_frame(spark, [{"id": 1, "in_export": True}, bad], schema)


def _leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_lifecycle_batches_plan_as_file_scans(spark, tmp_path):
    """Each non-empty lifecycle batch analyzes to one file-scan leaf
    (``LogicalRelation``) over a scratch file that ``release_pins``
    deletes; the empty bootstrap frame is a ``LocalRelation``.  A whole
    bootstrap ``process`` plan has no ``LogicalRDD`` leaf (the list
    path's Python RDD), so the daily path starts no Python worker."""
    day, now = date(2024, 1, 2), datetime(2024, 1, 3, tzinfo=UTC)
    ext = [{"success": True, "id": 1, "retrieved_at": now, "imdb_numeric_id": 1,
            "wikidata_numeric_id": None}]
    empty = scan_or_empty(spark, str(tmp_path / "absent.parquet"))
    assert _leaves(empty) == ["LocalRelation"]
    batches = [
        changes_batch(spark, [{"id": 1, "adult": False}], day),
        export_batch(spark, [[3, 1], [2]]),
        external_ids_batch(spark, ext, "movie"),
    ]
    files = []
    for df in batches:
        assert _leaves(df) == ["LogicalRelation"]
        files += [f.removeprefix("file://") for f in df.inputFiles()]
    assert len(files) == 3 and all(os.path.exists(f) for f in files)
    assert [r.id for r in batches[1].collect()] == [1, 2, 3]
    release_pins()
    assert not any(os.path.exists(f) for f in files)

    feed = FixtureFeed(
        changes_by_day={day: [{"id": 1}, {"id": 2}]},
        exports={"movie": [0, 2], "collection": [1]},
        external={0: {"imdb_id": "tt1"}, 2: None},
    )
    try:
        out = process(empty, feed, "movie", days_limit=100_000, today=day, now=now)
        leaves = _leaves(out)
        assert out.count() == 3
    finally:
        release_pins()
    assert "LogicalRelation" in leaves
    assert "LogicalRDD" not in leaves, leaves
