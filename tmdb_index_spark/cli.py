"""CLI entry point (SURVEY.md §3.1; reference ``main``,
tmdb_index.py:603-713).

Lifecycle (:func:`run_lifecycle`): scan-or-bootstrap → schema repair →
process → monotonic guard → report → zstd sink.  ``--dry-run`` skips the
sink; the guard refuses to shrink the index (reference
tmdb_index.py:688-694, C10).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
from typing import Any

from pyspark.sql import SparkSession

from tmdb_index_spark.operators.materialize import release_pins
from tmdb_index_spark.pipeline import process
from tmdb_index_spark.report import format_gh_step_summary
from tmdb_index_spark.session import get_spark
from tmdb_index_spark.sources.fetcher import HttpFeed, TmdbFeed
from tmdb_index_spark.sources.parquet import scan_or_empty, write_index

logger = logging.getLogger(__name__)


def run_lifecycle(
    spark: SparkSession,
    feed: TmdbFeed,
    entity_type: str,
    filename: str,
    *,
    dry_run: bool = False,
    **process_kw: Any,
) -> bool:
    """One daily update of the index at ``filename``; returns False when
    the monotonic guard refuses to write.  ``process_kw`` (the limits,
    ``today``, ``now``) pass through to :func:`process`.

    The loaded and the updated index are cached: each feeds the guard's
    count, the report's diff, and (the updated one) the sink.  Those two
    caches and ``process``'s pins are released on every exit, so a
    session that runs several entity types holds one day's frames at a
    time."""
    df = scan_or_empty(spark, filename)
    # Schema repair: stray tvdb_id on non-tv indexes is dropped at load
    # (reference tmdb_index.py:675-677).
    if entity_type != "tv" and "tvdb_id" in df.columns:
        df = df.drop("tvdb_id")
    df = df.cache()
    df_new = None
    try:
        old_count = df.count()
        df_new = process(df, feed, entity_type, **process_kw).cache()

        # Monotonic-growth guard (C10): a shrinking index means a broken feed.
        new_count = df_new.count()
        if new_count < old_count:
            logger.error(
                "[%s] index shrank: %d -> %d; refusing to write",
                entity_type, old_count, new_count,
            )
            return False

        summary = format_gh_step_summary(df, df_new, os.path.basename(filename))
        print(summary)
        gh_summary = os.environ.get("GITHUB_STEP_SUMMARY")
        if gh_summary:
            with open(gh_summary, "a", encoding="utf-8") as f:
                f.write(summary)

        if not dry_run:
            write_index(df_new, filename)
        return True
    finally:
        release_pins()
        if df_new is not None:
            df_new.unpersist()
        df.unpersist()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tmdb-index-spark")
    p.add_argument("--tmdb-type", choices=("movie", "tv", "person"), required=True)
    p.add_argument("--filename", required=True, help="index parquet file path")
    p.add_argument("--tmdb-api-key", default=os.environ.get("TMDB_API_KEY", ""))
    p.add_argument("--days-limit", type=int, default=30)
    p.add_argument("--backfill-limit", type=int, default=10_000)
    p.add_argument("--refresh-limit", type=int, default=1_000)
    p.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO)
    spark = get_spark("tmdb-index-spark-cli")
    ok = run_lifecycle(
        spark,
        HttpFeed(args.tmdb_api_key),
        args.tmdb_type,
        args.filename,
        days_limit=args.days_limit,
        backfill_limit=args.backfill_limit,
        refresh_limit=args.refresh_limit,
        dry_run=args.dry_run,
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
