"""Daily publish matrix: the reference's scheduled workflow as one command.

The reference runs a cron (``.github/workflows/publish.yml``: ``5 8 * * *``)
with a 3-entity ``fail-fast: false`` matrix — per type it downloads the
published index, runs the update, uploads the artifact — then a deploy
job flattens the artifacts into the published site directory. This is
that shape against a local data dir:

* per type (movie / tv / person): load ``tmdb-<type>.parquet`` from
  ``--data-dir`` (bootstrap an empty index when absent), run the full
  :func:`~tmdb_index_spark.cli.run_lifecycle` (the CLI's own body:
  :func:`~tmdb_index_spark.pipeline.process`, the monotonic-growth
  guard, the GitHub-step-summary block, the index write-back);
* matrix semantics: a failing type does not stop the others
  (``fail-fast: false``); the exit code reports any failure;
* deploy: copy every produced ``tmdb-*.parquet`` into ``--site-dir``
  (the Pages-deploy flatten step).

Feed: ``HttpFeed`` when ``TMDB_API_KEY`` is set (the workflow's live
path), else a deterministic ``FixtureFeed`` so the whole matrix is
reproducible offline — same fixtures for every type, mirroring the
pipeline test corpus.

Usage:
    PYTHONPATH=/root/repo python tools/publish_all.py \
        [--data-dir DIR] [--site-dir DIR] [--days-limit N] \
        [--backfill-limit N] [--refresh-limit N] [--dry-run]
"""

from __future__ import annotations

import argparse
import logging
import os
import shutil
import sys
from datetime import UTC, date, datetime

logger = logging.getLogger("publish_all")

MATRIX = ("movie", "tv", "person")


def _fixture_feed():
    from tmdb_index_spark.sources.fetcher import FixtureFeed

    return FixtureFeed(
        changes_by_day={
            date(2024, 5, 2): [
                {"id": 0, "adult": False},
                {"id": 2, "adult": True},
            ],
            date(2024, 5, 3): [{"id": 1, "adult": False}],
        },
        exports={
            "movie": [0, 2],
            "collection": [2, 3],
            "tv_series": [0, 1],
            "person": [0, 2],
        },
        external={
            0: {"imdb_id": "tt0000111", "wikidata_id": "Q42"},
            1: None,  # 404
            2: {"imdb_id": "tt0000222", "tvdb_id": 777},
        },
    )


def run_one(spark, feed, entity_type: str, args, fixed_clock: bool) -> bool:
    """The workflow's per-type 'Update index' step. Returns success."""
    from tmdb_index_spark.cli import run_lifecycle

    clock = (
        dict(today=date(2024, 5, 3), now=datetime(2024, 5, 3, 12, tzinfo=UTC))
        if fixed_clock
        else {}
    )
    return run_lifecycle(
        spark,
        feed,
        entity_type,
        os.path.join(args.data_dir, f"tmdb-{entity_type}.parquet"),
        days_limit=args.days_limit,
        backfill_limit=args.backfill_limit,
        refresh_limit=args.refresh_limit,
        dry_run=args.dry_run,
        **clock,
    )


def run_matrix(spark, feed, args, fixed_clock: bool, runner=run_one) -> list[str]:
    """fail-fast: false — every matrix entry runs; failures collect.

    Mirrors the reference workflow matrix
    (``/root/reference/.github/workflows/publish.yml``): an exception
    inside one entity's run (feed/Spark error) must not abort the
    remaining entries, and the monotonic-shrink guard's ``False`` is
    just another failure. Returns the failed entity types in matrix
    order.
    """
    failed = []
    for t in MATRIX:
        try:
            ok = runner(spark, feed, t, args, fixed_clock)
        except Exception:
            logger.exception("matrix entry %s raised", t)
            ok = False
        if not ok:
            failed.append(t)
    return failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="publish-all")
    p.add_argument("--data-dir", default="/tmp/tmdb_publish/data")
    p.add_argument("--site-dir", default="/tmp/tmdb_publish/site")
    # None → 30 with a live feed (the workflow default), 100_000 with
    # fixtures: a fresh index backfills from the 2012 epoch and slices
    # the OLDEST days first, so a small limit never reaches the pinned
    # fixture days.
    p.add_argument("--days-limit", type=int, default=None)
    p.add_argument("--backfill-limit", type=int, default=10_000)
    p.add_argument("--refresh-limit", type=int, default=1_000)
    p.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO)
    os.makedirs(args.data_dir, exist_ok=True)

    from tmdb_index_spark.session import get_spark
    from tmdb_index_spark.sources.fetcher import HttpFeed

    spark = get_spark("publish-all")
    api_key = os.environ.get("TMDB_API_KEY")
    feed = HttpFeed(api_key) if api_key else _fixture_feed()
    fixed_clock = not api_key  # fixtures carry pinned dates
    if args.days_limit is None:
        args.days_limit = 30 if api_key else 100_000

    failed = run_matrix(spark, feed, args, fixed_clock)

    if not args.dry_run:
        # Deploy: flatten the per-type artifacts into the site dir.
        os.makedirs(args.site_dir, exist_ok=True)
        for t in MATRIX:
            if t in failed:
                continue
            src = os.path.join(args.data_dir, f"tmdb-{t}.parquet")
            if os.path.isfile(src):
                shutil.copy2(src, os.path.join(args.site_dir, f"tmdb-{t}.parquet"))

    if failed:
        logger.error("matrix failures: %s", ", ".join(failed))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
