"""Sources & sinks (SURVEY.md §2.1 S1-S8).

Feeds are driver-side I/O behind the :class:`~tmdb_index_spark.sources.
fetcher.TmdbFeed` interface — the reference's per-id HTTP loop is
rate-limit-bound and order-dependent (tmdb_index.py:369-402), so it must
NOT run in executors (SURVEY.md §3.3).  Fetched batches enter the plan
through :func:`~tmdb_index_spark.operators.materialize.local_frame`, as
scans of scratch parquet files.
"""

from tmdb_index_spark.sources.parquet import (
    scan_or_empty,
    write_index,
    write_single_parquet,
)
from tmdb_index_spark.sources.fetcher import (
    FixtureFeed,
    HttpFeed,
    TmdbFeed,
    changes_batch,
    export_batch,
    external_ids_batch,
)

__all__ = [
    "scan_or_empty",
    "write_index",
    "write_single_parquet",
    "TmdbFeed",
    "FixtureFeed",
    "HttpFeed",
    "changes_batch",
    "export_batch",
    "external_ids_batch",
]
