"""The incremental-index pipeline (SURVEY.md §2.6 C3-C6, §3.1).

Composition is identical to the reference's ``process``
(tmdb_index.py:546-568): fold latest changes → update export flag →
enrich external ids.  Each step builds a LAZY plan; actions happen only
at C3's resume-date and ``align_id_col`` maxima, the C5 worklist
collect, and the caller's guards and sink.  Two step outputs feed several of those actions, so
``process`` pins them with the ``operators.materialize`` ledger:

* the C3 upsert (made only when the feed had changes), which the C3
  align's ``max(id)`` collect fills and its range join reads;
* the C4 export-flagged index, which C5's three worklist branches and
  C5's upsert all scan.

Without the pins each action re-runs the upsert lineage from the
index scan.  The caller owns the release: call ``release_pins()`` once
the result has been written.

Spark-first deviation from the reference's loop shape: the reference
folds per-day change batches through ``update_or_append`` one day at a
time (N merges → N dedup passes).  Here the driver-resident per-day
payloads fold to one keep-last batch and merge ONCE — one shuffle
instead of N, same keep-last-by-day semantics (newest day wins per id).
"""

from __future__ import annotations

import logging
from datetime import date, timedelta
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.operators.materialize import local_frame, pin_frame
from tmdb_index_spark.operators.selection import (
    select_backfill_candidates,
    select_refresh_candidates,
    select_stale_candidates,
)
from tmdb_index_spark.operators.upsert import align_id_col, update_or_append
from tmdb_index_spark.schemas import changes_schema
from tmdb_index_spark.sources.fetcher import (
    CHANGES_EPOCH,
    TmdbFeed,
    export_batch,
    external_ids_batch,
)

logger = logging.getLogger(__name__)

__all__ = [
    "changes_backfill_date_range",
    "insert_latest_changes",
    "update_export_flag",
    "insert_external_ids",
    "process",
]

#: Export feed names per entity type; movie merges the collection export
#: with movie taking precedence on id collisions (reference
#: tmdb_index.py:330-348).
EXPORT_TYPES = {
    "movie": ("movie", "collection"),
    "tv": ("tv_series",),
    "person": ("person",),
}


def changes_backfill_date_range(
    df: DataFrame, entity_type: str, today: date | None = None
) -> list[date]:
    """Resume from ``max(date) - 1 day`` (overlap one day to absorb
    partial final days), else the per-type epoch (reference
    ``tmdb_changes_backfill_date_range``, tmdb_index.py:220-238)."""
    today = today or date.today()
    start = None
    if "date" in df.columns:
        max_date = df.agg(F.max("date")).collect()[0][0]
        if max_date is not None:
            start = max_date - timedelta(days=1)
    if start is None:
        start = CHANGES_EPOCH[entity_type]
        logger.warning("no date column/rows; backfilling from epoch %s", start)
    days = (today - start).days + 1
    return [start + timedelta(days=i) for i in range(max(days, 0))]


def insert_latest_changes(
    df: DataFrame,
    feed: TmdbFeed,
    entity_type: str,
    days_limit: int = 30,
    today: date | None = None,
) -> DataFrame:
    """C3: fetch per-day change lists, merge once, realign the dense id
    domain (reference ``insert_tmdb_latest_changes``,
    tmdb_index.py:241-256).

    The merged frame is pinned (registered with the ``materialize``
    ledger) before the align: the align's ``max(id)`` collect fills the
    pin and its range join reads it, so the upsert runs once."""
    spark = df.sparkSession
    date_range = changes_backfill_date_range(df, entity_type, today)[:days_limit]
    # The payloads are already driver-resident (sequential rate-limited
    # HTTP), so the keep-last fold across days happens in the same dict
    # pass that the per-day builder uses within a day: later day / later
    # arrival wins per id (reference folds one update_or_append per day,
    # tmdb_index.py:248-254 — same fixpoint).  One schema'd batch then
    # enters the plan as a scan of a scratch parquet file (local_frame)
    # and merges in a single shuffle.  The distributed keep-last path
    # (dedup_keep_last) remains the operator for table-sized inputs.
    last: dict[int, dict[str, Any]] = {}
    for d in date_range:
        for r in feed.changes(entity_type, d):
            if r.get("id") is None:
                continue
            last[int(r["id"])] = {"id": int(r["id"]), "adult": r.get("adult"), "date": d}
    if not last:
        return align_id_col(df)
    batch = local_frame(spark, list(last.values()), changes_schema())
    return align_id_col(pin_frame(update_or_append(df, batch)))


def update_export_flag(df: DataFrame, feed: TmdbFeed, entity_type: str) -> DataFrame:
    """C4: left join the daily export onto the index ids; absent → False
    (reference ``update_tmdb_export_flag``, tmdb_index.py:355-366).

    The export side is ~1M narrow rows at TMDB scale — explicitly
    broadcast so the 100 TB index side never shuffles for this step.
    """
    ids = [feed.export_ids(t) for t in EXPORT_TYPES[entity_type]]
    export = export_batch(df.sparkSession, ids)

    out_cols = list(df.columns)
    if "in_export" not in out_cols:
        out_cols.append("in_export")
    return (
        df.drop("in_export")
        .join(F.broadcast(export), on="id", how="left")
        .withColumn("in_export", F.coalesce(F.col("in_export"), F.lit(False)))
        .select(*out_cols)
    )


def insert_external_ids(
    df: DataFrame,
    feed: TmdbFeed,
    entity_type: str,
    backfill_limit: int = 10_000,
    refresh_limit: int = 1_000,
    now: Any = None,
) -> DataFrame:
    """C5: select work (stale ∪ backfill ∪ refresh), fetch driver-side in
    id order, upsert (reference ``insert_tmdb_external_ids``,
    tmdb_index.py:482-543).

    Precondition: ``df`` has dense ids ``0..n-1`` (``process`` runs C3's
    align first).  The batch ids are selected from ``df`` itself, so the
    upsert adds no id and cannot move the max or open a hole; the
    reference's second ``align_id_col`` here is an identity and is not
    run."""
    from datetime import UTC, datetime

    has_ra = "retrieved_at" in df.columns
    has_date = "date" in df.columns

    parts = []
    if has_date and has_ra:
        parts.append(select_stale_candidates(df).select("id"))
    if backfill_limit > 0:
        parts.append(select_backfill_candidates(df, backfill_limit).select("id"))
    if refresh_limit > 0 and has_ra:
        parts.append(select_refresh_candidates(df, refresh_limit).select("id"))
    if not parts:
        logger.warning("no external-id work predicates apply")
        return df

    worklist = parts[0]
    for p in parts[1:]:
        worklist = worklist.unionByName(p)
    # Collect the (bounded: backfill+refresh limits + stale set) worklist
    # to the driver — the fetch is driver-side sequential I/O by design.
    ids = sorted(r[0] for r in worklist.distinct().collect())
    if not ids:
        return df

    retrieved_at = now or datetime.now(UTC)
    rows = [
        parse_external_ids_row(feed, entity_type, i, retrieved_at) for i in ids
    ]
    batch = external_ids_batch(df.sparkSession, rows, entity_type)
    return update_or_append(df, batch)


def parse_external_ids_row(
    feed: TmdbFeed, entity_type: str, tmdb_id: int, retrieved_at: Any
) -> dict[str, Any]:
    from tmdb_index_spark.sources.fetcher import parse_external_ids_payload

    payload = feed.external_ids(entity_type, tmdb_id)
    return parse_external_ids_payload(entity_type, tmdb_id, payload, retrieved_at)


def process(
    df: DataFrame,
    feed: TmdbFeed,
    entity_type: str,
    days_limit: int = 30,
    backfill_limit: int = 10_000,
    refresh_limit: int = 1_000,
    today: date | None = None,
    now: Any = None,
) -> DataFrame:
    """C6: the full daily update (reference ``process``,
    tmdb_index.py:546-568).

    Pins C3's merged upsert (when the feed had changes) and C4's output
    on the ``operators.materialize`` ledger, so each step executes once
    instead of once per downstream action (module docstring).  The
    caller owns the pins: call ``release_pins()`` after the last action
    on the returned frame, as ``cli.run_lifecycle`` does after the
    sink."""
    df = insert_latest_changes(df, feed, entity_type, days_limit, today)
    df = pin_frame(update_export_flag(df, feed, entity_type))
    df = insert_external_ids(
        df, feed, entity_type, backfill_limit, refresh_limit, now=now
    )
    return df
