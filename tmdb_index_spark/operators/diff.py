"""Row-identity diffing (SURVEY.md §2.6 C7, §2.2 P13).

The reference diffs positionally — ``df[:min_len].hash_rows() !=
other[:min_len].hash_rows()`` (tmdb_index.py:117-132) — which is valid
only because row position == id (the dense-key invariant).  Here the
same comparison is keyed: ids on both sides (for dense frames, exactly
the ids below the common length), compared by per-side row hash.

``xxhash64`` values differ from Polars' ``hash_rows`` — only the
EQUALITY STRUCTURE matters (equal rows hash equal), which both satisfy.
``xxhash64`` skips nulls, so hashing rows of different widths would
call a row unchanged when the only extra column is null.  When the two
column lists differ, every common row therefore counts as updated
without hashing — the reference's outcome (hash over different widths).

Execution shape: the updated count comes from the id-keyed join pass
shared with :mod:`tmdb_index_spark.operators.stats` (a broadcast when
one side is small, else one shuffle on ``id``, or none if both sides
are bucketed by id; the hash is computed map-side inside codegen).  On
its own, ``change_summary`` counts both frames and runs that join with
only ``id`` and the row hash on each side.  The run report passes in
its :class:`~tmdb_index_spark.operators.stats.RunProfile`, which
already holds both row counts (from ``validate_id`` and the new
frame's aggregate) and the updated count, so its ``change_summary``
runs no Spark action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tmdb_index_spark.operators.stats import RunProfile, _join_counts

__all__ = ["change_summary", "change_summary_df"]


def change_summary(
    df_old: DataFrame, df_new: DataFrame, *, profile: RunProfile | None = None
) -> tuple[int, int, int]:
    """(added, removed, updated) between two dense-id frames (reference
    ``change_summary``, tmdb_index.py:117-132).

    added/removed are length deltas (the dense invariant means growth is
    append-only); updated counts common-id rows whose row hash changed.
    ``profile``: the frame pair's :class:`RunProfile` when the caller
    already made it (the run report); else two counts and a join that
    carries only the row hashes run here.
    """
    if profile is None:
        old_len, new_len = df_old.count(), df_new.count()
        updated = _join_counts(df_old, df_new, [])[0] if old_len and new_len else 0
    else:
        old_len, new_len, updated = profile.old_count, profile.new_count, profile.rows_updated
    added = max(0, new_len - old_len)
    removed = max(0, old_len - new_len)
    return added, removed, updated


def change_summary_df(df_old: DataFrame, df_new: DataFrame) -> DataFrame:
    """Single-row DataFrame form of :func:`change_summary` (for the
    oracle harness)."""
    added, removed, updated = change_summary(df_old, df_new)
    spark = df_new.sparkSession
    return spark.createDataFrame(
        [(added, removed, updated)], "added long, removed long, updated long"
    )
