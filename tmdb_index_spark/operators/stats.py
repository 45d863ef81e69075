"""Per-column profiling and the run report's two passes (SURVEY.md
§2.6 C7-C8, §2.4 A3-A6).

Reference ``compute_stats`` (tmdb_index.py:142-175) profiles every
column of the new frame — null count, true/false counts for booleans,
exact uniqueness of non-null values, and an updated-count against the
old frame — and renders a small all-string stats table.

Execution shape: two pass functions make the numbers behind
:func:`compute_stats`, :func:`~tmdb_index_spark.operators.diff.change_summary`
and the run report:

1. :func:`_frame_stats` — ONE aggregate over the new frame: every
   per-column stat, the row count, ``min``/``max`` of ``id`` (with its
   null and distinct counts, the dense-key invariants) and the byte
   lengths of string and binary columns (the report's ``rss``).
   Catalyst fuses them into a single scan + partial/final aggregate;
   the exact distinct counts share one Expand.
2. :func:`_join_counts` — ONE id-keyed (inner) join of old and new,
   aggregated once: the per-column ``updated`` counts and
   ``change_summary``'s row-hash ``updated`` count.

The run report's kernel, :func:`_profile`, runs pass 1, checks the new
frame's ids from its row, then runs pass 2 (skipped when either frame
is empty, where nothing can be updated), and hands the
:class:`RunProfile` to ``compute_stats`` and ``change_summary``, which
then only render it.  Called on their own, ``compute_stats`` runs both
passes and ``change_summary`` two counts and a pass 2 that carries only
the row hashes.

Semantics preserved exactly:
* ``updated`` uses null-propagating ``!=`` — a change from null to
  value (or vice versa) is NOT counted (reference tmdb_index.py:161).
* ``unique`` is computed over non-null values only.
* formatting: ``"{n:,} ({n/row_count:.1%})"``; empty string for zero.

Delta: dtype strings are Spark's (``bigint``, ``boolean``, ...) rather
than Polars reprs (``u32``, ``bool``) — the engine's native types.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.operators.upsert import check_dense_id

__all__ = ["compute_stats", "RunProfile"]

_STATS_SCHEMA = (
    "name string, dtype string, null string, true string, false string, "
    "unique string, updated string"
)


@dataclass(frozen=True)
class RunProfile:
    """The run report's numbers for one old/new frame pair (:func:`_profile`).

    ``stats`` is the new frame's pass-1 row (:func:`_frame_stats`);
    ``updated`` (the null-propagating updated count of each column the
    two frames share; absent means zero) and ``rows_updated`` (the
    common ids whose row hash changed) come from :func:`_join_counts`;
    ``byte_lengths`` are the summed bytes of each string/binary
    column."""

    stats: dict[str, Any]
    old_count: int
    new_count: int
    updated: dict[str, int]
    rows_updated: int
    byte_lengths: dict[str, int]


def _frame_stats(df: DataFrame, approx: bool = False) -> dict[str, Any]:
    """Pass 1: every statistic of ``df`` in one aggregate row — ``__n__``
    (rows), ``nonnull__<c>``, ``true__<c>`` for booleans and
    ``distinct__<c>`` for the rest, ``bytes__<c>`` for string/binary
    columns, and ``__min_id__``/``__max_id__`` when there is an ``id``."""
    distinct_of = F.approx_count_distinct if approx else F.count_distinct
    aggs = [F.count(F.lit(1)).alias("__n__")]
    # Nulls are the row count less the non-nulls, and a boolean's falses
    # its non-nulls less its trues: neither needs a slot in the
    # aggregate buffer that every Expand row of the distinct counts
    # carries.  A boolean's distinct count follows from the same two
    # numbers, so it needs no Expand projection of its own.
    for c, dtype in df.dtypes:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"nonnull__{c}"))
        if dtype == "boolean":
            aggs.append(F.sum(col.cast("long")).alias(f"true__{c}"))
        else:
            aggs.append(distinct_of(col).alias(f"distinct__{c}"))
    aggs += [
        F.sum(F.octet_length(c)).alias(f"bytes__{c}")
        for c, dtype in df.dtypes
        if dtype in ("string", "binary")
    ]
    if "id" in df.columns:
        aggs += [F.min("id").alias("__min_id__"), F.max("id").alias("__max_id__")]
    return df.agg(*aggs).collect()[0].asDict()


def _shared_columns(df_old: DataFrame, df_new: DataFrame) -> list[str]:
    return [c for c in df_new.columns if c != "id" and c in df_old.columns]


def _join_counts(
    df_old: DataFrame, df_new: DataFrame, columns: list[str]
) -> tuple[int, dict[str, int]]:
    """Pass 2: one join on ``id``, aggregated once, giving the common
    ids whose row hash changed and the null-propagating updated count of
    each of ``columns``.

    The reference pads the shorter frame with nulls (_series_pad) and
    compares with null-propagating !=, so an id on one side only counts
    for nothing: the inner join gives the same counts, and a side under
    the broadcast threshold broadcasts instead of shuffling both.  For dense frames the common
    ids are exactly the ids below both lengths, the rows the reference
    compares."""
    if "id" not in df_old.columns or "id" not in df_new.columns:
        return 0, {}
    # Frames with different column lists differ in every common row
    # (the reference hashes rows of different widths); xxhash64 skips
    # nulls, so hashing would miss an added all-null column.
    same_layout = df_old.columns == df_new.columns

    def side(df: DataFrame, tag: str) -> DataFrame:
        cols = [F.col(c).alias(f"__{tag}_{c}") for c in columns]
        if same_layout:
            cols.append(F.xxhash64(*df.columns).alias(f"__{tag}__"))
        return df.select("id", *cols)

    changed = F.col("__new__") != F.col("__old__") if same_layout else F.lit(True)
    upd = [
        F.count(F.when(F.col(f"__new_{c}") != F.col(f"__old_{c}"), 1)).alias(f"upd__{c}")
        for c in columns
    ]
    joined = side(df_new, "new").join(side(df_old, "old"), on="id")
    row = joined.agg(F.count(F.when(changed, 1)).alias("__rows__"), *upd).collect()[0]
    return row["__rows__"], {c: row[f"upd__{c}"] for c in columns}


def _profile(df_old: DataFrame, df_new: DataFrame, old_count: int) -> RunProfile:
    """The run report's kernel, for an old frame that has passed
    :func:`~tmdb_index_spark.operators.upsert.validate_id` with
    ``old_count`` rows: pass 1 over the new frame, the same id checks on
    its row (so a broken new frame raises before the join), then pass 2,
    skipped when either frame is empty."""
    stats = _frame_stats(df_new)
    new_count = stats["__n__"]
    check_dense_id(
        new_count,
        new_count - stats["nonnull__id"],
        stats["__min_id__"],
        stats["__max_id__"],
        stats["distinct__id"],
    )
    rows_updated, updated = (
        _join_counts(df_old, df_new, _shared_columns(df_old, df_new))
        if old_count and new_count
        else (0, {})
    )
    return RunProfile(
        stats=stats,
        old_count=old_count,
        new_count=new_count,
        updated=updated,
        rows_updated=rows_updated,
        byte_lengths={
            c: int(stats[f"bytes__{c}"] or 0)
            for c, dtype in df_new.dtypes
            if dtype in ("string", "binary")
        },
    )


def _fmt(n: int, row_count: int) -> str:
    if n == 0 or row_count == 0:
        return ""
    return f"{n:,} ({n / row_count:.1%})"


def compute_stats(
    df_old: DataFrame,
    df_new: DataFrame,
    approx: bool = False,
    *,
    profile: RunProfile | None = None,
) -> DataFrame | list[dict[str, str]]:
    """All-string stats table ``{name, dtype, null, true, false, unique,
    updated}``, one row per column of ``df_new`` (reference
    tmdb_index.py:142-175).

    ``approx=True`` is the 100 TB path: ``approx_count_distinct`` (HLL,
    default 5% rsd) replaces the exact distinct count — same single-pass
    plan, bounded memory per column instead of an exact hash set. The
    uniqueness flag then tolerates the sketch's error margin. Exact
    remains the default for reference/oracle parity (SCALE.md).

    ``profile``: the :class:`RunProfile` of this frame pair, when the
    caller has already made it (the run report).  The table is then
    only rendered from it and returned as a list of row dicts, not a
    DataFrame: reading one back would cost the report a Spark job
    (``createDataFrame`` is RDD-backed), and the render cannot move to
    a helper because ``perfbench/``'s per-layer trace times the report's
    ``compute_stats`` call by name.  Without ``profile``, both passes
    run here and the result is the reference API's DataFrame.
    """
    if profile is None:
        stats = _frame_stats(df_new, approx)
        updated = _join_counts(df_old, df_new, _shared_columns(df_old, df_new))[1]
    else:
        stats, updated = profile.stats, profile.updated
    row_count = stats["__n__"]
    rows = []
    for c, dtype in df_new.dtypes:
        is_bool = dtype == "boolean"
        nonnull = int(stats[f"nonnull__{c}"])
        if is_bool:
            trues = int(stats[f"true__{c}"] or 0)
            distinct = (trues > 0) + (nonnull > trues)
        else:
            distinct = int(stats[f"distinct__{c}"] or 0)
        # HLL error tolerance when approx: within 5% of nonnull counts
        # as "unique". Exact mode requires equality.
        unique = (
            distinct == nonnull
            if not approx
            else nonnull > 0 and abs(distinct - nonnull) <= 0.05 * nonnull
        )
        rows.append(
            {
                "name": c,
                "dtype": dtype,
                "null": _fmt(row_count - nonnull, row_count),
                "true": _fmt(trues, row_count) if is_bool else "",
                "false": _fmt(nonnull - trues, row_count) if is_bool else "",
                "unique": "true" if unique else "",
                "updated": _fmt(updated.get(c, 0), row_count),
            }
        )
    if profile is not None:
        return rows
    return df_new.sparkSession.createDataFrame(rows, _STATS_SCHEMA)
