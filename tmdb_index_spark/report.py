"""Markdown run report (SURVEY.md §2.1 S8, §2.6 C7-C9).

Mirrors the reference's GitHub step summary (``format_gh_step_summary``,
tmdb_index.py:571-600): a markdown stats table + shape/changes/rss
lines, built from the reference's ``_validate_id``, ``compute_stats``
and ``change_summary`` (tmdb_index.py:107-175).

Pass shape: ``validate_id`` on the old frame (which also yields its
row count), then the two passes of the report's kernel
(:func:`tmdb_index_spark.operators.stats._profile`) — one aggregate
over the new frame, which also checks its ids and yields its row count
and ``rss`` byte lengths, and one id-keyed join of the two frames,
aggregated once (skipped when either is empty).
``compute_stats`` and ``change_summary`` only render that result; the
stats rows (one per column) stay on the driver for rendering.

Deltas vs the reference's golden string (test_tmdb_index.py:797-827):
dtype names are Spark's (``bigint`` not ``u32``) and ``rss`` is a
schema-based size estimate (Spark has no ``estimated_size``); layout,
header row, and number formatting are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.operators.diff import change_summary
from tmdb_index_spark.operators.stats import _profile, compute_stats
from tmdb_index_spark.operators.upsert import validate_id

__all__ = ["format_gh_step_summary", "render_markdown_table", "estimated_size_mb"]

_FIXED_WIDTHS = {
    "bigint": 8,
    "int": 4,
    "smallint": 2,
    "tinyint": 1,
    "double": 8,
    "float": 4,
    "boolean": 1,
    "date": 4,
    "timestamp": 8,
}


def _size_mb(dtypes: list[tuple[str, str]], n: int, byte_lengths: dict[str, int]) -> float:
    total = 0.0
    for name, dtype in dtypes:
        if name in byte_lengths:
            total += byte_lengths[name]
        else:
            total += _FIXED_WIDTHS.get(dtype, 8) * n
    return total / (1024 * 1024)


def estimated_size_mb(df: DataFrame) -> float:
    """Schema-based in-memory size estimate in MB: fixed widths per
    primitive type, summed byte lengths for strings/binary.  One
    aggregate pass; an estimate (like the reference's
    ``estimated_size``, tmdb_index.py:598), not an accounting."""
    var_width = [c for c, t in df.dtypes if t in ("string", "binary")]
    row = df.agg(
        F.count(F.lit(1)), *[F.sum(F.octet_length(c)) for c in var_width]
    ).collect()[0]
    return _size_mb(df.dtypes, row[0], {c: int(v or 0) for c, v in zip(var_width, row[1:])})


def render_markdown_table(rows: list[dict[str, str]], columns: list[str]) -> str:
    """Polars ASCII_MARKDOWN-style table: ``(str)``-suffixed headers,
    cells padded to column width (layout of the reference's golden
    output, test_tmdb_index.py:812-817)."""
    headers = [f"{c} (str)" for c in columns]
    widths = [
        max(len(h), *(len(r.get(c, "")) for r in rows)) if rows else len(h)
        for c, h in zip(columns, headers)
    ]
    out = []
    out.append("| " + " | ".join(h.ljust(w) for h, w in zip(headers, widths)) + " |")
    out.append("|" + "|".join("-" * (w + 2) for w in widths) + "|")
    for r in rows:
        out.append(
            "| "
            + " | ".join(r.get(c, "").ljust(w) for c, w in zip(columns, widths))
            + " |"
        )
    return "\n".join(out)


def format_gh_step_summary(df_old: DataFrame, df_new: DataFrame, filename: str) -> str:
    """Render the run report (reference tmdb_index.py:571-600).
    Validates both ids before anything is rendered, the old frame's
    first, like the reference; the new frame's are checked from its
    aggregate, before the join."""
    profile = _profile(df_old, df_new, old_count=validate_id(df_old))

    stats_rows = compute_stats(df_old, df_new, profile=profile)
    added, removed, updated = change_summary(df_old, df_new, profile=profile)
    n_rows = profile.new_count
    n_cols = len(df_new.columns)
    rss = _size_mb(df_new.dtypes, n_rows, profile.byte_lengths)

    table = render_markdown_table(
        stats_rows,
        ["name", "dtype", "null", "true", "false", "unique", "updated"],
    )
    return (
        f"## {filename}\n"
        "\n"
        f"{table}\n"
        "\n"
        f"shape: ({n_rows:,}, {n_cols:,})\n"
        f"changes: +{added:,} -{removed:,} ~{updated:,}\n"
        f"rss: {rss:,.1f}MB\n"
    )
