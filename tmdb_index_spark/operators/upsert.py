"""Dense-key upsert core (SURVEY.md §2.6 C1/C2/C9, §2.3 J1/J2, §2.5 D2).

The reference's defining invariant: ``id`` is a dense surrogate key
(0..n-1, unique, non-null — reference tmdb_index.py:107-114) and row
position equals id.  Spark DataFrames are unordered, so every
position-dependent semantic is re-keyed on ``id``:

* keep-last dedup (Polars ``unique(keep="last", maintain_order=True)``,
  reference tmdb_index.py:104) becomes an explicit precedence column +
  ``row_number`` window;
* dense realignment (``int_range`` + left join, tmdb_index.py:62-71)
  becomes ``spark.range`` + left join — the range side is a synthetic
  leaf Catalyst optimizes like any other relation.

Scale notes (100 TB): the upsert is one shuffle on ``id`` (the window)
— at cluster scale both inputs should be pre-bucketed by ``id`` so the
window and the enrichment join co-locate without re-shuffling.  AQE
handles the small-feed case by broadcasting the batch side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "ordered_union_schema",
    "update_or_append",
    "update_or_append_join",
    "align_id_col",
    "validate_id",
    "check_dense_id",
]

_PRECEDENCE = "__precedence__"


def ordered_union_schema(df: DataFrame, other: DataFrame) -> list[str]:
    """Ordered union of column names: ``df``'s order, then ``other``'s new
    columns in their declared order (reference tmdb_index.py:75-88).

    Raises on dtype mismatch for shared columns, mirroring the
    reference's assertion.
    """
    df_types = dict(df.dtypes)
    other_types = dict(other.dtypes)
    for name in df_types.keys() & other_types.keys():
        if df_types[name] != other_types[name]:
            raise TypeError(
                f"column {name!r} dtype mismatch: {df_types[name]} != {other_types[name]}"
            )
    return list(df.columns) + [c for c in other.columns if c not in df_types]


def _match_to_schema(
    df: DataFrame, columns: list[str], dtypes: dict[str, str]
) -> DataFrame:
    """Project to ``columns`` in order, inserting missing ones as typed
    nulls (the reference's ``match_to_schema(..., missing_columns=
    "insert")``, tmdb_index.py:93-95)."""
    have = set(df.columns)
    return df.select(
        *[
            F.col(c) if c in have else F.lit(None).cast(dtypes[c]).alias(c)
            for c in columns
        ]
    )


def update_or_append(df: DataFrame, other: DataFrame) -> DataFrame:
    """Upsert ``other`` into ``df`` by ``id``: matching ids are replaced
    by the incoming row, new ids are appended; appended/updated rows
    carry forward ``df``-only columns via an enrichment join.

    Faithful to reference ``update_or_append`` (tmdb_index.py:74-104):
    ordered schema union, missing-as-null, incoming-row-wins.  The
    reference's physical keep-last is realized with a precedence column
    + ``row_number`` over ``id``.

    ``other`` must be unique on ``id`` (the reference guarantees this at
    every call site by dedup'ing feeds first — tmdb_index.py:214,344-348);
    duplicate incoming ids would make the winner nondeterministic.
    """
    if "id" not in df.columns or "id" not in other.columns:
        raise ValueError("both frames require an 'id' column")

    out_cols = ordered_union_schema(df, other)

    # Enrichment join (J2): incoming rows inherit prior values of columns
    # only the old frame has (reference tmdb_index.py:97-102).
    df_only = [c for c in df.columns if c != "id" and c not in other.columns]
    if df_only:
        other = other.join(df.select("id", *df_only), on="id", how="left")

    dtypes = dict(other.dtypes) | dict(df.dtypes)
    old = _match_to_schema(df, out_cols, dtypes).withColumn(_PRECEDENCE, F.lit(0))
    new = _match_to_schema(other, out_cols, dtypes).withColumn(_PRECEDENCE, F.lit(1))

    unioned = old.unionByName(new)
    w = Window.partitionBy("id").orderBy(F.col(_PRECEDENCE).desc())
    return (
        unioned.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", _PRECEDENCE)
        .select(*out_cols)
    )


def update_or_append_join(df: DataFrame, other: DataFrame) -> DataFrame:
    """Semantically identical to :func:`update_or_append` (incoming row
    wins whole-row on shared columns, df-only columns carry forward,
    new ids append), expressed as ONE full outer join on ``id`` instead
    of union + window.

    This is the co-located scale formulation: over an index bucketed by
    ``id`` the join consumes the bucket layout with NO Exchange on the
    index side — only the (feed-sized) batch shuffles to the bucket
    partitioning. The union+window form cannot do that: the union
    destroys the index's partitioning before the window re-shuffles
    everything. Used by :mod:`tmdb_index_spark.sources.bucketed`.
    """
    if "id" not in df.columns or "id" not in other.columns:
        raise ValueError("both frames require an 'id' column")

    out_cols = ordered_union_schema(df, other)
    old = df.alias("__old__")
    new = other.alias("__new__")
    matched = F.col("__new__.id").isNotNull()

    def pick(c: str) -> F.Column:
        in_old, in_new = c in df.columns, c in other.columns
        if c == "id":
            return F.coalesce(F.col("__old__.id"), F.col("__new__.id")).alias("id")
        if in_old and in_new:
            # whole-row replacement: the batch value wins even when null
            return F.when(matched, F.col(f"__new__.{c}")).otherwise(
                F.col(f"__old__.{c}")
            ).alias(c)
        if in_old:
            return F.col(f"__old__.{c}").alias(c)
        return F.col(f"__new__.{c}").alias(c)

    joined = old.join(new, F.col("__old__.id") == F.col("__new__.id"), "full_outer")
    return joined.select(*[pick(c) for c in out_cols])


def align_id_col(df: DataFrame) -> DataFrame:
    """Materialize the dense id domain 0..max(id): absent ids become
    all-null rows (reference ``align_id_col``, tmdb_index.py:62-71).

    ``spark.range`` is a leaf relation; the left join shuffles on ``id``
    once.  The single-row ``max(id)`` aggregate is an intentional driver
    action — the range bound must be a literal.
    """
    spark = df.sparkSession
    max_id = df.agg(F.max("id")).collect()[0][0]
    if max_id is None:
        return df.select(*df.columns)
    dense = spark.range(int(max_id) + 1).select(F.col("id").cast("long"))
    rest = [c for c in df.columns if c != "id"]
    return dense.join(df, on="id", how="left").select("id", *rest)


def validate_id(df: DataFrame) -> int:
    """Assert the dense-key invariant in ONE aggregate pass; returns the
    row count the pass computes anyway.

    sorted+consecutive+unique+starts-at-0 ⇔
    ``nulls==0 ∧ min==0 ∧ max==n-1 ∧ distinct==n`` (reference
    ``_validate_id``, tmdb_index.py:107-114; sortedness is meaningless
    for an unordered Spark relation — the dense property is what
    consumers rely on).
    """
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id").isNull().cast("int")).alias("nulls"),
        F.min("id").alias("mn"),
        F.max("id").alias("mx"),
        F.count_distinct("id").alias("distinct"),
    ).collect()[0]
    check_dense_id(row["n"], row["nulls"], row["mn"], row["mx"], row["distinct"])
    return row["n"]


def check_dense_id(n: int, nulls: int | None, mn, mx, distinct: int) -> None:
    """The dense-key checks of :func:`validate_id` over already
    aggregated id stats (row count, null count, min, max and exact
    distinct count), so a pass that computes them anyway validates
    without a second scan.  An empty frame passes."""
    if n == 0:
        return
    if (nulls or 0) != 0:
        raise AssertionError("id column must not have nulls")
    if mn != 0:
        raise AssertionError("id column must start at 0")
    if distinct != n:
        raise AssertionError("id column must be unique")
    if mx != n - 1:
        raise AssertionError("id column must be consecutive")
