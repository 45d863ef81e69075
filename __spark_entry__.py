"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship consumer query at sf0.001;
``queries()``/``oracle_sql()`` expose the full operator catalog from
:mod:`tmdb_index_spark.queries` — one entry per implemented operator
from SURVEY.md §2 plus the north-star extensions, each with a DuckDB
oracle in matching column names/types.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tmdb_index_spark.queries import (
    ORACLES,
    QUERIES,
    ROWS_ONLY_QUERIES,
    dynamic_oracles,
    flagship,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query. Includes the
    dynamic oracles (fitted-centroid literals computed from the tables
    each oracle is checked against).  A builder whose table file is
    missing returns None and leaves that query rows-only; any other
    builder error (a corrupt table, say) propagates from the builder,
    and ``dynamic_oracles`` skips that query, so it has no oracle.

    The dynamic oracles are scale-specific: their centroid literals
    are re-fit per ``sf_dir``, resolved as the explicit argument, then
    ``$SPARK_GRAFT_ORACLE_SF_DIR``, then ``$SPARK_GRAFT_SF_DIR`` (a
    value check that repoints only the data dir still gets literals
    fit on ITS table — round-8 ADVICE), then the driver's sf0.01
    default."""
    import os

    sf_dir = (
        sf_dir
        or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or os.environ.get("SPARK_GRAFT_SF_DIR")
        or "/root/testdata/sf0.01"
    )
    return {**dict(ORACLES), **dynamic_oracles(sf_dir)}


def oracle_contract() -> dict[str, dict]:
    """Machine-readable contract for queries that intentionally have
    no ``oracle_sql()`` entry: ``{"rows_only": True, "reason": ...}``
    means the query's output embeds an engine-private sketch digest no
    second engine can reproduce bit-for-bit, so a rows-recorded
    ``no_oracle`` row is its GREEN state, not a failure (each names
    the exact twin that carries value parity in its reason)."""
    return {
        name: {"rows_only": True, "reason": reason}
        for name, reason in ROWS_ONLY_QUERIES.items()
    }
