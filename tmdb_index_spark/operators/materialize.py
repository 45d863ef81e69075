"""Pin a DataFrame that feeds multiple plan subtrees.

Spark recomputes a shared subtree once per consumer unless it is
pinned: an expensive stage (Python ``mapInPandas``, a tokenize+shuffle
pass over the corpus) that feeds a self-join or several aggregates
would otherwise run 2-4x. Three pinning strategies:

* ``"cache"`` (default): storage-memory cache — right while the frame
  fits cluster memory (small/medium corpora). Also the only mode with
  no filesystem requirements. Does NOT truncate the logical plan.
* ``"checkpoint"``: lazy ``localCheckpoint`` — cache semantics PLUS
  logical-plan truncation, required when pinned stages chain (see the
  in-function comment).
* ``"parquet"``: write once and re-read — the 100 TB path. Bounded
  memory, truncated lineage/statistics, and the expensive stage
  provably executes exactly once (a cache-evicted partition would
  otherwise recompute mid-join and, for a nondeterministic Python
  stage, could desynchronize the join sides).

Scratch location for ``"parquet"``: callers on a multi-node cluster
should pass ``scratch_dir`` pointing at SHARED storage (HDFS/S3/NFS) —
executor tasks write the files, so a driver-local temp dir would leave
the re-read incomplete. When ``scratch_dir`` is omitted the path is
derived from ``spark.sql.warehouse.dir``, which on a configured
cluster already names shared storage (and in local mode a local dir,
which is then also correct). Local scratch dirs are best-effort
deleted at interpreter exit; remote (``scheme://``) dirs are the
caller's retention responsibility — delete them once the returned
frame is no longer needed.

:func:`local_frame` hands driver-resident rows to Spark through the
same ledger: the rows land in a driver-local scratch parquet file that
:func:`release_pins` deletes.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Mapping, Sequence
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

_SCRATCH_PATHS: list[str] = []
_PINNED_FRAMES: list[DataFrame] = []
#: Guards the two ledger lists: operators may now pin from a driver
#: side-thread running concurrently with the main build (guide §2.6 —
#: prepare_corpus overlaps its fit collects with the stage chain), and
#: a release racing an append must see a consistent ledger.
_LEDGER_LOCK = threading.RLock()


def register_pin(df: DataFrame) -> DataFrame:
    """Register an externally-persisted frame (an eager checkpoint a
    loop manages itself) with the ledger so :func:`release_pins` frees
    its blocks; returns ``df`` unchanged."""
    with _LEDGER_LOCK:
        _PINNED_FRAMES.append(df)
    return df


def _cleanup() -> None:
    for p in _SCRATCH_PATHS:
        local = p[len("file:"):] if p.startswith("file:") else p
        if "://" not in local:
            shutil.rmtree(local, ignore_errors=True)


atexit.register(_cleanup)


def pin_frame(
    df: DataFrame, materialize: str = "cache", scratch_dir: str | None = None
) -> DataFrame:
    """Return ``df`` pinned so repeated consumption computes it once.

    Every pin is registered; call :func:`release_pins` once the
    consuming query has materialized to return the storage (cached
    blocks / scratch files) — a long-lived session or bench loop that
    re-invokes a pinning operator would otherwise accumulate one pin
    per call until memory-eviction pressure (cache) or interpreter
    exit (parquet scratch)."""
    if materialize == "cache":
        out = df.cache()
        with _LEDGER_LOCK:
            _PINNED_FRAMES.append(out)
        return out
    if materialize == "checkpoint":
        # localCheckpoint TRUNCATES THE LOGICAL PLAN (lineage) as well
        # as pinning the data — required when pins CHAIN: a stage that
        # consumes its cached input k times still embeds the input's
        # full plan k times in its own, so an n-stage composite grows
        # a ~k^n-node plan tree that OOMs the driver at plan-string
        # build (hit live by prepare_corpus at sf0.001). Lazy
        # (eager=False): materializes on first consumption, blocks
        # stored on executors like cache. Trade: recompute after
        # executor loss needs the checkpoint blocks (no lineage), so
        # long multi-tenant jobs should prefer "parquet".
        out = df.localCheckpoint(eager=False)
        with _LEDGER_LOCK:
            _PINNED_FRAMES.append(out)
        return out
    if materialize == "parquet":
        spark = df.sparkSession
        base = scratch_dir or (
            spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
            + "/_pin_scratch"
        )
        path = f"{base}/pin_{uuid.uuid4().hex}.parquet"
        df.write.mode("overwrite").parquet(path)
        with _LEDGER_LOCK:
            _SCRATCH_PATHS.append(path)
        return spark.read.parquet(path)
    raise ValueError(
        f"materialize must be 'cache', 'checkpoint' or 'parquet', "
        f"got {materialize!r}"
    )


def local_frame(
    spark: SparkSession, rows: Sequence[Mapping[str, Any]], schema: T.StructType
) -> DataFrame:
    """Driver-resident rows (mappings keyed by field name) as a
    DataFrame of exactly ``schema`` whose plan starts no Python worker
    and holds no rows.

    ``spark.createDataFrame(rows, schema)`` pickles every row, runs a
    Python-worker pass before the JVM unpickles them, and ships the rows
    inside its scan tasks.  An Arrow-built ``LocalRelation`` starts no
    worker but keeps the rows in the plan: every plan over it is
    optimized over its rows on the driver (about 1.2 s per plan at 1M
    rows on 4 vCPUs), and its scans still ship the rows.  So the rows
    are written to a scratch parquet file with pyarrow and the frame
    scans it.  The list path's semantics are kept: PySpark's own per-row
    verifier runs first (a wrong type raises ``TypeError``, a null in a
    non-nullable field ``ValueError``), and dates and timestamps go
    through each field's ``toInternal`` before the arrays are built (the
    list path reads a naive datetime as local time, where pyarrow would
    read it as UTC).  Flat schemas of atomic types only (every schema in
    :mod:`tmdb_index_spark.schemas`).

    The file is registered with the ledger, so :func:`release_pins`
    deletes it: release only after the last action on every frame built
    from this one.  It is driver-local, like the lifecycle's index path,
    so the executors must share the driver's filesystem (local mode).
    An empty batch has no rows to hold and stays a ``LocalRelation``,
    which the optimizer prunes.
    """
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    if not rows:
        return spark.createDataFrame(arrow_schema.empty_table(), schema)
    columns = []
    for f, af in zip(schema.fields, arrow_schema):
        values = [r.get(f.name) for r in rows]
        if f.needConversion():
            values = [f.toInternal(v) for v in values]
        columns.append(pa.array(values, type=af.type))
    scratch = tempfile.mkdtemp(prefix="tmdb_index_spark_frame_")
    with _LEDGER_LOCK:
        _SCRATCH_PATHS.append(scratch)
    # No dictionary encoding: its hash table of every value stays in the
    # driver's memory pool (about 6 MB at 50k ids, 21 MB at 1M), and the
    # file is scratch.
    pq.write_table(
        pa.Table.from_arrays(columns, schema=arrow_schema),
        os.path.join(scratch, "part-0.parquet"),
        use_dictionary=False,
    )
    # A file scan reads every column as nullable.  The verifier refused
    # nulls in the non-nullable fields, so coalescing each with a value
    # of its own type (the first row's) changes no value and restores
    # the declared nullability.
    cols = []
    for f in schema.fields:
        c = F.col(f.name)
        if not f.nullable:
            c = F.coalesce(c, F.lit(rows[0][f.name]).cast(f.dataType)).alias(f.name)
        cols.append(c)
    return spark.read.schema(schema).parquet(scratch).select(*cols)


def bounded_collect(df: DataFrame, bound: int, what: str) -> list:
    """``collect()`` with a DECLARED driver-side bound: fetch at most
    ``bound + 1`` rows (the limit is pushed into the plan, so an
    over-bound frame never materializes on the driver) and raise if
    the extra row exists. Every driver-side collect in this engine is
    bounded by construction — scalar aggregates, capped fit samples,
    dim-key bitmaps, calendar-bounded rollups — and this helper makes
    each bound EXPLICIT and ENFORCED instead of a comment: a schema
    drift or filter bug that silently turns a "≤10k rows" frame into
    a data-proportional one fails loudly here instead of OOMing the
    driver at 100 TB (round-7 stretch #7 / round-8 VERDICT #7).

    ``what`` names the site in the error. Row ORDER is the plan's
    (add an orderBy upstream if determinism matters — a LocalLimit
    under shuffle is otherwise arbitrary-prefix).
    """
    if bound < 0:
        raise ValueError(f"bound must be >= 0, got {bound}")
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise RuntimeError(
            f"bounded_collect: {what} exceeded its declared driver-side "
            f"bound of {bound} rows — the frame is no longer "
            f"driver-bounded; use the distributed spelling instead"
        )
    return rows


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """The JVM RDD id behind a ``localCheckpoint``-pinned frame, or
    None for non-checkpoint frames. A checkpointed Dataset's analyzed
    plan is a ``LogicalRDD`` holding the exact internal RDD whose
    blocks the checkpoint persisted — ``DataFrame.unpersist()`` cannot
    reach it (it only clears the catalog cache entry), so scoped
    release needs this id to free the blocks without sweeping
    caller-owned persistence."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return int(plan.rdd().id())
    except Exception:  # plan shape drift / session gone — skip scoping
        return None


def release_pins(drop_all: bool = False) -> int:
    """Unpersist every frame pinned so far and delete local parquet
    scratch; returns the number of pins released. Call after the
    consumer of the pinned frames has fully materialized (collected /
    written) — releasing earlier silently degrades a ``cache`` pin
    back to per-consumer recomputation, and makes any LATER use of a
    ``checkpoint`` pin fail outright (its lineage was truncated, so
    the dropped blocks cannot be recomputed). Remote (``scheme://``)
    scratch dirs remain the caller's retention responsibility.

    ``DataFrame.unpersist()`` does NOT free ``localCheckpoint`` blocks
    (they belong to the checkpointed internal RDD, not the catalog
    cache), so checkpoint pins and the CC family's eager round
    checkpoints would otherwise accumulate until driver GC +
    ContextCleaner get around to them — two CC-family queries
    back-to-back at the 100× stress scale OOMed a 48 GB heap on
    exactly those leftover blocks. The default frees EXACTLY the
    ledger's own checkpoint RDDs (ids read off each pinned frame's
    ``LogicalRDD``) — persistence the CALLER created outside the
    ledger survives, so a library call cannot yank a frame the caller
    still needs (round-10 advisor: the previous sweep-everything
    default broke caller-owned checkpoints outright, with no lineage
    left to recompute them). ``drop_all=True`` is the bench/stress
    between-passes reset: it additionally drops EVERY still-persistent
    RDD in the session, callers' included."""
    with _LEDGER_LOCK:
        frames = list(_PINNED_FRAMES)
        _PINNED_FRAMES.clear()
        paths = list(_SCRATCH_PATHS)
        _SCRATCH_PATHS.clear()
    n = len(frames) + len(paths)
    own_ids = set()
    for f in frames:
        rid = _checkpoint_rdd_id(f)
        if rid is not None:
            own_ids.add(rid)
        try:
            f.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    for p in paths:
        local = p[len("file:"):] if p.startswith("file:") else p
        if "://" not in local:
            shutil.rmtree(local, ignore_errors=True)
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            jrdds = spark.sparkContext._jsc.getPersistentRDDs()
            for rid, jrdd in list(jrdds.items()):
                if drop_all or int(rid) in own_ids:
                    jrdd.unpersist(False)
    except Exception:  # no active session / JVM gone — nothing to free
        pass
    return n
