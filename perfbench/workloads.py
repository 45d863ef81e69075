"""The benchmark's workloads: inputs, one op, output checks.

Each workload runs closed loop with one client: the next op starts
when the previous one has returned. An op is a sequence of phases
(``bootstrap``/``day``; ``prepare``/``base``/``fold``/``headline``)
and returns the sum of their wall times; output checks run outside the
timed phases and add to ``failures``.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.spans import Tracer, phase, span

_CTE = re.compile(r"^(WITH )?(\w+) AS \(", re.M)
_CHANGES = re.compile(r"^changes: \+([\d,]+) -([\d,]+) ~([\d,]+)$", re.M)


class Workload:
    """Shared bookkeeping: ``failures`` holds ``(op_index, message)``;
    index -1 marks a check made after the last op."""

    name = ""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.op_index = -1
        self.failures: list[tuple[int, str]] = []

    def fail(self, message: str) -> None:
        self.failures.append((self.op_index, message))

    def finish(self) -> None:
        """Checks that need every op's output; runs after the last op."""


class TmdbLifecycle(Workload):
    """The reference's daily cron through ``cli.main``: a bootstrap run
    from an absent index, then one incremental day on its output."""

    name = "tmdb_lifecycle"
    #: dense ids the bootstrap builds
    N_IDS = 50_000

    def setup(self) -> None:
        self.gen = gen.make_tmdb(self.seed, self.N_IDS)

    def op(self, tracer: Tracer | None) -> float:
        out_dir = os.path.join(self.work, "index")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        path = os.path.join(out_dir, "movie.parquet")
        today = date.today()
        total = 0.0
        for op, feed, expected in (
            ("bootstrap", self.gen.boot_feed(today), self.gen.expected_boot(today)),
            ("day", self.gen.day_feed(today), self.gen.expected_day(today)),
        ):
            # each CLI run is its own daily process: nothing the previous
            # run cached may serve this one
            self.spark.catalog.clearCache()
            seconds, summary, written = self._run_cli(path, feed, op, tracer)
            print(f"  {op}: {seconds:.2f}s", file=sys.stderr)
            total += seconds
            self._check(op, path, summary, expected, written)
        return total

    def _run_cli(self, path: str, feed, op: str, tracer: Tracer | None):
        from tmdb_index_spark import cli

        cli.HttpFeed = lambda api_key: feed
        argv = ["--tmdb-type", "movie", "--filename", path, "--days-limit", "100000"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf), phase(tracer, op) as rec, span(tracer, "cli.main"):
            rc = cli.main(argv)
        # the sink rewrites the index file whole: its size is the op's write
        written = os.path.getsize(path) if os.path.exists(path) else 0
        rec.attrs["bytes_written"] = written
        if rc != 0:
            self.fail(f"{op}: cli.main returned {rc}")
        return rec.seconds, buf.getvalue(), written

    def _check(self, op: str, path: str, summary: str, exp: gen.Expected, written: int) -> None:
        bad = []
        if written <= 0:
            bad.append("no index file published")
        else:
            t = pq.read_table(path, columns=["id", "date", "in_export"])
            ids = t.column("id").to_numpy()
            if t.num_rows != exp.rows:
                bad.append(f"rows {t.num_rows} != {exp.rows}")
            if not np.array_equal(np.sort(ids), np.arange(t.num_rows)):
                bad.append("ids are not dense 0..n-1")
            dates = t.column("date").to_pylist()
            dated = sum(1 for d in dates if d == exp.dated_day)
            if dated != exp.dated:
                bad.append(f"rows dated {exp.dated_day}: {dated} != {exp.dated}")
            flagged = sum(1 for v in t.column("in_export").to_pylist() if v)
            if flagged != exp.in_export:
                bad.append(f"in_export {flagged} != {exp.in_export}")
        m = _CHANGES.search(summary)
        got = tuple(int(x.replace(",", "")) for x in m.groups()) if m else None
        if got != exp.changes:
            bad.append(f"report changes {got} != {exp.changes}")
        if bad:
            self.fail(f"{op}: " + "; ".join(bad))

    def trace(self, tracer: Tracer) -> None:
        from tmdb_index_spark import cli, pipeline, report

        tracer.wrap(cli, "scan_or_empty", "parquet.scan_or_empty")
        tracer.wrap(cli, "process", "pipeline.process")
        tracer.wrap(cli, "format_gh_step_summary", "report.format_gh_step_summary")
        tracer.wrap(
            cli,
            "write_index",
            "parquet.write_index",
            after=lambda a, kw, out: {"bytes_written": os.path.getsize(a[1])},
        )
        for fn in ("insert_latest_changes", "update_export_flag", "insert_external_ids"):
            tracer.wrap(pipeline, fn, f"pipeline.{fn}")
        tracer.wrap(pipeline, "align_id_col", "upsert.align_id_col")
        tracer.wrap(pipeline, "update_or_append", "upsert.update_or_append")
        tracer.wrap(
            pipeline,
            "export_batch",
            "fetcher.export_batch",
            after=lambda a, kw, out: {"rows": len({i for ids in a[1] for i in ids})},
        )
        tracer.wrap(
            pipeline,
            "external_ids_batch",
            "fetcher.external_ids_batch",
            after=lambda a, kw, out: {"rows": len(a[1])},
        )
        tracer.wrap(report, "compute_stats", "stats.compute_stats")
        tracer.wrap(report, "change_summary", "diff.change_summary")
        tracer.wrap(report, "validate_id", "upsert.validate_id")


class CorpusPrepare(Workload):
    """The corpus layers over one seeded corpus, replicated by a token
    bijection. One op runs four phases in one session:

    - ``prepare``: ``corpus_pipeline_stats`` (``prepare_corpus`` stages
      s0-s8 and the stats consumer), then ``release_pins``;
    - ``base``: ``fold_bucket_index`` writes ``STORE_BASE`` documents
      as a fresh bucket store;
    - ``fold``: ``fold_bucket_index`` upserts ``STORE_FOLD`` documents
      into it, a quarter of them re-sent ids with new text;
    - ``headline``: catalog headline queries that reach
      ``operators.similarity`` top-k/ANN and ``operators.ranking``,
      over the same two tables.
    """

    name = "corpus_prepare"
    #: base corpus (documents, vectors) and replication factor
    BASE = (500, 200)
    FACTOR = 4
    #: documents in the bucket store's first fold and in the upsert fold
    STORE_BASE = 800
    STORE_FOLD = 200
    BUCKETS = 16
    #: Headline catalog queries run by the ``headline`` phase, pinned
    #: here so that editing the repository's bench list cannot change
    #: them.
    HEADLINE = (
        "embedding_lsh_tuned_topk",
        "embedding_ivf_multiprobe_tuned",
        "bm25_search",
    )

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.outputs: list[tuple[int, list[tuple]]] = []
        self.headline: list[tuple[int, dict]] = []

    def setup(self) -> None:
        self.data = os.path.join(self.work, "corpus")
        gen.write_corpus(self.seed, self.data, *self.BASE, self.FACTOR)
        docs = pq.read_table(os.path.join(self.data, "documents.parquet"))
        base = docs.slice(0, self.STORE_BASE)
        # a quarter of the upsert re-sends ids of the base with new text
        n_resent = self.STORE_FOLD // 4
        resent = base.slice(0, n_resent)
        resent = resent.set_column(
            resent.schema.get_field_index("text"),
            "text",
            pa.array([t + " revised" for t in resent.column("text").to_pylist()]),
        )
        new = docs.slice(self.STORE_BASE, self.STORE_FOLD - n_resent)
        self.folded = (base, pa.concat_tables([resent, new]))

    def op(self, tracer: Tracer | None) -> float:
        return self._prepare(tracer) + self._folds(tracer) + self._headline(tracer)

    def _prepare(self, tracer: Tracer | None) -> float:
        from tmdb_index_spark.operators import corpus_pipeline, materialize

        docs = self.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        emb = self.spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        with phase(tracer, "prepare") as rec:
            stats = corpus_pipeline.corpus_pipeline_stats(docs, emb)
            with span(tracer, "consume"):
                rows = stats.collect()
            if tracer is not None:
                rec.attrs["materialize.pin_frame.checkpoint_bytes"] = _pinned_bytes(self.spark)
            with span(tracer, "materialize.release_pins"):
                materialize.release_pins()
        self.outputs.append((self.op_index, [tuple(r) for r in rows]))
        print(f"  prepare: {rec.seconds:.2f}s", file=sys.stderr)
        return rec.seconds

    # -- bucket store -------------------------------------------------

    def _folds(self, tracer: Tracer | None) -> float:
        from tmdb_index_spark.sources import bucket_store

        root = os.path.join(self.work, "store")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        index = os.path.join(root, "index")
        total = 0.0
        for name, table in zip(("base", "fold"), self.folded):
            path = os.path.join(root, f"{name}.parquet")
            pq.write_table(table, path)
            before = _listing(index)
            with phase(tracer, name) as rec:
                bucket_store.fold_bucket_index(
                    self.spark, index, self.spark.read.parquet(path), "doc_id", self.BUCKETS
                )
            total += rec.seconds
            rec.attrs["bytes_written"] = _written(before, _listing(index))
            print(f"  {name}: {rec.seconds:.2f}s", file=sys.stderr)
        rows = bucket_store.read_bucket_index(self.spark, index).select("doc_id", "text").collect()
        self._check_folds({r["doc_id"]: r["text"] for r in rows})
        return total

    def _check_folds(self, got: dict[int, str]) -> None:
        """The store must hold every id folded, each with the text of its
        last fold: re-sent ids replace their rows, new ids append."""
        want = {}
        for table in self.folded:
            want.update(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        if len(got) != len(want):
            self.fail(f"bucket store holds {len(got)} ids, folded {len(want)}")
        elif got != want:
            bad = sorted(i for i in want if got.get(i) != want[i])
            self.fail(f"bucket store rows differ from the last fold for ids {bad[:10]}")

    # -- headline queries ---------------------------------------------

    def _headline(self, tracer: Tracer | None) -> float:
        from tmdb_index_spark.operators.materialize import release_pins
        from tmdb_index_spark.queries import QUERIES

        frames = {}
        with phase(tracer, "headline") as rec:
            for q in self.HEADLINE:
                with span(tracer, q):
                    frames[q] = QUERIES[q](self.spark, self.data).toPandas()
                release_pins()
        self.headline.append((self.op_index, frames))
        print(f"  headline: {rec.seconds:.2f}s", file=sys.stderr)
        return rec.seconds

    def trace(self, tracer: Tracer) -> None:
        from tmdb_index_spark.operators import corpus_pipeline
        from tmdb_index_spark.sources import bucket_store

        tracer.wrap(corpus_pipeline, "prepare_corpus", "corpus_pipeline.prepare_corpus")
        tracer.wrap(corpus_pipeline, "pin_frame", "materialize.pin_frame")
        tracer.wrap(corpus_pipeline, "fit_centroids", "similarity.fit_centroids")
        tracer.wrap(
            corpus_pipeline, "minhash_lsh_pairs", "dedup_text.minhash_lsh_pairs"
        )
        tracer.wrap(
            bucket_store,
            "fold_bucket_index",
            "bucket_store.fold_bucket_index",
            after=lambda a, kw, out: {"touched": len(out["touched"])},
        )

    def finish(self) -> None:
        """Value-match every op's stats rows and headline outputs against
        the package's DuckDB oracles."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql(self.data)
        con = duckdb.connect()
        con.sql("SET memory_limit = '1GB'")
        con.sql("SET threads = 4")
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        sql = oracles.get("corpus_pipeline_stats")
        if sql is None:
            for i, _ in self.outputs:
                self.failures.append((i, "no corpus_pipeline_stats oracle for the corpus"))
        else:
            # Same SQL, each CTE evaluated once: inlined, this chain reuses
            # s6 on both sides of a join and DuckDB's plan for it outgrows
            # gigabytes even on a few hundred documents.
            sql = _CTE.sub(
                lambda m: f"{m.group(1) or ''}{m.group(2)} AS MATERIALIZED (", sql.strip()
            )
            expected = sorted(tuple(r) for r in con.sql(sql).fetchall())
            for i, rows in self.outputs:
                if sorted(rows) != expected:
                    self.failures.append((i, f"stats rows {sorted(rows)} != oracle {expected}"))
        for q in self.HEADLINE:
            if q not in oracles:
                self.failures.append((-1, f"{q}: no oracle for the corpus"))
                continue
            want = _normalized(con.sql(oracles[q]).df())
            for i, frames in self.headline:
                msg = _mismatch(_normalized(frames[q]), want)
                if msg:
                    self.failures.append((i, f"{q}: {msg}"))
        con.close()


def _normalized(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _mismatch(got, want) -> str | None:
    """Why ``got`` does not value-match ``want`` exactly, or None."""
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=0)
    except AssertionError as err:
        return str(err).replace("\n", " ")[:300]
    return None


def _listing(top: str) -> dict[str, tuple[int, int]]:
    """``(size, mtime_ns)`` of every file under ``top``."""
    out = {}
    for d, _, files in os.walk(top):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed."""
    return sum(size for path, (size, mtime) in after.items() if before.get(path) != (size, mtime))


def _pinned_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD the session holds persisted
    (the pins' localCheckpoint blocks), read before they are released."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


WORKLOADS = {w.name: w for w in (TmdbLifecycle, CorpusPrepare)}
