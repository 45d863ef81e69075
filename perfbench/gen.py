"""Seeded input generators owned by the benchmark.

Everything the program reads is made here from ``--seed``: the TMDB
feed the CLI fetches (injected in place of ``cli.HttpFeed``) and the
documents/embeddings tables the corpus pipeline scans. The same seed
gives byte-identical inputs. Nothing is read from the repository's
tools or test data, so editing or deleting them cannot change what the
benchmark measures.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tmdb_index_spark.sources.fetcher import FixtureFeed

# ---------------------------------------------------------------------------
# TMDB lifecycle: a bootstrap feed and one incremental day
# ---------------------------------------------------------------------------

#: The reference CLI's work-selection defaults (``--backfill-limit``,
#: ``--refresh-limit``); the expectation model below mirrors them.
BACKFILL_LIMIT = 10_000
REFRESH_LIMIT = 1_000
#: Days of change history the bootstrap feed spreads its ids over.
BOOT_DAYS = 30


@dataclass
class Expected:
    """What the published index must hold after one CLI run."""

    rows: int
    dated: int  # rows whose ``date`` equals ``dated_day``
    dated_day: date
    in_export: int
    changes: tuple[int, int, int]  # the report's ``changes: +a -r ~u``


@dataclass
class TmdbFeeds:
    """Feeds for one bootstrap run and the incremental day after it.

    Changes are kept as day offsets so the feeds can be re-keyed to the
    date the program reads (``date.today()``) right before each run.
    """

    n: int
    boot_changes: list[tuple[int, int, bool]]  # (id, days_before_today, adult)
    day_changes: list[tuple[int, bool]]  # (id, adult), keyed to today
    boot_export: list[int]
    day_export: list[int]
    collection: list[int]
    external: dict[int, dict | None] = field(repr=False)

    def boot_feed(self, today: date) -> FixtureFeed:
        by_day: dict[date, list[dict]] = {}
        for i, back, adult in self.boot_changes:
            by_day.setdefault(today - timedelta(days=back), []).append(
                {"id": i, "adult": adult}
            )
        return FixtureFeed(
            changes_by_day=by_day,
            exports={"movie": self.boot_export, "collection": self.collection},
            external=self.external,
        )

    def day_feed(self, today: date) -> FixtureFeed:
        return FixtureFeed(
            changes_by_day={
                today: [{"id": i, "adult": a} for i, a in self.day_changes]
            },
            exports={"movie": self.day_export, "collection": self.collection},
            external=self.external,
        )

    # -- expectation model: the CLI's documented selection rules --------

    def expected_boot(self, today: date) -> Expected:
        last_back: dict[int, int] = {}
        for i, back, _ in self.boot_changes:
            last_back[i] = min(back, last_back.get(i, back))
        flagged = set(self.boot_export) | set(self.collection)
        return Expected(
            rows=self.n,
            dated=sum(1 for b in last_back.values() if b == 1),
            dated_day=today - timedelta(days=1),
            in_export=sum(1 for i in flagged if i < self.n),
            changes=(self.n, 0, 0),
        )

    def expected_day(self, today: date) -> Expected:
        n_new = max(i for i, _ in self.day_changes) + 1
        changed = {i for i, _ in self.day_changes}
        # bootstrap: no retrieved_at column yet, so backfill takes the
        # first BACKFILL_LIMIT ids and nothing is refreshed
        fetched = set(range(min(self.n, BACKFILL_LIMIT)))
        # day: stale = changed since their fetch; backfill = lowest
        # never-fetched ids; refresh = oldest fetches (one shared
        # timestamp, so ties break by id)
        stale = changed & fetched
        never = (i for i in range(n_new) if i not in fetched)
        backfill = {i for _, i in zip(range(BACKFILL_LIMIT), never)}
        refresh = set(sorted(fetched)[:REFRESH_LIMIT])
        work = stale | backfill | refresh
        old_flag = set(self.boot_export) | set(self.collection)
        new_flag = set(self.day_export) | set(self.collection)
        flips = {i for i in range(self.n) if (i in old_flag) != (i in new_flag)}
        updated = {i for i in changed | work | flips if i < self.n}
        return Expected(
            rows=n_new,
            dated=len(changed),
            dated_day=today,
            in_export=sum(1 for i in new_flag if i < n_new),
            changes=(n_new - self.n, 0, len(updated)),
        )


def make_tmdb(seed: int, n: int) -> TmdbFeeds:
    """A movie index of ``n`` dense ids (about 5% holes, as deleted TMDB
    ids leave), then one day that changes about 1% of ids, appends about
    1% new ids past the max id, and re-exports about 97% of ids."""
    rng = np.random.default_rng(seed)
    present = np.flatnonzero(rng.random(n) < 0.95)
    if present[-1] != n - 1:
        present = np.append(present, n - 1)
    backs = rng.integers(1, BOOT_DAYS + 1, size=present.size)
    adult = rng.random(present.size) < 0.02
    boot = [(int(i), int(b), bool(a)) for i, b, a in zip(present, backs, adult)]
    # ~10% of ids change twice during the bootstrap window: the later
    # day must win
    again = present[rng.random(present.size) < 0.10]
    boot += [(int(i), int(rng.integers(1, BOOT_DAYS + 1)), False) for i in again]

    n_new = n + max(1, n // 100)
    changed = rng.choice(n, size=max(1, n // 100), replace=False)
    appended = np.arange(n, n_new)[rng.random(n_new - n) < 0.95]
    if appended.size == 0 or appended[-1] != n_new - 1:
        appended = np.append(appended, n_new - 1)
    day_ids = np.concatenate([np.sort(changed), appended])
    day = [(int(i), bool(a)) for i, a in zip(day_ids, rng.random(day_ids.size) < 0.02)]

    boot_export = np.flatnonzero(rng.random(n) < 0.97).tolist()
    day_export = np.flatnonzero(rng.random(n_new) < 0.97).tolist()
    collection = np.sort(rng.choice(n_new, size=max(1, n_new // 200), replace=False))

    ext_ok = rng.random(n_new) < 0.9
    imdb = rng.integers(1, 10_000_000, size=n_new)
    wiki = rng.integers(1, 100_000_000, size=n_new)
    external = {
        i: (
            {"imdb_id": f"tt{imdb[i]:07d}", "wikidata_id": f"Q{wiki[i]}"}
            if ext_ok[i]
            else None
        )
        for i in range(n_new)
    }
    return TmdbFeeds(
        n=n,
        boot_changes=boot,
        day_changes=day,
        boot_export=boot_export,
        day_export=day_export,
        collection=collection.tolist(),
        external=external,
    )


# ---------------------------------------------------------------------------
# Corpus: documents + embeddings, replicated by a token bijection
# ---------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def _base_corpus(rng: np.random.Generator, n_docs: int, n_vecs: int):
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < 0.05:
            # near duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and u < 0.052:
            texts.append(texts[int(rng.integers(i))])
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P).tolist()
    labels = rng.integers(0, N_LABELS, size=n_vecs)
    means = rng.normal(0.0, 0.1, size=(N_LABELS, DIM))
    x = means[labels] + rng.normal(0.0, 1.0, size=(n_vecs, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return texts, langs, labels, x.astype(np.float32)


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int, factor: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` holding
    ``factor`` replicas of a seeded base corpus of ``n_docs`` documents
    and ``n_vecs`` unit vectors.

    Replica ``r`` rotates the lowercase alphabet by ``r`` (a bijection
    on tokens: every replica keeps the base corpus's similarity
    structure exactly and shares no shingle with the others, so
    duplicate-pair counts grow linearly with ``factor``) and rolls the
    vector coordinates by ``r`` (a permutation: norms and intra-replica
    similarities are kept while replicas decorrelate). Ids are offset
    per replica.
    """
    rng = np.random.default_rng(seed)
    texts, langs, labels, x = _base_corpus(rng, n_docs, n_vecs)
    alpha = string.ascii_lowercase
    doc_rows: dict[str, list] = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    vec_ids, vecs, vec_labels = [], [], []
    for r in range(factor):
        table = str.maketrans(alpha, alpha[r:] + alpha[:r])
        for i, (t, lang) in enumerate(zip(texts, langs)):
            t = t.translate(table)
            doc_rows["doc_id"].append(r * n_docs + i)
            doc_rows["text"].append(t)
            doc_rows["lang"].append(lang)
            doc_rows["source"].append(f"src{i % N_SOURCES}")
            doc_rows["n_chars"].append(len(t))
        vec_ids.extend(range(r * n_vecs, (r + 1) * n_vecs))
        vecs.append(np.roll(x, r, axis=1))
        vec_labels.append(labels)
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(doc_rows["doc_id"], pa.int64()),
            "text": pa.array(doc_rows["text"], pa.string()),
            "lang": pa.array(doc_rows["lang"], pa.string()),
            "source": pa.array(doc_rows["source"], pa.string()),
            "n_chars": pa.array(doc_rows["n_chars"], pa.int64()),
        }
    )
    flat = np.concatenate(vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(flat.ravel(), pa.float32()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(vec_labels), pa.int32()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
