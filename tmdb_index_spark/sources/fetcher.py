"""Feed interface + batch builders (SURVEY.md §2.1 S3-S7, §3.3).

``TmdbFeed`` abstracts the three upstream feeds so tests inject
fixtures (the reference gates live tests on an API key instead —
test_tmdb_index.py:191-194).  ``HttpFeed`` reproduces the reference's
network behavior: 10 s timeouts, 404→None, 429 Retry-After/exponential
backoff clamped to [1, 60] s, availability HEAD probes with
previous-day fallback (tmdb_index.py:192-217,259-324,369-402).

All feed I/O is DRIVER-side and sequential by design — the per-id
endpoint is rate-limited and the retry state machine is order-dependent;
parallelizing it across executors would multiply API abuse and break
determinism (SURVEY.md §3.3).  Batches enter Spark with declared
schemas (S4) through
:func:`~tmdb_index_spark.operators.materialize.local_frame`: a scan of
a scratch parquet file, so handing them over starts no Python worker
and keeps no rows in the plan.
"""

from __future__ import annotations

import gzip
import json
import logging
import re
import time
import urllib.error
import urllib.request
from collections.abc import Iterable, Mapping, Sequence
from dataclasses import dataclass, field
from datetime import UTC, date, datetime, timedelta
from typing import Any, Protocol

from pyspark.sql import DataFrame, SparkSession

from tmdb_index_spark.operators.materialize import local_frame
from tmdb_index_spark.schemas import (
    UINT32_MAX,
    changes_schema,
    export_schema,
    external_ids_schema,
)

logger = logging.getLogger(__name__)

__all__ = [
    "TmdbFeed",
    "FixtureFeed",
    "HttpFeed",
    "changes_batch",
    "export_batch",
    "external_ids_batch",
    "export_date",
]

#: Earliest valid changes date per entity type (observed reference
#: behavior: changes queries assert a per-type epoch, tmdb_index.py:198).
CHANGES_EPOCH = {
    "movie": date(2012, 10, 5),
    "tv": date(2012, 10, 5),
    "person": date(2012, 10, 5),
}

_IMDB_PATTERN = {"movie": r"tt(\d+)", "tv": r"tt(\d+)", "person": r"nm(\d+)"}


class TmdbFeed(Protocol):
    """The three upstream feeds, driver-side."""

    def changes(self, entity_type: str, day: date) -> list[dict[str, Any]]:
        """Raw per-day changed-entity dicts ``{id, adult}``."""
        ...

    def export_ids(self, export_type: str) -> list[int]:
        """All ids in the newest available daily export."""
        ...

    def external_ids(self, entity_type: str, tmdb_id: int) -> dict[str, Any] | None:
        """Raw external-ids payload, or None on 404."""
        ...


def _clamp_uint32(value: Any, label: str) -> int | None:
    """Out-of-UInt32-domain values are discarded with a warning
    (reference ``_clamp_uint32``, tmdb_index.py:405-411)."""
    if value is None:
        return None
    try:
        v = int(value)
    except (TypeError, ValueError):
        return None
    if 0 <= v <= UINT32_MAX:
        return v
    logger.warning("%s value %s out of UInt32 range, discarding", label, value)
    return None


def parse_external_ids_payload(
    entity_type: str,
    tmdb_id: int,
    payload: Mapping[str, Any] | None,
    retrieved_at: datetime,
) -> dict[str, Any]:
    """Normalize one external-ids response into the batch row shape
    (reference ``tmdb_external_ids``, tmdb_index.py:414-466): regex
    extraction of numeric ids, UInt32 clamping, 404→success=False,
    ``tvdb_id`` kept for tv only."""
    success = payload is not None
    data = dict(payload or {})

    imdb_numeric = None
    if data.get("imdb_id"):
        m = re.search(_IMDB_PATTERN[entity_type], str(data["imdb_id"]))
        if m:
            imdb_numeric = int(m.group(1))
        else:
            logger.warning("IMDb ID parse error: %s", data["imdb_id"])

    wikidata_numeric = None
    if data.get("wikidata_id"):
        m = re.search(r"Q(\d+)", str(data["wikidata_id"]))
        if m:
            wikidata_numeric = int(m.group(1))
        else:
            logger.warning("Wikidata ID parse error: %s", data["wikidata_id"])

    label = f"{entity_type} id={tmdb_id}"
    row: dict[str, Any] = {
        "success": success,
        "id": tmdb_id,
        "retrieved_at": retrieved_at,
        "imdb_numeric_id": _clamp_uint32(imdb_numeric, f"{label} imdb_numeric_id"),
        "wikidata_numeric_id": _clamp_uint32(
            wikidata_numeric, f"{label} wikidata_numeric_id"
        ),
    }
    if entity_type == "tv":
        row["tvdb_id"] = _clamp_uint32(data.get("tvdb_id"), f"{label} tvdb_id")
    elif data.get("tvdb_id"):
        logger.error("%s had unexpected tvdb_id=%s", label, data["tvdb_id"])
    return row


# ---------------------------------------------------------------------------
# Batch builders: driver-side payloads → schema'd DataFrames (S4)
# ---------------------------------------------------------------------------


def changes_batch(
    spark: SparkSession, rows: Iterable[Mapping[str, Any]], day: date
) -> DataFrame:
    """One day of the changes feed as a DataFrame: null ids dropped,
    duplicate ids keep-LAST in arrival order (reference
    tmdb_index.py:209-215).  The keep-last dedup happens driver-side —
    the batch is feed-sized (thousands of rows), so a dict fold is both
    faithful to arrival order and cheaper than a Spark window.  The batch
    enters as a scratch parquet scan (:func:`local_frame`)."""
    last: dict[int, Mapping[str, Any]] = {}
    for r in rows:
        if r.get("id") is None:
            continue
        last[int(r["id"])] = r
    data = [
        {"id": i, "adult": r.get("adult"), "date": day} for i, r in last.items()
    ]
    return local_frame(spark, data, changes_schema())


def export_batch(
    spark: SparkSession, ids_by_priority: Sequence[Sequence[int]]
) -> DataFrame:
    """Daily export batch ``{id, in_export=True}`` from one or more id
    lists in PRIORITY order (movie before collection — the reference's
    stable sort + keep-first makes the first list win on collisions,
    tmdb_index.py:330-348).  Dedup is driver-side for the same reason as
    :func:`changes_batch` (export is ~1M ints — trivially driver-sized;
    at true scale this becomes a parquet/JSONL scan + dedup_keep_first).
    The batch enters as a scratch parquet scan (:func:`local_frame`), so
    the 1M rows are neither pickled nor kept in the plan."""
    seen: dict[int, None] = {}
    for ids in ids_by_priority:
        for i in ids:
            if i not in seen:
                seen[i] = None
    data = [{"id": i, "in_export": True} for i in sorted(seen)]
    return local_frame(spark, data, export_schema())


def external_ids_batch(
    spark: SparkSession, rows: Sequence[Mapping[str, Any]], entity_type: str
) -> DataFrame:
    """External-ids responses as a schema'd DataFrame (reference
    tmdb_index.py:534), entering as a scratch parquet scan
    (:func:`local_frame`); keys outside the schema are ignored."""
    return local_frame(spark, rows, external_ids_schema(entity_type))


# ---------------------------------------------------------------------------
# Fixture feed (tests) and HTTP feed (production)
# ---------------------------------------------------------------------------


@dataclass
class FixtureFeed:
    """In-memory feed for tests: inject exactly the payload shapes the
    HTTP endpoints would return."""

    changes_by_day: dict[date, list[dict[str, Any]]] = field(default_factory=dict)
    exports: dict[str, list[int]] = field(default_factory=dict)
    external: dict[int, dict[str, Any] | None] = field(default_factory=dict)
    calls: list[tuple[str, Any]] = field(default_factory=list)

    def changes(self, entity_type: str, day: date) -> list[dict[str, Any]]:
        self.calls.append(("changes", day))
        return self.changes_by_day.get(day, [])

    def export_ids(self, export_type: str) -> list[int]:
        self.calls.append(("export", export_type))
        return self.exports.get(export_type, [])

    def external_ids(self, entity_type: str, tmdb_id: int) -> dict[str, Any] | None:
        self.calls.append(("external_ids", tmdb_id))
        return self.external.get(tmdb_id)


def export_date(now: datetime | None = None) -> date:
    """Newest export expected to exist: today's file appears at 8 AM UTC,
    before that use yesterday's (reference ``export_date``,
    tmdb_index.py:273-276)."""
    now = now or datetime.now(UTC)
    if 0 <= now.hour < 8:
        return (now - timedelta(days=1)).date()
    return now.date()


class HttpFeed:
    """Live TMDB feed with the reference's retry/backoff behavior.

    Network-free environments never construct this; it exists so the CLI
    is runnable where the API is reachable.
    """

    def __init__(self, api_key: str, timeout: float = 10.0) -> None:
        self.api_key = api_key
        self.timeout = timeout

    # -- low-level -----------------------------------------------------
    def _fetch_json(self, url: str, retries: int = 5) -> Any:
        """GET with 404→None, 429→Retry-After/exponential backoff clamped
        to [1, 60] s, transient URL/timeout errors→exponential backoff
        (reference ``_fetch_json``, tmdb_index.py:369-402)."""
        exc: Exception | None = None
        for attempt in range(retries):
            try:
                with urllib.request.urlopen(
                    urllib.request.Request(url), timeout=self.timeout
                ) as resp:
                    return json.load(resp)
            except urllib.error.HTTPError as e:
                if e.code == 404:
                    return None
                if e.code == 429:
                    exc = e
                    if attempt == retries - 1:
                        break
                    retry_after = e.headers.get("Retry-After") if e.headers else None
                    try:
                        delay = float(retry_after) if retry_after else 2.0**attempt
                    except ValueError:
                        delay = 2.0**attempt
                    time.sleep(min(max(delay, 1.0), 60.0))
                    continue
                raise
            except (urllib.error.URLError, TimeoutError) as e:
                exc = e
                if attempt < retries - 1:
                    time.sleep(2.0**attempt)
        if exc is None:  # retries < 1: no attempt was made
            raise RuntimeError(f"_fetch_json needs retries >= 1, got {retries}")
        raise exc

    # -- feed API --------------------------------------------------------
    def changes(self, entity_type: str, day: date) -> list[dict[str, Any]]:
        if day < CHANGES_EPOCH[entity_type]:
            raise ValueError(f"date must be on/after {CHANGES_EPOCH[entity_type]}")
        start = day.strftime("%Y-%m-%d")
        end = (day + timedelta(days=1)).strftime("%Y-%m-%d")
        url = (
            f"https://api.themoviedb.org/3/{entity_type}/changes"
            f"?start_date={start}&end_date={end}&api_key={self.api_key}"
        )
        data = self._fetch_json(url)
        return list((data or {}).get("results", []))

    def _export_available(self, export_type: str, d: date) -> bool:
        url = (
            f"http://files.tmdb.org/p/exports/"
            f"{export_type}_ids_{d.strftime('%m_%d_%Y')}.json.gz"
        )
        try:
            with urllib.request.urlopen(
                urllib.request.Request(url, method="HEAD"), timeout=self.timeout
            ) as resp:
                return getattr(resp, "status", 0) == 200
        except Exception as e:  # noqa: BLE001 — probe failure means "absent"
            logger.warning("export probe %s %s: %s", export_type, d, e)
            return False

    def export_ids(self, export_type: str) -> list[int]:
        d = export_date()
        if not self._export_available(export_type, d):
            d2 = d - timedelta(days=1)
            if self._export_available(export_type, d2):
                d = d2
        url = (
            f"http://files.tmdb.org/p/exports/"
            f"{export_type}_ids_{d.strftime('%m_%d_%Y')}.json.gz"
        )
        out: list[int] = []
        with urllib.request.urlopen(
            urllib.request.Request(url), timeout=self.timeout
        ) as resp:
            with gzip.open(resp, mode="rt", encoding="utf-8") as gz:
                for line in gz:
                    out.append(int(json.loads(line)["id"]))
        return out

    def external_ids(self, entity_type: str, tmdb_id: int) -> dict[str, Any] | None:
        url = (
            f"https://api.themoviedb.org/3/{entity_type}/{tmdb_id}/external_ids"
            f"?api_key={self.api_key}"
        )
        return self._fetch_json(url, retries=3)
