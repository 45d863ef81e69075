"""HttpFeed retry/backoff tests with patched urllib — pins the
reference's network behavior (tmdb_index.py:369-402): 404→None,
429→Retry-After honored and clamped, transient errors→exponential
backoff, exhaustion raises. No real network."""

from __future__ import annotations

import io
import json
import urllib.error

import pytest

from tmdb_index_spark.sources.fetcher import HttpFeed, parse_external_ids_payload


class _Resp(io.BytesIO):
    status = 200

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def _http_error(code: int, headers: dict | None = None):
    import email.message

    msg = email.message.Message()
    for k, v in (headers or {}).items():
        msg[k] = v
    return urllib.error.HTTPError("http://x", code, "err", msg, io.BytesIO())


def test_fetch_json_ok(monkeypatch):
    feed = HttpFeed("key")
    monkeypatch.setattr(
        "urllib.request.urlopen",
        lambda req, timeout=None: _Resp(json.dumps({"ok": 1}).encode()),
    )
    assert feed._fetch_json("http://x") == {"ok": 1}


def test_fetch_json_404_returns_none(monkeypatch):
    feed = HttpFeed("key")

    def raise404(req, timeout=None):
        raise _http_error(404)

    monkeypatch.setattr("urllib.request.urlopen", raise404)
    assert feed._fetch_json("http://x") is None


def test_fetch_json_429_honors_retry_after_clamped(monkeypatch):
    feed = HttpFeed("key")
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky(req, timeout=None):
        calls["n"] += 1
        if calls["n"] < 3:
            raise _http_error(429, {"Retry-After": "120"})  # clamped to 60
        return _Resp(b'{"done": true}')

    monkeypatch.setattr("urllib.request.urlopen", flaky)
    monkeypatch.setattr("time.sleep", sleeps.append)
    assert feed._fetch_json("http://x") == {"done": True}
    assert sleeps == [60.0, 60.0]  # clamped to the reference's max


def test_fetch_json_transient_exponential_backoff(monkeypatch):
    feed = HttpFeed("key")
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky(req, timeout=None):
        calls["n"] += 1
        if calls["n"] < 4:
            raise urllib.error.URLError("boom")
        return _Resp(b"5")

    monkeypatch.setattr("urllib.request.urlopen", flaky)
    monkeypatch.setattr("time.sleep", sleeps.append)
    assert feed._fetch_json("http://x") == 5
    assert sleeps == [1.0, 2.0, 4.0]


def test_fetch_json_exhaustion_raises(monkeypatch):
    feed = HttpFeed("key")

    def always_fail(req, timeout=None):
        raise urllib.error.URLError("down")

    monkeypatch.setattr("urllib.request.urlopen", always_fail)
    monkeypatch.setattr("time.sleep", lambda s: None)
    with pytest.raises(urllib.error.URLError):
        feed._fetch_json("http://x", retries=3)


def test_fetch_json_without_attempts_raises_runtime_error():
    with pytest.raises(RuntimeError, match="retries >= 1"):
        HttpFeed("key")._fetch_json("http://x", retries=0)


def test_changes_rejects_pre_epoch_date():
    from datetime import date

    with pytest.raises(ValueError):
        HttpFeed("key").changes("movie", date(2011, 1, 1))


def test_parse_external_ids_golden_shapes():
    from datetime import UTC, datetime

    now = datetime(2024, 5, 4, tzinfo=UTC)
    # reference golden: The Matrix (movie 603) — tmdb_index.py regex tables
    row = parse_external_ids_payload(
        "movie", 603, {"imdb_id": "tt0133093", "wikidata_id": "Q83495"}, now
    )
    assert row["imdb_numeric_id"] == 133093
    assert row["wikidata_numeric_id"] == 83495
    assert row["success"] is True
    # 404 payload
    gone = parse_external_ids_payload("movie", 1, None, now)
    assert gone["success"] is False and gone["imdb_numeric_id"] is None
    # tv keeps tvdb_id; person pattern is nm
    tv = parse_external_ids_payload("tv", 688, {"tvdb_id": 72521}, now)
    assert tv["tvdb_id"] == 72521
    person = parse_external_ids_payload("person", 1, {"imdb_id": "nm0000001"}, now)
    assert person["imdb_numeric_id"] == 1
    # UInt32 clamp discards out-of-domain
    big = parse_external_ids_payload(
        "movie", 1, {"wikidata_id": f"Q{2**33}"}, now
    )
    assert big["wikidata_numeric_id"] is None
