"""Property-based tests (hypothesis) for the upsert core's algebraic
invariants — beyond the reference's example-based strategy (SURVEY.md
§5: "our plan" adds property tests where the operator has an algebra).

Spark jobs per example are expensive; examples are capped and frames
kept tiny — the value is in the randomized STRUCTURE (overlapping /
disjoint / duplicate-free id sets, null patterns), not volume.
"""

from __future__ import annotations

from datetime import UTC, date, datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import rows
from tmdb_index_spark.operators.upsert import (
    align_id_col,
    update_or_append,
    update_or_append_join,
)

# Frames: unique small ids, nullable string + long payloads.
_frame = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    ),
    max_size=8,
    unique_by=lambda r: r[0],
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(data, "id long, v string, x long")


@given(old=_frame, batch=_frame)
@_SETTINGS
def test_window_and_join_upserts_agree(spark, old, batch):
    a = rows(update_or_append(_df(spark, old), _df(spark, batch)))
    b = rows(update_or_append_join(_df(spark, old), _df(spark, batch)))
    assert a == b


@given(old=_frame, batch=_frame)
@_SETTINGS
def test_upsert_idempotent(spark, old, batch):
    once = update_or_append(_df(spark, old), _df(spark, batch))
    twice = update_or_append(once, _df(spark, batch))
    assert rows(once) == rows(twice)


@given(old=_frame, batch=_frame)
@_SETTINGS
def test_upsert_keys_are_union_and_batch_wins(spark, old, batch):
    out = rows(update_or_append(_df(spark, old), _df(spark, batch)))
    assert [r["id"] for r in out] == sorted({r[0] for r in old} | {r[0] for r in batch})
    by_id = {r["id"]: r for r in out}
    for bid, bv, bx in batch:
        assert by_id[bid]["v"] == bv and by_id[bid]["x"] == bx


@given(data=_frame)
@_SETTINGS
def test_align_is_dense_and_idempotent(spark, data):
    aligned = align_id_col(_df(spark, data))
    got = rows(aligned)
    if not data:
        assert got == []
        return
    assert [r["id"] for r in got] == list(range(max(r[0] for r in data) + 1))
    assert rows(align_id_col(aligned)) == got


# A dense index row per id: date and retrieved_at each null or one of a
# few days, so the stale, backfill and refresh branches all fire.
_DAYS = [date(2024, 5, d) for d in (1, 2, 3)]
_index_row = st.tuples(
    st.one_of(st.none(), st.sampled_from(_DAYS)),
    st.one_of(
        st.none(),
        st.sampled_from([datetime(d.year, d.month, d.day, 6, tzinfo=UTC) for d in _DAYS]),
    ),
)
# An external-ids payload: 404, empty, well-formed, or unparseable ids.
_payload = st.one_of(
    st.none(),
    st.just({}),
    st.builds(lambda n: {"imdb_id": f"tt{n:07d}", "wikidata_id": f"Q{n}"},
              st.integers(min_value=0, max_value=99)),
    st.just({"imdb_id": "bogus", "wikidata_id": "x"}),
)


@given(
    index=st.lists(_index_row, min_size=1, max_size=10),
    payloads=st.lists(_payload, min_size=10, max_size=10),
    backfill_limit=st.integers(min_value=0, max_value=4),
    refresh_limit=st.integers(min_value=0, max_value=4),
)
@_SETTINGS
def test_insert_external_ids_keeps_a_dense_index_dense(
    spark, index, payloads, backfill_limit, refresh_limit
):
    """C5 runs without the reference's second ``align_id_col``: on a
    dense input it must already return the same dense id set, on which
    that align is an identity."""
    from tmdb_index_spark.operators.upsert import validate_id
    from tmdb_index_spark.pipeline import insert_external_ids
    from tmdb_index_spark.sources.fetcher import FixtureFeed

    df = spark.createDataFrame(
        [(i, d, ra) for i, (d, ra) in enumerate(index)],
        "id long, date date, retrieved_at timestamp",
    )
    feed = FixtureFeed(external=dict(enumerate(payloads)))
    out = insert_external_ids(
        df, feed, "movie", backfill_limit, refresh_limit,
        now=datetime(2024, 5, 3, 12, tzinfo=UTC),
    )
    assert sorted(r[0] for r in out.select("id").collect()) == list(range(len(index)))
    validate_id(out)


# ---------------------------------------------------------------------------
# Round-5 operators: packing / chunking / ordering invariants
# ---------------------------------------------------------------------------

_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.text(alphabet="ab ", max_size=24),
    ),
    max_size=8,
    unique_by=lambda r: r[0],
)


@given(docs=_docs, capacity=st.integers(min_value=1, max_value=8))
@_SETTINGS
def test_pack_sequences_conserves_tokens_and_bins_monotonic(spark, docs, capacity):
    from tmdb_index_spark.operators.llm_prep import pack_sequences
    from tmdb_index_spark.functions.text import token_count
    from pyspark.sql import functions as F

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pack_sequences(
        df, group_col=None, capacity=capacity, shards=1, id_col="doc_id"
    ).orderBy("doc_id").collect()
    # token totals conserved vs direct counting
    direct = (
        df.select(
            F.coalesce(token_count(F.coalesce(F.col("text"), F.lit(""))), F.lit(0)).alias("n")
        ).agg(F.sum("n")).collect()[0][0]
    ) or 0
    assert sum(r["n_tokens"] for r in out) == direct
    # bins are non-decreasing in id order and start at 0 when docs exist
    bins = [r["bin"] for r in out]
    assert bins == sorted(bins)
    if bins:
        assert bins[0] == 0


@given(
    tokens_n=st.integers(min_value=1, max_value=30),
    chunk=st.integers(min_value=1, max_value=10),
)
@_SETTINGS
def test_chunk_documents_nonoverlapping_reconstructs(spark, tokens_n, chunk):
    from tmdb_index_spark.operators.llm_prep import chunk_documents

    text = " ".join(f"w{i}" for i in range(tokens_n))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = (
        chunk_documents(df, chunk_tokens=chunk, stride=chunk)
        .orderBy("chunk_id")
        .collect()
    )
    # stride == chunk: chunks tile the doc exactly, no loss, no overlap
    assert " ".join(r["chunk_text"] for r in out) == text
    assert sum(r["n_chunk_tokens"] for r in out) == tokens_n


@given(
    keys=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=12
    )
)
@_SETTINGS
def test_global_positions_always_a_permutation_in_key_order(spark, keys):
    from tmdb_index_spark.operators.ordering import global_row_positions

    data = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(data, "id long, k long")
    got = global_row_positions(df, "k", tiebreak=["id"], buckets=3).collect()
    by_pos = {r["pos"]: (r["k"], r["id"]) for r in got}
    assert sorted(by_pos) == list(range(len(keys)))
    assert [by_pos[p] for p in range(len(keys))] == sorted(
        (k, i) for i, k in data
    )


# --- mixture_sample: hash-grid algebra ------------------------------------

_mix_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=1, max_value=50),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(data=_mix_rows, b1=st.floats(min_value=1, max_value=200),
       b2=st.floats(min_value=1, max_value=200))
@_SETTINGS
def test_mixture_sample_budget_monotone(spark, data, b1, b2):
    """A larger budget's keep-set CONTAINS a smaller budget's: rates
    grow monotonically with budget on the shared hash-bucket grid, so
    scaling a mixture up never swaps rows — the property that lets a
    pipeline grow a dataset incrementally."""
    from tmdb_index_spark.operators.sampling import mixture_sample

    lo, hi = sorted([b1, b2])
    df = spark.createDataFrame(data, "id long, src string, cost long")
    w = {"a": 0.6, "b": 0.4}
    small = {r["id"] for r in mixture_sample(df, "src", "cost", "id", w, lo).collect()}
    big = {r["id"] for r in mixture_sample(df, "src", "cost", "id", w, hi).collect()}
    assert small <= big


# --- dup_span_fraction: bounds and blindness to unique text ----------------

_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.lists(
            st.sampled_from(["w1", "w2", "w3", "w4"]), max_size=8
        ).map(" ".join),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda r: r[0],
)


@given(docs=_docs)
@_SETTINGS
def test_dup_span_fraction_bounds(spark, docs):
    from tmdb_index_spark.operators.llm_prep import dup_span_fraction

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for r in dup_span_fraction(df, n=3).collect():
        assert 0 <= r["dup_spans"] <= r["n_spans"]
        if r["n_spans"] == 0:
            assert r["dup_frac"] is None
        else:
            assert 0.0 <= r["dup_frac"] <= 1.0


# --------------------------------------------------------------- nucleus


@given(
    weights=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=8
    ),
    p=st.sampled_from([0.25, 0.5, 0.8, 1.0]),
)
@_SETTINGS
def test_nucleus_covers_p_and_is_minimal(spark, weights, p):
    from tmdb_index_spark.operators.sampling import nucleus_filter

    total = sum(weights)
    if total == 0:
        return  # all-zero weights: coverage undefined, nothing to assert
    data = [("g", f"i{j:02d}", w) for j, w in enumerate(weights)]
    df = spark.createDataFrame(data, "grp string, item string, w long")
    kept = nucleus_filter(df, "grp", "w", p, tiebreak_col="item").collect()
    kept_w = sorted((r["w"] for r in kept), reverse=True)
    # coverage: the kept set reaches p of the total
    assert sum(kept_w) >= p * total - 1e-9
    # minimality: dropping the lightest kept item falls below p
    if kept_w:
        assert sum(kept_w[:-1]) < p * total


# --------------------------------------------------------------- prorate


@given(
    spans=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),   # start day offset
            st.integers(min_value=0, max_value=10),   # span length - 1
            st.integers(min_value=1, max_value=99999),  # cents
        ),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_prorate_conserves_cents_exactly(spark, spans):
    from datetime import date, timedelta

    from pyspark.sql import functions as F

    from tmdb_index_spark.operators.ranges import prorate_over_days

    base = date(2024, 1, 1)
    data = [
        (base + timedelta(days=s), base + timedelta(days=s + n), c / 100.0)
        for s, n, c in spans
    ]
    df = spark.createDataFrame(data, "s date, e date, v double")
    out_cents = (
        prorate_over_days(df, "s", "e", "v")
        .agg(F.sum(F.round(F.col("amount") * 100).cast("long")).alias("c"))
        .collect()[0]["c"]
    )
    assert out_cents == sum(c for _, _, c in spans)


# --------------------------------------------------------------- frontier


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_frontier_is_exactly_the_nondominated_set(spark, pts):
    from tmdb_index_spark.operators.frontier import frontier_2d

    data = [(float(x), y) for x, y in pts]
    df = spark.createDataFrame(data, "x double, y long")
    got = sorted(
        (r["x"], r["y"]) for r in frontier_2d(df, "x", "y", buckets=3).collect()
    )
    pairs = sorted(set(data))
    want = sorted(
        p
        for p in pairs
        if not any(
            q[0] <= p[0] and q[1] <= p[1] and q != p for q in pairs
        )
    )
    assert got == want


def test_clamped_balance_identity_matches_direct_recursion(spark):
    """The reflection closed form b_n = S_n − min(0, min_k S_k) used by
    clamped_running_balance must equal the literal sequential recursion
    b_i = max(0, b_{i-1} + d_i) replayed row by row."""
    import pandas as pd

    from tmdb_index_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: r
        for r in QUERIES["clamped_running_balance"](spark, sf).collect()
    }

    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    credit = {"view", "click", "signup"}
    for uid, g in ev.groupby("user_id"):
        b = 0.0
        for _, row in g.iterrows():
            d = round(float(row["value"]), 2)
            b = max(0.0, b + (d if row["event_type"] in credit else -d))
        assert abs(got[uid]["final_balance"] - b) < 1e-6, uid
        assert got[uid]["n_events"] == len(g)


def test_survival_curve_is_coherent(spark):
    """KM invariants: at-risk counts never increase over time, survival
    is nonincreasing in (0, 1], and at-risk never exceeds the user
    count."""
    from tmdb_index_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows_ = (
        QUERIES["signup_conversion_survival"](spark, sf)
        .orderBy("t_hours")
        .collect()
    )
    assert rows_, "expected at least one conversion event"
    n_users = 15  # sf0.001 events table has 15 users
    at_risk = [r["n_at_risk"] for r in rows_]
    surv = [r["survival"] for r in rows_]
    assert all(a <= n_users for a in at_risk)
    assert all(a >= b for a, b in zip(at_risk, at_risk[1:]))
    assert all(0 < s <= 1 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(r["n_converted"] <= r["n_at_risk"] for r in rows_)


# ---------------------------------------------------------------------------
# temperature_allocation: budget-conservation / cap / proportionality
# algebra over randomized availability profiles
# ---------------------------------------------------------------------------

_profile = st.lists(
    st.integers(min_value=0, max_value=5000),
    min_size=1,
    max_size=6,
)


@given(avails=_profile, budget=st.integers(min_value=0, max_value=30000),
       t_pow=st.integers(min_value=0, max_value=2),
       cap=st.integers(min_value=1, max_value=3))
@_SETTINGS
def test_temperature_allocation_invariants(spark, avails, budget, t_pow, cap):
    from tmdb_index_spark.operators.sampling import temperature_allocation

    data = [(f"s{i}", a, budget) for i, a in enumerate(avails)]
    df = spark.createDataFrame(
        data, "source string, avail long, __budget__ long"
    )
    got = temperature_allocation(
        df, "avail", temperature=float(2 ** t_pow), epoch_cap=cap
    ).collect()
    assert len(got) == len(avails)
    caps = {r["source"]: r["cap_tokens"] for r in got}
    total = 0.0
    for r in got:
        # never above the epoch cap (4-decimal rounding slack)
        assert r["allocation"] <= caps[r["source"]] + 1e-3
        assert r["allocation"] >= 0.0
        if r["capped"]:
            # capped rows sit exactly at their cap (or at 0 avail)
            assert r["allocation"] == float(caps[r["source"]])
        total += r["allocation"]
    # conservation: the budget is spent exactly, unless supply runs out
    expect = min(float(budget), float(sum(a * cap for a in avails)))
    assert abs(total - expect) < 1e-2 * max(len(avails), 1)
