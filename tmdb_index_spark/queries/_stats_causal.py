"""Catalog part _stats_causal (mechanical split of queries.py; see __init__)."""

from __future__ import annotations

from tmdb_index_spark.queries._shared import (  # noqa: E501
    DataFrame,
    F,
    LANG_MARKERS,
    SparkSession,
    Window,
    brute_force_topk,
    doc_fingerprint,
    quality_features,
    token_count,
    tokens,
)
from tmdb_index_spark.queries._surface import (  # noqa: E501
    _dec,
    _events,
    _t,
)
from tmdb_index_spark.queries._embed_dedup import (  # noqa: E501
    _COS_SQL,
    _DUCK_SHINGLES,
    _EN_MARKERS_SQL,
    _SEMDEDUP_DROPPED_SQL,
    _assign_sql,
    _minhash_expr,
    _oracle_fit,
    _values_cte,
)

_ATTR_CHANNELS = ("click", "view", "signup", "error")
_ATTR_ITERS = 12


def _removal_effects_sql(table: str, spark_dialect: bool) -> str:
    """One generated SQL text for Markov removal-effect attribution
    (dialect differs only in the integer-division operator): journeys
    truncate at each user's FIRST purchase (total-ordered by (ts,
    event_id) row number), journey ends count as explicit
    ``__drop__`` transitions (omitting them over-predicts conversion —
    the estimated rows would renormalize away the null path), the
    transition matrix quantizes to exact integer ppm, 'purchase' gets
    a ppm self-loop of 1e6 so the absorbing-chain conversion mass
    accumulates through the SAME
    stationary-style v·P power step, and each channel's removal
    scenario filters that channel's rows/columns out of the matrix
    (mass entering a removed channel drops — the standard
    removal-effect convention). ``_ATTR_ITERS`` unrolled steps per
    scenario; every step is pure BIGINT arithmetic, so conversion
    masses are bit-identical across engines; the single double
    division happens in the final effect row."""
    dv = "DIV" if spark_dialect else "//"

    def steps(tag: str, p_cte: str, v0_cte: str) -> str:
        out = []
        prev = v0_cte
        for i in range(1, _ATTR_ITERS + 1):
            out.append(f"""
{tag}{i} AS (
  SELECT {p_cte}.b AS t,
         CAST(SUM({prev}.v * {p_cte}.ppm) {dv} 1000000 AS BIGINT) AS v
  FROM {prev} JOIN {p_cte} ON {p_cte}.a = {prev}.t GROUP BY {p_cte}.b
)""")
            prev = f"{tag}{i}"
        return ",".join(out)

    scen_ctes, conv_selects = [], []
    for c in _ATTR_CHANNELS:
        tag = f"v_{c}_"
        scen_ctes.append(f"""
p_{c} AS (SELECT a, b, ppm FROM p_aug WHERE a <> '{c}' AND b <> '{c}'),
v_{c}_0 AS (SELECT t, v FROM v0 WHERE t <> '{c}'),
{steps(tag, f"p_{c}", f"v_{c}_0")},
conv_{c} AS (
  SELECT COALESCE(MAX(v), 0) AS cv FROM {tag}{_ATTR_ITERS}
  WHERE t = 'purchase'
)""")
        conv_selects.append(f"""
SELECT '{c}' AS channel,
       ROUND(CAST(cf.cv AS DOUBLE) / 1e9, 6) AS p_convert_full,
       ROUND(CAST(conv_{c}.cv AS DOUBLE) / 1e9, 6) AS p_convert_without,
       ROUND(1.0 - CAST(conv_{c}.cv AS DOUBLE)
                   / CAST(NULLIF(cf.cv, 0) AS DOUBLE), 6)
         AS removal_effect
FROM conv_full cf, conv_{c}""")
    return f"""
WITH ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM {table}
),
fpos AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'purchase' THEN rn END)
           AS fp
  FROM ordered GROUP BY user_id
),
kept AS (
  SELECT o.user_id, o.event_type, o.rn
  FROM ordered o JOIN fpos f ON o.user_id = f.user_id
  WHERE f.fp IS NULL OR o.rn <= f.fp
),
pairs AS (
  SELECT event_type AS a,
         COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY rn), '__drop__') AS b
  FROM kept
),
cnt AS (
  SELECT a, b, COUNT(*) AS c FROM pairs
  WHERE a <> 'purchase' GROUP BY a, b
),
rowsum AS (SELECT a, SUM(c) AS tot FROM cnt GROUP BY a),
p_aug AS (
  SELECT cnt.a, cnt.b, CAST((c * 1000000) {dv} tot AS BIGINT) AS ppm
  FROM cnt JOIN rowsum ON cnt.a = rowsum.a
  UNION ALL
  SELECT 'purchase', 'purchase', CAST(1000000 AS BIGINT)
),
nstart AS (SELECT COUNT(*) AS n FROM kept WHERE rn = 1),
v0 AS (
  SELECT event_type AS t,
         CAST((COUNT(*) * 1000000000) {dv} (SELECT n FROM nstart)
              AS BIGINT) AS v
  FROM kept WHERE rn = 1 GROUP BY event_type
),
{steps("v_full_", "p_aug", "v0")},
conv_full AS (
  SELECT COALESCE(MAX(v), 0) AS cv FROM v_full_{_ATTR_ITERS}
  WHERE t = 'purchase'
),
{",".join(scen_ctes)}
{" UNION ALL ".join(conv_selects)}
"""


def channel_removal_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (extension: the data-driven
    multi-touch attribution model — Anderl et al. 2014 "Mapping the
    customer journey"; which event channel, if removed, costs the most
    conversion probability): absorbing-chain conversion mass from the
    first-event start distribution through the journey transition
    matrix (truncated at each user's first purchase, journey ends as
    explicit drop transitions), re-run with each channel's matrix
    rows/columns removed; removal effect = 1 − P(convert | channel
    removed) / P(convert).

    Execution shape: the corpus-sized work — the per-user (ts,
    event_id)-ordered windows and the (a, b) pair count — runs
    distributed (ONE user-keyed shuffle feeds both the truncation and
    the LEAD); the transition table that falls out is
    (|types|+1)²-bounded, so the 12-step × 5-scenario chain recursion
    runs driver-side over collected integers (``bounded_collect``, the
    MMR/robust-trend bounded-math convention — the all-in-SQL chain
    spelling spent 18.7 s of pure tiny-exchange overhead on ≤7-row
    frames). EVERY chain step is exact integer arithmetic (nanos ×
    ppm, Python int ≡ SQL BIGINT on these magnitudes), so the
    conversion masses are bit-identical to the ORACLE, which runs the
    full chain as generated SQL CTEs (:func:`_removal_effects_sql`);
    the final ROUNDs evaluate ENGINE-side over the literal masses so
    HALF_UP parity holds. Channels are the fixture's non-purchase
    event types; an absent channel yields effect 0."""
    from tmdb_index_spark.operators.materialize import bounded_collect

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("__rn__"),
    )
    fpos = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("__rn__").alias("__fp__"))
    )
    kept = ordered.join(fpos, "user_id", "left").filter(
        F.col("__fp__").isNull() | (F.col("__rn__") <= F.col("__fp__"))
    )
    wk = Window.partitionBy("user_id").orderBy("__rn__")
    pairs = kept.select(
        F.col("event_type").alias("__a__"),
        F.coalesce(
            F.lead("event_type").over(wk), F.lit("__drop__")
        ).alias("__b__"),
    )
    cnt_rows = bounded_collect(
        pairs.filter(F.col("__a__") != "purchase")
        .groupBy("__a__", "__b__")
        .agg(F.count(F.lit(1)).alias("__c__")),
        10_000,
        "attribution transition table",
    )
    start_rows = bounded_collect(
        kept.filter(F.col("__rn__") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__c__")),
        10_000,
        "attribution start distribution",
    )

    # exact-integer chain, identical to the oracle's generated CTEs
    cnt = {(r[0], r[1]): int(r[2]) for r in cnt_rows}
    rowsum: dict[str, int] = {}
    for (a, _b), c in cnt.items():
        rowsum[a] = rowsum.get(a, 0) + c
    ppm = {(a, b): (c * 1_000_000) // rowsum[a] for (a, b), c in cnt.items()}
    ppm[("purchase", "purchase")] = 1_000_000
    n_start = sum(int(r[1]) for r in start_rows)
    v0 = {
        r[0]: (int(r[1]) * 1_000_000_000) // n_start for r in start_rows
    } if n_start else {}

    def conv(removed: str | None) -> int:
        p = {
            (a, b): x
            for (a, b), x in ppm.items()
            if removed is None or (a != removed and b != removed)
        }
        v = {t: x for t, x in v0.items() if t != removed}
        for _ in range(_ATTR_ITERS):
            nxt: dict[str, int] = {}
            for (a, b), x in p.items():
                if a in v:
                    nxt[b] = nxt.get(b, 0) + v[a] * x
            v = {t: s // 1_000_000 for t, s in nxt.items()}
        return v.get("purchase", 0)

    cv_full = conv(None)
    rows = [
        (c, cv_full, conv(c)) for c in _ATTR_CHANNELS
    ]
    lit = spark.createDataFrame(
        rows, "channel string, __cvf__ long, __cvw__ long"
    )
    return lit.select(
        "channel",
        F.round(F.col("__cvf__").cast("double") / F.lit(1e9), 6).alias(
            "p_convert_full"
        ),
        F.round(F.col("__cvw__").cast("double") / F.lit(1e9), 6).alias(
            "p_convert_without"
        ),
        F.round(
            F.lit(1.0)
            - F.col("__cvw__").cast("double")
            / F.expr("CAST(NULLIF(__cvf__, 0) AS DOUBLE)"),
            6,
        ).alias("removal_effect"),
    )


_REMOVAL_EFFECTS_SQL = _removal_effects_sql("events", spark_dialect=False)


def order_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric 10% trimmed mean of order value per priority
    (extension: the robust-statistics companion to
    `weighted_median_price` — the mean with the top and bottom decile
    of ranks dropped, immune to the tail outliers that pull a plain
    mean): exact trim boundaries from integer ``n DIV 10`` (never
    ``n·0.1`` float arithmetic — ``floor`` of a binary 0.1 product can
    disagree with exact tenths), ranks from :func:`grouped_rank`'s
    funnel-free buckets (5 priorities = the few-huge-groups window
    funnel the rank family exists to avoid), kept-range sums exact
    DECIMAL. Output per priority: count, per-side trim count, trimmed
    and plain means."""
    from tmdb_index_spark.operators.ordering import grouped_rank

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", _dec("o_totalprice").alias("__p__")
    )
    ranked = grouped_rank(
        o,
        "__p__",
        tiebreak=["o_orderkey"],
        partition_cols=["o_orderpriority"],
        rank_col="__r__",
        n_col="__n__",
        ascending=True,
    )
    k = F.expr("__n__ DIV 10")
    kept = ranked.filter((F.col("__r__") > k) & (F.col("__r__") <= F.col("__n__") - k))
    per = kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("__nk__"), F.sum("__p__").alias("__sk__")
    )
    alls = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("__p__").alias("__s__"),
    )
    return alls.join(F.broadcast(per), "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        F.expr("CAST(n_orders DIV 10 AS BIGINT)").alias("n_trim_each"),
        F.round(
            F.col("__sk__").cast("double") / F.col("__nk__").cast("double"),
            2,
        ).alias("trimmed_mean"),
        F.round(
            F.col("__s__").cast("double") / F.col("n_orders").cast("double"),
            2,
        ).alias("mean_all"),
    )


_TRIMMED_MEAN_SQL = """
WITH o AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders
),
ranked AS (
  SELECT o_orderpriority, p,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY p, o_orderkey) AS r,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM o
),
kept AS (
  SELECT o_orderpriority, p FROM ranked
  WHERE r > n // 10 AND r <= n - n // 10
),
per AS (
  SELECT o_orderpriority, COUNT(*) AS nk, SUM(p) AS sk
  FROM kept GROUP BY 1
),
alls AS (
  SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders, SUM(p) AS s
  FROM o GROUP BY 1
)
SELECT o_orderpriority, n_orders,
       CAST(n_orders // 10 AS BIGINT) AS n_trim_each,
       ROUND(CAST(sk AS DOUBLE) / nk, 2) AS trimmed_mean,
       ROUND(CAST(s AS DOUBLE) / n_orders, 2) AS mean_all
FROM alls JOIN per USING (o_orderpriority)
"""


_FDR_ALPHA = 0.05


def _fdr_sql(table: str) -> str:
    """One SQL text (shared verbatim by Spark and DuckDB — standard
    syntax only) for the per-nation balance z-test + Benjamini–
    Hochberg FDR correction: exact DECIMAL moment sums per nation,
    population z against the global mean, two-sided p via the
    Abramowitz & Stegun 7.1.26 erf polynomial (the only libm calls are
    exp/sqrt — the ``ln`` cross-engine stance: 1-ULP libm drift is
    absorbed by quantizing p to 6 decimals BEFORE the BH comparison,
    so the step-up rule compares identical quantized values), then the
    classic step-up: k* = max rank with p₍ₖ₎ ≤ k·α/m over the
    |nations|-bounded ranked frame."""
    # A&S 7.1.26 coefficients, embedded as repr literals on both sides
    a1, a2, a3, a4, a5 = (
        0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429
    )
    p_coef = 0.3275911
    return f"""
WITH per_nation AS (
  SELECT n.n_name,
         COUNT(*) AS n_custs,
         SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS s,
         SUM(CAST(c.c_acctbal AS DECIMAL(18,2))
             * CAST(c.c_acctbal AS DECIMAL(18,2))) AS ss
  FROM {table} c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
allstats AS (
  SELECT SUM(n_custs) AS nall, SUM(s) AS sall, SUM(ss) AS ssall,
         COUNT(*) AS m
  FROM per_nation
),
z AS (
  SELECT n_name, n_custs, m,
         CAST(s AS DOUBLE) / n_custs AS mean_s,
         CAST(sall AS DOUBLE) / nall AS mean_g,
         (CAST(s AS DOUBLE) / n_custs - CAST(sall AS DOUBLE) / nall)
           / (SQRT(CAST(ssall AS DOUBLE) / nall
                   - (CAST(sall AS DOUBLE) / nall)
                     * (CAST(sall AS DOUBLE) / nall))
              / SQRT(CAST(n_custs AS DOUBLE))) AS zval
  FROM per_nation CROSS JOIN allstats
),
pv AS (
  SELECT n_name, n_custs, m, mean_s, zval,
         ROUND((({a1!r} * (1.0 / (1.0 + {p_coef!r} * (ABS(zval) / SQRT(2.0))))
           + {a2!r} * POWER(1.0 / (1.0 + {p_coef!r} * (ABS(zval) / SQRT(2.0))), 2)
           + {a3!r} * POWER(1.0 / (1.0 + {p_coef!r} * (ABS(zval) / SQRT(2.0))), 3)
           + {a4!r} * POWER(1.0 / (1.0 + {p_coef!r} * (ABS(zval) / SQRT(2.0))), 4)
           + {a5!r} * POWER(1.0 / (1.0 + {p_coef!r} * (ABS(zval) / SQRT(2.0))), 5))
           * EXP(-(ABS(zval) / SQRT(2.0)) * (ABS(zval) / SQRT(2.0)))), 6)
           AS p_value
  FROM z
),
ranked AS (
  SELECT n_name, n_custs, m, mean_s, zval, p_value,
         ROW_NUMBER() OVER (ORDER BY p_value ASC, n_name ASC) AS bh_rank
  FROM pv
),
kstar AS (
  SELECT COALESCE(MAX(CASE WHEN p_value <= bh_rank * {_FDR_ALPHA!r} / m
                           THEN bh_rank ELSE 0 END), 0) AS k
  FROM ranked
)
SELECT n_name,
       CAST(n_custs AS BIGINT) AS n_custs,
       ROUND(mean_s, 2) AS mean_bal,
       ROUND(zval, 4) AS z_score,
       p_value,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       bh_rank <= k AS significant
FROM ranked CROSS JOIN kstar
"""


def nation_balance_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control (extension: the eval-suite statistic
    behind any per-segment metric dashboard — 25 simultaneous
    per-nation balance z-tests inflate false positives, Benjamini–
    Hochberg 1995 step-up bounds the FDR at α=0.05): exact DECIMAL
    moment sums, population z per nation vs the global mean, two-sided
    p via the shared A&S 7.1.26 erf polynomial, p quantized to 6
    decimals BEFORE the step-up comparison so both engines run BH on
    identical values (the only libm calls are exp/sqrt — the
    `source_token_kl` ln stance on 1-ULP drift). ONE SQL text serves
    both engines verbatim (:func:`_fdr_sql`); every frame after the
    per-nation aggregate is |nations|-bounded."""
    import uuid

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cview = f"__fdr_cust_{uuid.uuid4().hex[:12]}"
    nview = f"__fdr_nation_{uuid.uuid4().hex[:12]}"
    cust.createOrReplaceTempView(cview)
    nation.createOrReplaceTempView(nview)
    return spark.sql(_fdr_sql(cview).replace(" nation n ", f" {nview} n "))


_NATION_FDR_SQL = _fdr_sql("customer")


def source_ablation_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation (extension: the ablation
    table a data-mixture owner reads before cutting a source — how
    much does REMOVING each source move the corpus mean quality
    score? The exact group-wise LOO identity mean₋ₛ = (T − tₛ)/(N −
    nₛ) makes the whole table ONE aggregate pass — no per-source
    recompute, the trick that makes source ablations free at 100 TB):
    quality score = the `adaptive_quality_filter` recipe verbatim
    (stopword density − punctuation density, FLOOR-quantized integer
    micros), per-source sums exact BIGINT, the corpus totals broadcast
    back onto the |sources| frame, every mean one double division.
    ``delta`` = corpus mean − LOO mean (the source's contribution);
    NULLIF guards the single-source corpus."""
    from tmdb_index_spark.functions.text import LANG_MARKERS, tokens

    docs = _t(spark, sf_dir, "documents")
    c = F.coalesce(F.col("text"), F.lit(""))
    t = tokens(c)
    n_words = F.size(t)
    n_chars = F.length(c)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop, F.lower(w))))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    score_q = (
        F.floor(
            F.lit(1e6) * n_stop.cast("double")
            / F.greatest(n_words, F.lit(1)).cast("double")
        )
        - F.floor(
            F.lit(1e6) * n_punct.cast("double")
            / F.greatest(n_chars, F.lit(1)).cast("double")
        )
    ).cast("long")
    per_src = (
        docs.select("source", score_q.alias("__q__"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__q__").cast("bigint").alias("__sq__"),
        )
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("__nall__"),
        F.sum("__sq__").cast("bigint").alias("__sqall__"),
    )
    src_mean = F.col("__sq__").cast("double") / F.col("n_docs").cast(
        "double"
    ) / F.lit(1e6)
    corpus_mean = F.col("__sqall__").cast("double") / F.col("__nall__").cast(
        "double"
    ) / F.lit(1e6)
    loo_mean = (
        (F.col("__sqall__") - F.col("__sq__")).cast("double")
        / F.expr("CAST(NULLIF(__nall__ - n_docs, 0) AS DOUBLE)")
        / F.lit(1e6)
    )
    return per_src.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(src_mean, 6).alias("source_mean"),
        F.round(corpus_mean, 6).alias("corpus_mean"),
        F.round(loo_mean, 6).alias("loo_mean"),
        # + 0.0 kills IEEE negative zero: a delta rounding to zero
        # from below prints -0.0 on one engine and 0.0 on the other
        (F.round(corpus_mean - loo_mean, 6) + F.lit(0.0)).alias("delta"),
    )


_SOURCE_ABLATION_SQL = """
WITH t AS (
  SELECT source, coalesce(text, '') AS text,
         regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS ts
  FROM documents
),
scored AS (
  SELECT source,
         CAST(FLOOR(1e6 * len(list_filter(ts, w -> list_contains(
                  __EN_MARKERS__, lower(w)))) * 1.0
                / greatest(len(ts), 1))
            - FLOOR(1e6 * (length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                / greatest(length(text), 1)) AS BIGINT) AS q
  FROM t
),
per_src AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(q)::BIGINT AS sq
  FROM scored GROUP BY 1
),
tot AS (SELECT SUM(n_docs)::BIGINT AS nall, SUM(sq)::BIGINT AS sqall
        FROM per_src)
SELECT source, n_docs,
       ROUND(CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6, 6)
         AS source_mean,
       ROUND(CAST(sqall AS DOUBLE) / CAST(nall AS DOUBLE) / 1e6, 6)
         AS corpus_mean,
       ROUND(CAST(sqall - sq AS DOUBLE)
             / CAST(NULLIF(nall - n_docs, 0) AS DOUBLE) / 1e6, 6) AS loo_mean,
       ROUND(CAST(sqall AS DOUBLE) / CAST(nall AS DOUBLE) / 1e6
             - CAST(sqall - sq AS DOUBLE)
               / CAST(NULLIF(nall - n_docs, 0) AS DOUBLE) / 1e6, 6) + 0.0
         AS delta
FROM per_src, tot
""".replace("__EN_MARKERS__", _EN_MARKERS_SQL)


def signup_psm_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-matched treatment effect (extension: the
    observational-causal sibling of `purchase_did_estimate` —
    nearest-neighbor propensity matching, Rosenbaum & Rubin 1983):
    does signing up (treatment = ≥1 ``signup`` event) lift total
    purchase value (outcome), controlling for engagement (propensity
    proxy = the user's click count)? Each treated SCORE CELL matches
    the nearest control score (argmin |s−s'|, ties to the lower
    control score — matching WITH replacement on the
    coarsened-by-integer-score cells, the standard NN-matching shape
    re-expressed over bounded aggregates: the score tables are
    distinct click-counts, sub-linear in users, so the match join is
    a bounded broadcast cross with a per-treated-score argmin window,
    never a user×user pair join). Exactness: outcomes aggregate as
    DECIMAL; control cell means quantize to integer micros BEFORE the
    Σ n_t·ȳ_c accumulation (the PCA convention — no cross-engine
    float-sum-order drift); ATT divides once at the end, NULL via
    NULLIF when there are no treated or no control users."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("__clicks__"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("bigint")
        .alias("__signups__"),
        F.sum(
            F.when(F.col("event_type") == "purchase", _dec("value")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("__y__"),
    )
    treated = per_user.filter(F.col("__signups__") > 0)
    control = per_user.filter(F.col("__signups__") == 0)
    t_cells = treated.groupBy("__clicks__").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nt__"),
        F.sum("__y__").alias("__syt__"),
    )
    c_cells = control.groupBy("__clicks__").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nc__"),
        (
            F.round(
                F.sum("__y__").cast("double")
                / F.count(F.lit(1)).cast("double")
                * F.lit(1e6)
            )
        )
        .cast("bigint")
        .alias("__mm__"),
    )
    wm = Window.partitionBy("__ts__").orderBy(
        F.abs(F.col("__ts__") - F.col("__cs__")).asc(), F.col("__cs__").asc()
    )
    matched = (
        t_cells.select(F.col("__clicks__").alias("__ts__"), "__nt__", "__syt__")
        .join(
            F.broadcast(
                c_cells.select(
                    F.col("__clicks__").alias("__cs__"), "__mm__"
                )
            )
        )
        .withColumn("__rn__", F.row_number().over(wm))
        .filter(F.col("__rn__") == 1)
    )
    tot = matched.agg(
        F.coalesce(F.sum("__nt__"), F.lit(0)).cast("bigint").alias(
            "n_treated"
        ),
        F.sum("__syt__").alias("__sy__"),
        F.sum(F.col("__nt__") * F.col("__mm__")).cast("decimal(38,0)").alias(
            "__smm__"
        ),
    )
    n_ctrl = control.agg(F.count(F.lit(1)).cast("bigint").alias("n_controls"))
    nt = F.col("n_treated").cast("double")
    mean_t = F.col("__sy__").cast("double") / F.expr("NULLIF(n_treated, 0)")
    mean_c = (
        F.col("__smm__").cast("double")
        / F.lit(1e6)
        / F.expr("NULLIF(n_treated, 0)")
    )
    return tot.join(F.broadcast(n_ctrl)).select(
        "n_treated",
        "n_controls",
        F.round(mean_t, 4).alias("mean_treated_outcome"),
        F.round(mean_c, 4).alias("mean_matched_outcome"),
        F.round(mean_t - mean_c, 4).alias("att"),
    )


_PSM_SQL = """
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
           AS clicks,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT
           AS signups,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(value AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
  FROM events GROUP BY 1
),
t_cells AS (
  SELECT clicks AS ts, COUNT(*)::BIGINT AS nt, SUM(y) AS syt
  FROM per_user WHERE signups > 0 GROUP BY 1
),
c_cells AS (
  SELECT clicks AS cs, COUNT(*)::BIGINT AS nc,
         CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1e6) AS BIGINT)
           AS mm
  FROM per_user WHERE signups = 0 GROUP BY 1
),
matched AS (
  SELECT ts, nt, syt, mm FROM (
    SELECT t.ts, t.nt, t.syt, c.mm,
           ROW_NUMBER() OVER (PARTITION BY t.ts
                              ORDER BY ABS(t.ts - c.cs) ASC, c.cs ASC) AS rn
    FROM t_cells t CROSS JOIN c_cells c
  ) WHERE rn = 1
),
tot AS (
  SELECT COALESCE(SUM(nt), 0)::BIGINT AS n_treated, SUM(syt) AS sy,
         CAST(SUM(nt * mm) AS DECIMAL(38,0)) AS smm
  FROM matched
),
n_ctrl AS (
  SELECT COUNT(*)::BIGINT AS n_controls FROM per_user WHERE signups = 0
)
SELECT n_treated, n_controls,
       ROUND(CAST(sy AS DOUBLE) / NULLIF(n_treated, 0), 4)
         AS mean_treated_outcome,
       ROUND(CAST(smm AS DOUBLE) / 1e6 / NULLIF(n_treated, 0), 4)
         AS mean_matched_outcome,
       ROUND(CAST(sy AS DOUBLE) / NULLIF(n_treated, 0)
             - CAST(smm AS DOUBLE) / 1e6 / NULLIF(n_treated, 0), 4) AS att
FROM tot, n_ctrl
"""


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning per source (extension: the
    lakehouse ops query behind every OPTIMIZE/rewrite job — given
    per-source row and byte totals, how many 128 MiB-target files
    should the rewrite emit and how many rows land in each): byte
    sizes are exact UTF-8 octet counts (Spark ``octet_length`` =
    DuckDB ``strlen``), file counts are pure integer ceiling division
    ((bytes + target − 1) DIV target — no float in the plan math, so
    cross-engine parity is trivial), and the per-source aggregate is
    one combinable map-side groupBy. At 100 TB this query IS the
    compaction driver's planning stage: its output is |sources| rows
    however large the corpus."""
    d = _t(spark, sf_dir, "documents")
    target = 134_217_728  # 128 MiB
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.octet_length(F.col("text"))).cast("bigint").alias(
            "total_bytes"
        ),
        F.max(F.octet_length(F.col("text"))).cast("bigint").alias(
            "max_doc_bytes"
        ),
    )
    nf = f"GREATEST(CAST(1 AS BIGINT), (total_bytes + {target - 1}) DIV {target})"
    return per.select(
        "source",
        "n_docs",
        "total_bytes",
        "max_doc_bytes",
        F.expr(nf).alias("target_files"),
        F.expr(f"CAST((n_docs + {nf} - 1) DIV {nf} AS BIGINT)").alias(
            "rows_per_file"
        ),
        F.round(
            F.col("total_bytes").cast("double")
            / F.col("n_docs").cast("double"),
            2,
        ).alias("avg_doc_bytes"),
    )


_COMPACTION_SQL = """
WITH per AS (
  SELECT source,
         COUNT(*)::BIGINT AS n_docs,
         SUM(strlen(text))::BIGINT AS total_bytes,
         MAX(strlen(text))::BIGINT AS max_doc_bytes
  FROM documents GROUP BY 1
)
SELECT source, n_docs, total_bytes, max_doc_bytes,
       GREATEST(1, (total_bytes + 134217727) // 134217728)::BIGINT
         AS target_files,
       ((n_docs + GREATEST(1, (total_bytes + 134217727) // 134217728) - 1)
        // GREATEST(1, (total_bytes + 134217727) // 134217728))::BIGINT
         AS rows_per_file,
       ROUND(CAST(total_bytes AS DOUBLE) / CAST(n_docs AS DOUBLE), 2)
         AS avg_doc_bytes
FROM per
"""


def conformal_revenue_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for daily revenue
    (extension: distribution-free uncertainty quantification — the
    finite-sample-valid interval construction modern forecast evals
    report; Vovk et al. 2005, Angelopoulos & Bates 2021 intro): a
    per-day-of-week mean revenue model fits on the TRAIN years
    (1995–97), the CALIBRATION years (1998–99) supply the conformal
    radius q̂ = the ⌈(n_cal+1)·0.9⌉-th smallest |residual| (exact
    nearest-rank order statistic, ties broken by day), and the TEST
    years (2000+) measure empirical coverage of pred ± q̂ — conformal
    theory guarantees ≥90% up to finite-sample noise. Day-of-week is
    the portable ``datediff(day, 1995-01-02) % 7`` (engine date-part
    conventions differ; an integer day count cannot). Daily revenue
    aggregates as exact DECIMAL; residuals are single double
    subtractions of identical values; the rank window runs over the
    CALENDAR-BOUNDED calibration frame (~730 rows — the
    `robust_trend_daily` bound convention). Output: split sizes, q̂,
    and test coverage."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(_dec("l_extendedprice")).alias("__rev__")
    daily = (
        li.groupBy(F.date_trunc("day", F.col("l_shipdate")).alias("__day__"))
        .agg(rev)
        .select(
            "__day__",
            F.col("__rev__").cast("double").alias("__y__"),
            F.col("__rev__").alias("__ydec__"),
            (
                F.datediff(
                    F.col("__day__"), F.lit("1995-01-02").cast("date")
                )
                % 7
            ).alias("__dow__"),
        )
    )
    train = daily.filter(F.col("__day__") < F.lit("1998-01-01").cast("timestamp"))
    cal = daily.filter(
        (F.col("__day__") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("__day__") < F.lit("2000-01-01").cast("timestamp"))
    )
    test = daily.filter(F.col("__day__") >= F.lit("2000-01-01").cast("timestamp"))
    # exact DECIMAL sum into the model mean, ONE double division — a
    # double SUM would be addition-order-dependent and could flip the
    # r <= q_hat coverage comparison at boundary values (round-9 ADVICE)
    model = train.groupBy("__dow__").agg(
        (F.sum("__ydec__").cast("double") / F.count(F.lit(1))).alias(
            "__pred__"
        )
    )
    cal_r = cal.join(F.broadcast(model), "__dow__").select(
        "__day__", F.abs(F.col("__y__") - F.col("__pred__")).alias("__r__")
    )
    n_cal_f = cal_r.agg(F.count(F.lit(1)).alias("__n_cal__"))
    w = Window.orderBy(F.col("__r__").asc(), F.col("__day__").asc())
    ranked = cal_r.select(
        "__r__", F.row_number().over(w).alias("__rn__")
    ).join(F.broadcast(n_cal_f))
    q_hat = ranked.filter(
        F.col("__rn__")
        == F.least(
            F.ceil((F.col("__n_cal__") + 1) * F.lit(0.9)).cast("int"),
            F.col("__n_cal__"),
        )
    ).select(F.col("__r__").alias("__q__"), "__n_cal__")
    test_r = test.join(F.broadcast(model), "__dow__").select(
        F.abs(F.col("__y__") - F.col("__pred__")).alias("__r__")
    )
    test_agg = test_r.join(F.broadcast(q_hat)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
        F.first("__n_cal__").cast("bigint").alias("n_cal_days"),
        F.round(F.first("__q__"), 4).alias("q_hat"),
        F.round(
            F.sum(
                F.when(F.col("__r__") <= F.col("__q__"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("coverage"),
    )
    n_train = train.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_days")
    )
    return test_agg.join(F.broadcast(n_train)).select(
        "n_train_days", "n_cal_days", "n_test_days", "q_hat", "coverage"
    )


_CONFORMAL_SQL = """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS day,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS y,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS ydec,
         date_diff('day', DATE '1995-01-02', date_trunc('day', l_shipdate))
           % 7 AS dow
  FROM lineitem GROUP BY 1
),
model AS (
  SELECT dow, CAST(SUM(ydec) AS DOUBLE) / COUNT(*) AS pred
  FROM daily WHERE day < TIMESTAMP '1998-01-01' GROUP BY 1
),
cal_r AS (
  SELECT d.day, ABS(d.y - m.pred) AS r
  FROM daily d JOIN model m USING (dow)
  WHERE d.day >= TIMESTAMP '1998-01-01' AND d.day < TIMESTAMP '2000-01-01'
),
n_cal AS (SELECT COUNT(*) AS n_cal FROM cal_r),
ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r ASC, day ASC) AS rn FROM cal_r
),
q AS (
  SELECT r AS q_hat, n_cal FROM ranked, n_cal
  WHERE rn = LEAST(CAST(CEIL((n_cal + 1) * 0.9) AS INT), n_cal)
),
test_r AS (
  SELECT ABS(d.y - m.pred) AS r
  FROM daily d JOIN model m USING (dow)
  WHERE d.day >= TIMESTAMP '2000-01-01'
),
n_train AS (
  SELECT COUNT(*) AS n_train FROM daily WHERE day < TIMESTAMP '1998-01-01'
)
SELECT n_train::BIGINT AS n_train_days,
       n_cal::BIGINT AS n_cal_days,
       COUNT(*)::BIGINT AS n_test_days,
       ROUND(ANY_VALUE(q_hat), 4) AS q_hat,
       ROUND(SUM(CASE WHEN test_r.r <= q_hat THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
FROM test_r, q, n_train
GROUP BY n_train, n_cal
"""


_MMR_LAM, _MMR_DIV, _MMR_POOL, _MMR_K = 0.7, 0.3, 20, 5


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 (extension: search-result diversification
    — Carbonell & Goldstein 1998 Maximal Marginal Relevance, the
    reranker RAG/search stacks run on the retrieval head so near-
    duplicate hits don't crowd the result list): exact cosine top-20
    for query vector ``vec_id = 0`` is the bounded candidate pool
    (TakeOrderedAndProject — reranking happens on the head, never the
    corpus), then :func:`~tmdb_index_spark.operators.similarity
    .mmr_rerank` greedily picks 5 with λ=0.7. The greedy trajectory
    is engine-exact (rounded-4 rel/sims, repr-shared λ literals, ties
    on lower id), so the ORACLE expresses the same 5 steps as chained
    CTEs — a full static value row for an iterative algorithm."""
    from tmdb_index_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    rel = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=_MMR_POOL
    ).select(F.col("neighbor_id").alias("vec_id"), F.col("cos_sim").alias("rel"))
    pool = rel.join(emb.select("vec_id", "embedding"), "vec_id")
    return mmr_rerank(pool, k=_MMR_K, lam=_MMR_LAM)


def _mmr_oracle_sql() -> str:
    """Static oracle for ``mmr_diversified_topk``: the 5 greedy MMR
    steps as chained CTEs — each step joins the remaining pool to the
    pairwise sim matrix restricted to the selected-so-far set, takes
    MAX(sim), scores λ·rel − (1−λ)·maxsim on the same repr literals
    the Spark side uses (UNROUNDED for the argmax — both engines
    compute bit-identical doubles from the engine-rounded rel/sim
    inputs, so the pick order is exact), takes the (score DESC, id
    ASC) head, and ROUNDS only the OUTPUT score — mirroring the
    operator's in-engine final rounding."""
    steps = []
    sel_union = "SELECT vec_id FROM s1"
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
s{i} AS (
  SELECT p.vec_id, p.rel,
         {_MMR_LAM!r} * p.rel - {_MMR_DIV!r} * MAX(s.sim) AS mmr
  FROM pool p
  JOIN sim s ON s.da = p.vec_id AND s.db IN ({sel_union})
  WHERE p.vec_id NOT IN ({sel_union})
  GROUP BY p.vec_id, p.rel
  ORDER BY mmr DESC, p.vec_id ASC LIMIT 1
)""")
        sel_union += f" UNION ALL SELECT vec_id FROM s{i}"
    selects = [
        f"SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel AS relevance,"
        f" ROUND({_MMR_LAM!r} * rel, 4) AS mmr_score FROM s1"
    ] + [
        f"SELECT CAST({i} AS BIGINT), vec_id, rel, ROUND(mmr, 4) FROM s{i}"
        for i in range(2, _MMR_K + 1)
    ]
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
rel AS (
  SELECT c.vec_id, {_COS_SQL} AS rel
  FROM (SELECT * FROM v WHERE vec_id = 0) q
  CROSS JOIN v c
  WHERE c.vec_id <> 0
  ORDER BY rel DESC, c.vec_id ASC LIMIT {_MMR_POOL}
),
pool AS (SELECT r.vec_id, r.rel, vv.v FROM rel r JOIN v vv USING (vec_id)),
sim AS (
  SELECT q.vec_id AS da, c.vec_id AS db, {_COS_SQL} AS sim
  FROM pool q JOIN pool c ON q.vec_id <> c.vec_id
),
s1 AS (SELECT vec_id, rel FROM pool ORDER BY rel DESC, vec_id ASC LIMIT 1),
{",".join(steps)}
{" UNION ALL ".join(selects)}
"""


_MMR_SQL = _mmr_oracle_sql()


def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct (two-phase dedup-then-count): distinct
    parts shipped per supplier."""
    from tmdb_index_spark.operators.skew import two_phase_count_distinct

    return two_phase_count_distinct(
        _t(spark, sf_dir, "lineitem"), keys=["l_suppkey"], value="l_partkey",
        alias="n_parts",
    )


_DISTINCT_PARTS_SQL = """
SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_suppkey
"""


def lang_id_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID (extension: text analysis): per-lang
    marker hits, deterministic priority-ordered argmax."""
    docs = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    langs = list(LANG_MARKERS)
    def _counter(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return lambda w: F.array_contains(arr, F.lower(w))

    scores = {}
    for lang in langs:
        scores[lang] = F.size(F.filter(t, _counter(LANG_MARKERS[lang])))
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in langs],
    )


def _duck_lang_score(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        f" w -> list_contains([{markers}], lower(w))))"
    )


_LANG_ID_SQL = (
    "WITH s AS (SELECT doc_id, "
    + ", ".join(f"{_duck_lang_score(lang)} AS score_{lang}" for lang in LANG_MARKERS)
    + " FROM documents)\nSELECT doc_id, CASE\n"
    + "\n".join(
        "  WHEN "
        + " AND ".join(
            f"score_{lang} >= score_{other}"
            for other in LANG_MARKERS
            if other != lang
        )
        + f" THEN '{lang}'"
        for lang in list(LANG_MARKERS)[:-1]
    )
    + f"\n  ELSE '{list(LANG_MARKERS)[-1]}' END AS pred_lang, "
    + ", ".join(f"score_{lang}::BIGINT AS score_{lang}" for lang in LANG_MARKERS)
    + " FROM s"
)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-quality features (extension: quality scoring)."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in feats.items()]
    )


def text_normalization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization audit (extension: the C4/CCNet cleaning step
    that runs BEFORE hash-based dedup — two documents differing only
    in curly quotes, NBSP runs, or control characters must collide):
    unicode typography → ASCII, control strip, whitespace collapse,
    trim, as pure column expressions generated from ONE spec
    (`functions/text.py: NORMALIZATION_STEPS`) whose SQL twin the
    oracle evaluates verbatim — the `pca_projection_sql` one-text
    stance applied to a regexp_replace chain. Reported per source:
    docs, docs the normalization actually changed, chars in/out.
    Map-only + one combinable groupBy."""
    from tmdb_index_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    raw = F.coalesce(F.col("text"), F.lit(""))
    norm = normalize_text(F.col("text"))
    return (
        docs.select(
            "source",
            raw.alias("__raw__"),
            norm.alias("__norm__"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("__norm__") != F.col("__raw__")).cast("int"))
            .cast("long")
            .alias("docs_changed"),
            F.sum(F.length("__raw__")).cast("long").alias("chars_in"),
            F.sum(F.length("__norm__")).cast("long").alias("chars_out"),
        )
    )


def _text_normalization_sql() -> str:
    from tmdb_index_spark.functions.text import normalize_text_sql

    n = normalize_text_sql("text")
    return f"""
WITH t AS (
  SELECT source, coalesce(text, '') AS raw, {n} AS norm FROM documents
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN norm <> raw THEN 1 ELSE 0 END)::BIGINT AS docs_changed,
       SUM(length(raw))::BIGINT AS chars_in,
       SUM(length(norm))::BIGINT AS chars_out
FROM t GROUP BY source
"""


_TEXT_NORMALIZATION_SQL = _text_normalization_sql()


_TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents
)
SELECT doc_id,
  length(text)::BIGINT AS n_chars,
  len(ts)::BIGINT AS n_words,
  ROUND(list_sum(list_transform(ts, w -> length(w))) * 1.0 / greatest(len(ts), 1), 4) AS avg_word_len,
  ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
        / greatest(length(text), 1), 4) AS punct_ratio,
  ROUND(len(list_filter(ts, w -> list_contains(['the','and','of','to','a','is'], lower(w)))) * 1.0
        / greatest(len(ts), 1), 4) AS stopword_ratio
FROM t
"""


def adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source adaptive quality-threshold filtering (extension: the
    FineWeb/per-dump lesson — one global quality cutoff over-filters
    clean sources and under-filters noisy ones, so each source gets its
    OWN threshold, here the source's 25th-percentile quality score;
    docs at or above it are kept): quality score = stopword density
    minus punctuation density, quantized to exact integer micros via
    FLOOR (identical double division then FLOOR on both engines — no
    float-tie hazard in the ranking), per-source p25 = the score at
    exact rank ``k = (n + 3) DIV 4``, found by one hash aggregate
    (:func:`~tmdb_index_spark.functions.text.quality_p25`, whose
    per-source buffer is bounded by the score range, not the row
    count — no window sorts a source's rows in one task), and the
    20-row threshold frame broadcasts back for the keep count. The
    score (:func:`~tmdb_index_spark.functions.text.quality_micros`)
    and the threshold are the ONE shared Python source of the recipe
    the corpus composite also calls, so the two cannot drift."""
    from tmdb_index_spark.functions.text import quality_micros, quality_p25

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("source", quality_micros("text").alias("__q__"))
    thr = scored.groupBy("source").agg(quality_p25("__q__").alias("__thr__"))
    n = F.count(F.lit(1))
    kept = F.sum(F.when(F.col("__q__") >= F.col("__thr__"), 1).otherwise(0))
    return (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.round(F.max("__thr__").cast("double") / F.lit(1e6), 6).alias(
                "threshold"
            ),
            kept.cast("long").alias("n_kept"),
            F.round(kept.cast("double") / n.cast("double"), 4).alias(
                "kept_rate"
            ),
        )
    )


_ADAPTIVE_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, source, coalesce(text, '') AS text,
         regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS ts
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         CAST(FLOOR(1e6 * len(list_filter(ts, w -> list_contains(
                  ['the','and','of','to','a','is'], lower(w)))) * 1.0
                / greatest(len(ts), 1))
            - FLOOR(1e6 * (length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                / greatest(length(text), 1)) AS BIGINT) AS q
  FROM t
),
ranked AS (
  SELECT source, q,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY q, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM scored
),
thr AS (
  SELECT source, q AS thr FROM ranked WHERE r = (n + 3) // 4
)
SELECT s.source,
       COUNT(*)::BIGINT AS n_docs,
       ROUND(CAST(MAX(thr) AS DOUBLE) / 1e6, 6) AS threshold,
       SUM(CASE WHEN q >= thr THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       ROUND(SUM(CASE WHEN q >= thr THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         AS kept_rate
FROM scored s JOIN thr USING (source)
GROUP BY s.source
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (extension: token counting)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )


_TOKEN_COUNT_SQL = """
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_tokens
FROM documents
"""


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer merge-coverage audit (extension: the vocab-sizing
    diagnostic behind `token_zipf_fit` — if the tokenizer's merge
    table keeps only the corpus's top-K word BIGRAMS, what fraction of
    each source's adjacent-pair occurrences falls outside it, i.e.
    must be encoded unmerged): vocabulary = the top 512 bigrams by
    corpus frequency (ties broken by the bigram string — a total
    order, so the cut is deterministic), selected with a plan-bounded
    ``orderBy().limit()`` (TakeOrderedAndProject — never a global
    sort), **broadcast** to the per-(source, bigram) count frame; OOV
    share = 1 − in-vocab occurrences / total occurrences from exact
    integer sums. The unit is the bigram (not the word) because it is
    the unit whose type count GROWS with corpus diversity — the
    combinatorial tail merge tables actually truncate. Tokenization
    and bigram construction mirror `dsir_logweights`' recipe verbatim
    in the oracle."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), F.lit("[a-z0-9]+"), 0
    )
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # widen first: the regex tokenize + bigram transform + explode is
    # the hot per-row stage, and a single-row-group corpus would run it
    # one task wide (the ranking.py recipe; no-op at production widths)
    from tmdb_index_spark.operators.partitioning import widen_small_scan

    grams = widen_small_scan(d.select("source", "text")).select(
        "source", F.explode(bigrams).alias("__term__")
    )
    per_src_term = grams.groupBy("source", "__term__").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c__")
    )
    vocab = (
        per_src_term.groupBy("__term__")
        .agg(F.sum("__c__").alias("__f__"))
        .orderBy(F.col("__f__").desc(), F.col("__term__").asc())
        .limit(512)
        .select("__term__", F.lit(1).alias("__in__"))
    )
    joined = per_src_term.join(F.broadcast(vocab), "__term__", "left")
    n_tok = F.sum("__c__")
    n_in = F.sum(F.when(F.col("__in__").isNotNull(), F.col("__c__")).otherwise(0))
    return joined.groupBy("source").agg(
        n_tok.cast("bigint").alias("n_tokens"),
        (n_tok - n_in).cast("bigint").alias("n_oov"),
        F.round(
            F.lit(1.0) - n_in.cast("double") / n_tok.cast("double"), 6
        ).alias("oov_rate"),
    )


_OOV_SQL = """
WITH t AS (
  SELECT source,
         regexp_extract_all(coalesce(lower(text), ''), '[a-z0-9]+') AS ts
  FROM documents
),
grams AS (
  SELECT source,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i + 1])) AS term
  FROM t
),
pst AS (
  SELECT source, term, COUNT(*)::BIGINT AS c
  FROM grams GROUP BY source, term
),
vocab AS (
  SELECT term FROM (
    SELECT term, SUM(c) AS f FROM pst GROUP BY term
  ) ORDER BY f DESC, term ASC LIMIT 512
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN c ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(1.0 - SUM(CASE WHEN v.term IS NOT NULL THEN c ELSE 0 END)
             * 1.0 / SUM(c), 6) AS oov_rate
FROM pst LEFT JOIN vocab v USING (term)
GROUP BY source
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints (extension: document
    fingerprinting). The per-row work (one md5 per distinct shingle +
    an array sort) is the heaviest pure-expression map stage in the
    catalog, and a single-row-group corpus scans as ONE task — widen
    first (metadata-only probe; no-op at production scan widths), the
    `_shingle_frame` pattern."""
    from tmdb_index_spark.operators.partitioning import widen_small_scan

    docs = _t(spark, sf_dir, "documents")
    return widen_small_scan(docs.select("doc_id", "text")).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


_FINGERPRINT_SQL = (
    _DUCK_SHINGLES
    + """
SELECT doc_id,
  array_to_string(list_slice(list_sort(list_transform(shs,
    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)), 1, 4), ',') AS fingerprint
FROM sh
"""
)


def asof_purchase_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension: point-in-time operator Spark lacks
    natively): each purchase event gets the user's most recent prior
    signup value — single-shuffle union+carry-forward plan; the oracle
    is DuckDB's native ASOF JOIN."""
    from tmdb_index_spark.operators.asof import as_of_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("value").alias("purchase_value")
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("signup_value")
    )
    return as_of_join(left, right, on="user_id").select(
        "user_id", "event_id", "purchase_value", "signup_value"
    )


_ASOF_SQL = """
WITH l AS (
  SELECT user_id, ts, event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts, value AS signup_value
  FROM events WHERE event_type = 'signup'
)
SELECT l.user_id, l.event_id, l.purchase_value, r.signup_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based dataset split (extension: sampling) —
    split sizes are reproducible in any engine from the same formula."""
    from tmdb_index_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", {"train": 0.8, "test": 0.1, "val": 0.1})
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SPLIT_SQL = """
WITH b AS (
  SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000) AS bucket
  FROM documents
)
SELECT CASE
         WHEN bucket >= 0 AND bucket < 8000 THEN 'train'
         WHEN bucket >= 8000 AND bucket < 9000 THEN 'test'
         WHEN bucket >= 9000 AND bucket < 10000 THEN 'val'
       END AS split,
       COUNT(*) AS n_docs
FROM b GROUP BY 1
"""


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline (extension): quality gate →
    language keep-list → exact dedup → MinHash-LSH near-dup removal,
    one lazy plan over the documents table."""
    from tmdb_index_spark.operators.corpus import clean_corpus

    return clean_corpus(
        _t(spark, sf_dir, "documents"),
        min_words=10,
        max_stopword_ratio=0.9,
        langs=("en", "de", "fr", "es"),
        jaccard_threshold=0.8,
    )


def _corpus_clean_sql() -> str:
    sig_cols = ", ".join(f"{_minhash_expr(i)} AS mh{i}" for i in range(16))
    return f"""
WITH gated AS (
  -- stopword gate compares the SAME round-4 value the Spark side
  -- gates on (quality_features rounds), so threshold-boundary docs
  -- can't diverge between engines
  SELECT * FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 10
    AND ROUND(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        w -> list_contains(['the','and','of','to','a','is'], lower(w))))
        * 1.0 / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) <= 0.9
    AND lang IN ('en', 'de', 'fr', 'es')
), kept AS (
  SELECT doc_id, text, lang, source, n_chars FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
    FROM gated
  ) WHERE rn = 1
), t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM kept
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(ts)-2, 0)),
                                      i -> array_to_string(list_slice(ts, i, i+2), ' '))) AS shs
  FROM t
), sig AS (
  SELECT doc_id, {sig_cols} FROM sh
), buckets AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN concat_ws(',', mh0, mh1, mh2, mh3)
           WHEN 1 THEN concat_ws(',', mh4, mh5, mh6, mh7)
           WHEN 2 THEN concat_ws(',', mh8, mh9, mh10, mh11)
           ELSE concat_ws(',', mh12, mh13, mh14, mh15)
         END AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
), ex AS (
  SELECT doc_id, UNNEST(shs) AS s, len(shs) AS n FROM sh
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS c, MAX(a.n) AS na, MAX(b.n) AS nb
  FROM cand c
  JOIN ex a ON a.doc_id = c.id_a
  JOIN ex b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
), losers AS (
  SELECT DISTINCT id_b AS doc_id FROM inter
  WHERE ROUND(c * 1.0 / (na + nb - c), 4) >= 0.8
)
SELECT k.* FROM kept k LEFT JOIN losers l ON k.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


_CORPUS_CLEAN_SQL = _corpus_clean_sql()


def corpus_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation composite (extension:
    the reference's `process()` lesson — `tmdb_index.py:546-568`
    composes fetch→upsert→enrich→flag into ONE artifact — applied to
    the north-star LLM surface): adaptive per-source quality gate →
    language keep-list → exact dedup → MinHash-LSH near-dup →
    SemDeDup semantic dedup → 5-gram eval decontamination →
    water-filling budget + map-only hash-rate mixture sample →
    concat-and-chunk packing, each stage the already-certified
    operator, chained over pinned (plan-truncating checkpoint)
    survivor frames so the corpus is scanned O(stages) times. Output:
    one exact-integer yield row per stage (docs_in/out/dropped,
    tokens_out). FULL value oracle despite the k-means fit inside the
    semantic stage — the fitted-literal dynamic-oracle pattern
    (centroids fit on the full embeddings table, independent of the
    upstream filter params, so the oracle re-fit needs no survivor
    replay)."""
    from tmdb_index_spark.operators.corpus_pipeline import (
        corpus_pipeline_stats as _pipeline_stats,
    )

    return _pipeline_stats(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


def _fitted_corpus_pipeline_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``corpus_pipeline_stats``: the SemDeDup
    ``semantic_cells`` k-means fit re-run on the FULL embeddings
    table's parquet sample, then all eight stages as chained CTEs
    mirroring each certified stage oracle: the adaptive-quality recipe (`_ADAPTIVE_QUALITY_SQL`),
    the corpus-clean minhash blocks (`_corpus_clean_sql`), the
    SemDeDup election, the decontam 5-grams (`_DECONTAM_SQL`), the
    water-fill closed form (`_WATERFILL_SQL`) + ppm hash-rate sample,
    and the pack binning (`_PACK_SEQUENCES_SQL`)."""
    from tmdb_index_spark.operators.similarity import semantic_cells

    # occupancy-constant cells — MUST stay the operator's own
    # semantic_cells rule (round 10: flipped from √N)
    fit = _oracle_fit(sf_dir, semantic_cells)
    if fit is None:
        return None
    dim, cents, _ = fit
    sig_cols = ", ".join(f"{_minhash_expr(i)} AS mh{i}" for i in range(16))
    tok_expr = (
        "len(regexp_extract_all(coalesce(text, ''),"
        " '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT"
    )
    return f"""
WITH docs0 AS (
  SELECT doc_id, text, lang, source, {tok_expr} AS tok FROM documents
),
q_scored AS (
  SELECT doc_id, source,
         CAST(FLOOR(1e6 * len(list_filter(
                  regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                  w -> list_contains({_EN_MARKERS_SQL}, lower(w)))) * 1.0
                / greatest(len(regexp_split_to_array(
                      trim(coalesce(text, '')), '\\s+')), 1))
            - FLOOR(1e6 * (length(coalesce(text, ''))
                - length(regexp_replace(coalesce(text, ''),
                                        '[^\\w\\s]', '', 'g'))) * 1.0
                / greatest(length(coalesce(text, '')), 1)) AS BIGINT) AS q
  FROM documents
),
q_ranked AS (
  SELECT source, q,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY q, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM q_scored
),
thr AS (SELECT source, q AS thr FROM q_ranked WHERE r = (n + 3) // 4),
s1 AS (
  SELECT d.* FROM docs0 d
  JOIN q_scored sc ON d.doc_id = sc.doc_id
  JOIN thr t ON d.source = t.source
  WHERE sc.q >= t.thr
),
s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'de', 'fr', 'es')),
s3 AS (
  SELECT doc_id, text, lang, source, tok FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
    FROM s2
  ) WHERE rn = 1
),
t3 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM s3),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(ts)-2, 0)),
                                      i -> array_to_string(list_slice(ts, i, i+2), ' '))) AS shs
  FROM t3
),
sig AS (SELECT doc_id, {sig_cols} FROM sh),
buckets AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN concat_ws(',', mh0, mh1, mh2, mh3)
           WHEN 1 THEN concat_ws(',', mh4, mh5, mh6, mh7)
           WHEN 2 THEN concat_ws(',', mh8, mh9, mh10, mh11)
           ELSE concat_ws(',', mh12, mh13, mh14, mh15)
         END AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
ex AS (SELECT doc_id, UNNEST(shs) AS s, len(shs) AS n FROM sh),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS c, MAX(a.n) AS na, MAX(b.n) AS nb
  FROM cand c
  JOIN ex a ON a.doc_id = c.id_a
  JOIN ex b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT id_b AS doc_id FROM inter
  WHERE ROUND(c * 1.0 / (na + nb - c), 4) >= 0.8
),
s4 AS (
  SELECT s3.* FROM s3 LEFT JOIN losers l ON s3.doc_id = l.doc_id
  WHERE l.doc_id IS NULL
),
v AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v
  FROM embeddings e JOIN s4 ON e.vec_id = s4.doc_id
),
{_values_cte("cent", "cell, cv", cents)},
{_assign_sql(dim)},
{_SEMDEDUP_DROPPED_SQL},
s5 AS (
  SELECT s4.* FROM s4 LEFT JOIN dropped sd ON s4.doc_id = sd.vec_id
  WHERE sd.vec_id IS NULL
),
ng_ev AS (
  SELECT DISTINCT unnest(list_transform(
           list_distinct(list_transform(range(1, len(ts) - 3),
                                        i -> array_to_string(ts[i:i+4], ' '))),
           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS h
  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS ts
        FROM documents WHERE doc_id % 10 = 0)
),
tr5 AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM s5 WHERE doc_id % 10 <> 0
),
ng_tr AS (
  SELECT doc_id, unnest(list_transform(
           list_distinct(list_transform(range(1, len(ts) - 3),
                                        i -> array_to_string(ts[i:i+4], ' '))),
           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS h
  FROM tr5
),
contam AS (SELECT DISTINCT doc_id FROM ng_tr JOIN ng_ev USING (h)),
s6 AS (
  SELECT s5.* FROM s5 LEFT JOIN contam c ON s5.doc_id = c.doc_id
  WHERE s5.doc_id % 10 <> 0 AND c.doc_id IS NULL
),
per_src AS (SELECT source, SUM(tok)::BIGINT AS avail FROM s6 GROUP BY 1),
bb AS (SELECT CAST(FLOOR(SUM(avail) / 2) AS BIGINT) AS budget FROM per_src),
wr AS (
  SELECT source, avail, budget,
         ROW_NUMBER() OVER (ORDER BY avail, source) AS i,
         SUM(avail) OVER (ORDER BY avail, source) AS p,
         COUNT(*) OVER () AS n
  FROM per_src, bb
),
wf AS (
  SELECT source, avail,
         CASE WHEN CAST(budget - (p - avail) AS DOUBLE)
                   / CAST(n - i + 1 AS DOUBLE)
                   <= CAST(avail AS DOUBLE)
              THEN CAST(budget - (p - avail) AS DOUBLE)
                   / CAST(n - i + 1 AS DOUBLE)
         END AS lam
  FROM wr
),
lev AS (SELECT MAX(lam) AS level FROM wf),
caps AS (
  SELECT source, avail,
         CAST(FLOOR(ROUND(CASE WHEN level IS NULL THEN CAST(avail AS DOUBLE)
                    ELSE LEAST(CAST(avail AS DOUBLE), level) END, 4))
              AS BIGINT) AS cap
  FROM wf, lev
),
s7 AS (
  -- exact cross-multiplied ppm keep rule (HUGEINT twin of the Spark
  -- DECIMAL form): hash_ppm * avail < cap * 1e6 — no bigint quotient
  -- to overflow at 100 TB caps
  SELECT s6.* FROM s6 JOIN caps c ON s6.source = c.source
  WHERE c.avail = 0
     OR CAST(('0x' || substr(md5(CAST(s6.doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000 AS HUGEINT) * c.avail
        < CAST(c.cap AS HUGEINT) * 1000000
),
pk AS (
  SELECT source, doc_id % 8 AS shard, tok,
         SUM(tok) OVER (PARTITION BY source, doc_id % 8 ORDER BY doc_id)
           - tok AS strt
  FROM s7
),
nseq AS (
  SELECT COUNT(DISTINCT (source, shard, CAST(FLOOR(strt / 256) AS BIGINT)))
           ::BIGINT AS n
  FROM pk
),
c0 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM docs0),
c1 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s1),
c2 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s2),
c3 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s3),
c4 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s4),
c5 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s5),
c6 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s6),
c7 AS (SELECT COUNT(*)::BIGINT AS n, COALESCE(SUM(tok), 0)::BIGINT AS t FROM s7)
SELECT CAST(0 AS BIGINT) AS stage, 'input' AS stage_name,
       c0.n AS docs_in, c0.n AS docs_out,
       CAST(0 AS BIGINT) AS docs_dropped, c0.t AS tokens_out FROM c0
UNION ALL SELECT 1, 'quality', c0.n, c1.n, c0.n - c1.n, c1.t FROM c0, c1
UNION ALL SELECT 2, 'lang', c1.n, c2.n, c1.n - c2.n, c2.t FROM c1, c2
UNION ALL SELECT 3, 'exact_dedup', c2.n, c3.n, c2.n - c3.n, c3.t FROM c2, c3
UNION ALL SELECT 4, 'lsh_neardup', c3.n, c4.n, c3.n - c4.n, c4.t FROM c3, c4
UNION ALL SELECT 5, 'semantic_dedup', c4.n, c5.n, c4.n - c5.n, c5.t FROM c4, c5
UNION ALL SELECT 6, 'decontam', c5.n, c6.n, c5.n - c6.n, c6.t FROM c5, c6
UNION ALL SELECT 7, 'budget_sample', c6.n, c7.n, c6.n - c7.n, c7.t FROM c6, c7
UNION ALL SELECT 8, 'pack', c7.n, (SELECT n FROM nseq),
          CAST(0 AS BIGINT), c7.t FROM c7
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# Graph dedup groups, term ranking, and window/semi/anti-join breadth
# ---------------------------------------------------------------------------


