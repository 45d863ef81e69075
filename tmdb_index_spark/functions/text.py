"""Text-analysis column expressions for the LLM-data-pipeline surface.

These are the building blocks for dedup/quality/language operators over
the ``documents`` table (north-star extensions beyond the reference's
own surface — SURVEY.md §7 phase 5). Everything here is a pure column
expression built from JVM-side ``pyspark.sql.functions`` — no Python
UDFs — so the whole pipeline stays inside whole-stage codegen and
scales linearly with executors.

Cross-engine determinism: hashing uses md5 (identical output in every
engine) parsed to a 60-bit int, NOT ``F.hash``/``F.xxhash64`` (whose
values are engine-specific). This keeps the DuckDB oracle able to
reproduce values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "normalize_text",
    "normalize_text_sql",
    "NORMALIZATION_STEPS",
    "word_shingles",
    "portable_hash60",
    "token_count",
    "quality_features",
    "quality_micros",
    "quality_p25",
    "lang_scores",
    "doc_fingerprint",
]

#: Tiny per-language marker lexicons for the n-gram/stopword language-ID
#: heuristic. Deliberately small and deterministic; real pipelines swap
#: in fastText — the *operator shape* (argmax over per-lang scores) is
#: what matters at scale.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "los", "que", "es", "una"),
    "zh": ("de", "shi", "le", "zai", "he", "you"),
}


#: Text-normalization recipe, ONE spec driving BOTH engines (the
#: pca_projection_sql stance: a single source of truth generates the
#: Spark Column chain and the DuckDB SQL expression, so the two can
#: never drift). Steps, in order:
#:   1. map unicode typography to ASCII (NBSP->space, curly quotes,
#:      en/em dashes) — 1:1 via translate;
#:   2. expand the ellipsis character to "...";
#:   3. strip C0/DEL control characters (tab/newline survive into the
#:      whitespace collapse);
#:   4. collapse whitespace runs to one space; trim.
#: Patterns stay in the ASCII-\s / explicit-range subset that Java
#: regex and RE2 interpret identically.
NORMALIZATION_STEPS: tuple[tuple[str, str, str], ...] = (
    ("translate", "\u00a0\u2018\u2019\u201c\u201d\u2013\u2014", " ''\"\"--"),
    ("replace_re", "\u2026", "..."),
    ("replace_re", "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),
    ("replace_re", "\\s+", " "),
    ("trim", "", ""),
)


def normalize_text(col: Column | str) -> Column:
    """C4/CCNet-style text normalization as pure column expressions —
    the cleaning step that runs BEFORE any hash-based dedup (two docs
    differing only in curly quotes or NBSP runs must collide): unicode
    typography to ASCII, control characters stripped, whitespace
    collapsed, trimmed. NULL in -> '' out (the corpus convention).
    Generated from :data:`NORMALIZATION_STEPS`; the SQL twin
    (:func:`normalize_text_sql`) is generated from the SAME spec."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    for kind, a, b in NORMALIZATION_STEPS:
        if kind == "translate":
            c = F.translate(c, a, b)
        elif kind == "replace_re":
            c = F.regexp_replace(c, a, b)
        elif kind == "trim":
            c = F.trim(c)
    return c


def normalize_text_sql(expr: str) -> str:
    """The DuckDB spelling of :func:`normalize_text` over SQL
    expression ``expr`` — generated from the same
    :data:`NORMALIZATION_STEPS` spec, so the engines cannot drift."""
    out = f"coalesce({expr}, '')"
    for kind, a, b in NORMALIZATION_STEPS:
        if kind == "translate":
            qa = a.replace("'", "''")
            qb = b.replace("'", "''")
            out = f"translate({out}, '{qa}', '{qb}')"
        elif kind == "replace_re":
            # DuckDB single-quoted strings are NOT backslash-escaped:
            # '\s+' reaches the regex engine as \s+ verbatim
            qa = a.replace("'", "''")
            qb = b.replace("'", "''")
            out = f"regexp_replace({out}, '{qa}', '{qb}', 'g')"
        elif kind == "trim":
            out = f"trim({out})"
    return out


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace, trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word ``n``-gram shingles as an array of space-joined strings.

    Docs shorter than ``n`` words produce an empty array. Built with
    ``transform(sequence(...))`` so it stays a single vectorized
    expression (no explode until the caller chooses to).
    """
    t = tokens(col)
    # Guard: sequence(1, 0) in Spark DESCENDS ([1, 0]) instead of being
    # empty, so short docs need an explicit empty-array branch.
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def portable_hash60(col: Column, seed: int = 0) -> Column:
    """Deterministic 60-bit integer hash reproducible in any engine:
    first 15 hex chars of md5, parsed base-16. DuckDB equivalent:
    ``('0x' || substr(md5(x || seed), 1, 15))::BIGINT``."""
    payload = F.concat(col, F.lit(f"#{seed}")) if seed else col
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def token_count(col: Column | str) -> Column:
    """Token count under a BPE-ish regex: word pieces + digit runs +
    single punctuation marks each count as one token."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Document-quality scoring features: length, word stats, punct and
    stopword ratios. All pure arithmetic — round before comparing."""
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(c)
    n_words = F.size(t)
    n_chars = F.length(c)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop, F.lower(w))))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "avg_word_len": F.round(
            F.aggregate(
                t, F.lit(0), lambda acc, w: acc + F.length(w)
            ).cast("double")
            / F.greatest(n_words, F.lit(1)),
            4,
        ),
        "punct_ratio": F.round(
            n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 4
        ),
        "stopword_ratio": F.round(
            n_stop.cast("double") / F.greatest(n_words, F.lit(1)), 4
        ),
    }


def quality_micros(col: Column | str) -> Column:
    """Integer-micro quality score: stopword density minus punctuation
    density, each FLOOR-quantized — identical double division then
    FLOOR on every engine, so the score ranks without float-tie hazard.
    THE single Python source of the recipe (round-10 advisor: the
    composite, the standalone ``adaptive_quality_filter``, and their
    SQL oracles each inlined a copy that could silently drift); the
    SQL oracles mirror this text — change them together."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    t = tokens(c)
    n_words = F.size(t)
    n_chars = F.length(c)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop, F.lower(w))))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return (
        F.floor(
            F.lit(1e6) * n_stop.cast("double")
            / F.greatest(n_words, F.lit(1)).cast("double")
        )
        - F.floor(
            F.lit(1e6) * n_punct.cast("double")
            / F.greatest(n_chars, F.lit(1)).cast("double")
        )
    ).cast("long")


def quality_p25(col: str) -> Column:
    """Aggregate: the exact 25th-percentile :func:`quality_micros`
    score of each group, as ``long`` — the value at ascending position
    ``ceil(n/4) = (n + 3) div 4``, the threshold of the adaptive
    per-source quality gate. ``col`` names the score column.

    ``percentile_disc(0.25)`` returns exactly that position's value;
    ties (and any tiebreak among them) cannot change which value sits
    there, and NULL scores are ignored. Scale: it plans as one
    ``ObjectHashAggregate``, partially merged map-side, whose
    per-group buffer is a value→count map. Scores are integers in
    [−1e6, 1e6], so a group's map holds at most 2,000,001 entries
    whatever its row count — no window, no sort over the data, nothing
    collected to the driver. The result is a double of an integer
    below 2^53, so the ``long`` cast is exact."""
    return F.expr(
        f"percentile_disc(0.25) WITHIN GROUP (ORDER BY `{col}`)"
    ).cast("long")


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts (the argmax is the predicted
    language). One pass over the token array per language; no shuffle."""
    t = tokens(col)
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array([F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(t, lambda w: F.array_contains(arr, F.lower(w))))
    return out


def doc_fingerprint(col: Column | str, n: int = 3, k: int = 4) -> Column:
    """Winnowing-style document fingerprint: the ``k`` smallest shingle
    hashes, sorted, joined into one string. Near-identical documents
    share fingerprints; any single-token edit changes at most one
    element. Pure array ops — no explode, no shuffle."""
    hashes = F.transform(
        F.array_distinct(word_shingles(col, n)),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    return F.concat_ws(",", F.slice(F.array_sort(hashes), 1, k))
