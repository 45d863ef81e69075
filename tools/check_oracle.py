"""Local driver-mimic: run every catalog query on Spark AND its DuckDB
oracle, compare row count, column names, and order-insensitive values.
A query without an oracle fails, naming the dynamic builder's error.

Usage: PYTHONPATH=/root/repo python tools/check_oracle.py [sf_dir] [names...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (
        df.sort_values(by=list(df.columns))
        .reset_index(drop=True)
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from tmdb_index_spark.queries import (
        DYNAMIC_ORACLE_BUILDERS,
        ORACLES,
        QUERIES,
        dynamic_oracles,
    )
    from tmdb_index_spark.session import get_spark

    ORACLES = {**dict(ORACLES), **dynamic_oracles(sf_dir)}
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from tmdb_index_spark.operators.materialize import release_pins

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        # isolate: a build-time pin from an earlier query must not
        # substitute its cached plan into this one — the gate should
        # execute the same physical plan the lint/bench audited
        release_pins()
        spark.catalog.clearCache()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        if name not in ORACLES:
            # every query must carry an oracle: dynamic_oracles() skips a
            # builder that raises, so re-run it here to show why
            why = "no oracle"
            if name in DYNAMIC_ORACLE_BUILDERS:
                try:
                    DYNAMIC_ORACLE_BUILDERS[name](sf_dir)
                    why = "dynamic oracle builder returned no SQL"
                except Exception as e:  # noqa: BLE001
                    why = (
                        "dynamic oracle builder raised "
                        f"{type(e).__name__}: {str(e)[:300]}"
                    )
            failures.append(name)
            print(f"FAIL {name}: {why} (rows={len(got)})")
            continue
        try:
            exp = con.sql(ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        if len(got) != len(exp):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(got)} duckdb={len(exp)}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append(name)
            print(
                f"FAIL {name}: cols spark={sorted(got.columns)} "
                f"duckdb={sorted(exp.columns)}"
            )
            continue
        g, e = normalize(got), normalize(exp)
        try:
            pd.testing.assert_frame_equal(
                g, e, check_dtype=False, check_exact=False, rtol=0, atol=0
            )
            # Driver-hash mimic: the driver hashes STRING forms, so a
            # value-equal frame can still mismatch if dtypes render
            # differently (Int64 "1" vs float64 "1.0" — round-1 red row).
            gs, es = g.astype(str), e.astype(str)
            if not gs.equals(es):
                sdiff = gs != es
                bad = [c for c in gs.columns if sdiff[c].any()]
                failures.append(name)
                print(f"FAIL {name}: string-form (hash) drift in {bad}")
                for c in bad[:2]:
                    idx = sdiff[c].idxmax()
                    print(f"  {c}[{idx}]: spark={gs[c][idx]!r} duckdb={es[c][idx]!r}")
                continue
            print(f"PASS {name} ({len(got)} rows)")
        except AssertionError as err:
            failures.append(name)
            diff = (g != e) & ~(g.isna() & e.isna())
            bad_cols = [c for c in g.columns if diff[c].any()]
            print(f"FAIL {name}: value mismatch in {bad_cols}; {str(err)[:200]}")
            for c in bad_cols[:2]:
                idx = diff[c].idxmax()
                print(f"  {c}[{idx}]: spark={g[c][idx]!r} duckdb={e[c][idx]!r}")
    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
