"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB, compare row count, schema width and
(order-insensitive) values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


STRICT = bool(int(__import__("os").environ.get("STRICT", "0")))


def compare(name: str, s: pd.DataFrame, d: pd.DataFrame) -> str:
    if len(s) != len(d):
        return f"ROWS {len(s)} vs {len(d)}"
    if sorted(s.columns) != sorted(d.columns):
        return f"COLS {sorted(s.columns)} vs {sorted(d.columns)}"
    sn, dn = normalize(s), normalize(d)
    for c in sn.columns:
        a, b = sn[c], dn[c]
        # int-on-one-side / float-on-the-other hashes differently on the
        # driver even when values agree (e.g. DuckDB SUM(int) -> HUGEINT ->
        # float64). Flag it instead of silently coercing.
        if pd.api.types.is_integer_dtype(a) != pd.api.types.is_integer_dtype(b) and (
            pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b)
        ):
            return f"DTYPE col={c}: {a.dtype} vs {b.dtype}"
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce").astype(float)
            b = pd.to_numeric(b, errors="coerce").astype(float)
            both_nan = a.isna() & b.isna()
            if STRICT:
                # `==` treats -0.0 == 0.0 as true, but the driver's hash is
                # byte-level — require matching signbit on zero values so
                # representational breaks (r9's date_features_all) are caught
                # locally before the driver sees them.
                av, bv = a.to_numpy(float), b.to_numpy(float)
                same_zero_sign = ~(
                    (av == 0.0) & (bv == 0.0) & (np.signbit(av) != np.signbit(bv))
                )
                close = ((a == b) & same_zero_sign) | both_nan
            else:
                close = np.isclose(a, b, rtol=1e-6, atol=1e-6) | both_nan
            if not close.all():
                idx = (~close).idxmax()
                return f"VAL col={c} row={idx}: {a[idx]!r} vs {b[idx]!r} ({int((~close).sum())} diffs)"
        else:
            eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                return f"VAL col={c} row={idx}: {a[idx]!r} vs {b[idx]!r} ({int((~eq).sum())} diffs)"
    return "OK"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from mlforecast_spark.utils import get_spark

    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # Both engines resident at once: DuckDB's default budget (80% of RAM)
    # plus Spark's default heap (60% of RAM, see
    # utils._default_driver_memory) overcommits the machine; an sf10 sweep
    # got the JVM kernel-OOM-killed mid-run. Cap DuckDB explicitly
    # (override via DUCK_MEM, e.g. DUCK_MEM=60GB for a DuckDB-heavy run).
    con.execute(
        f"SET memory_limit = '{__import__('os').environ.get('DUCK_MEM', '40GB')}'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:40s} SPARK-ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:40s} rows-only: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:40s} DUCK-ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        res = compare(name, sdf, ddf)
        print(f"{name:40s} {res}  ({len(sdf)} rows)")
        if res != "OK":
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
