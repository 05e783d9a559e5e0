"""Self-check harness mimicking the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB against the same parquet tables, compares row count, schema
(column names), and order-insensitive values (rows sorted by all columns,
columns sorted by name).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).is_file():
            con.execute(f"create view {t} as select * from read_parquet('{p}')")
    return con


def canon(df: pd.DataFrame, sort: bool = True) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            # Quantize to an integer 1e-6 grid: equal grid points hash
            # equally in the multiset-hash path (no -0.0 vs 0.0, no
            # float-repr noise). NaN becomes <NA>.
            df[c] = pd.Series(np.rint(df[c].to_numpy(dtype="float64") * 1e6),
                              index=df.index).astype("Int64")
        elif isinstance(df[c].dtype, pd.DatetimeTZDtype) or pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    if not sort:
        return df
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


# Above this row count the per-row diff report is useless anyway and the
# single-core lexicographic sort dominates the gate's wall time (measured
# 30+ min on one 6.25M-row query at gen-sf1). Equality is then checked
# with an ORDER-INSENSITIVE multiset hash: vectorized per-row 64-bit
# hashes (pandas.util.hash_pandas_object over the SAME canonicalized
# values both engines flow through) summed mod 2^64 — no sort at all.
BIG_RESULT_ROWS = 200_000


def _multiset_hash(df: pd.DataFrame) -> int:
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype="uint64")
    with np.errstate(over="ignore"):
        return int(h.sum(dtype="uint64"))


def compare(name: str, sdf, osql: str | None, con) -> str:
    spark_pd = sdf.toPandas()
    if osql is None:
        return f"{name}: rows={len(spark_pd)} (no oracle — rows-only check)"
    duck_pd = con.execute(osql).fetchdf()
    problems = []
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        problems.append(
            f"schema mismatch: spark={sorted(spark_pd.columns)} duck={sorted(duck_pd.columns)}"
        )
    if len(spark_pd) != len(duck_pd):
        problems.append(f"rowcount: spark={len(spark_pd)} duck={len(duck_pd)}")
    if not problems and len(spark_pd) > BIG_RESULT_ROWS:
        ha = _multiset_hash(canon(spark_pd, sort=False))
        hb = _multiset_hash(canon(duck_pd, sort=False))
        if ha != hb:
            problems.append(
                f"values differ (multiset hash {ha:#x} != {hb:#x}; "
                "row-level diff skipped above "
                f"{BIG_RESULT_ROWS} rows)"
            )
    elif not problems:
        a, b = canon(spark_pd), canon(duck_pd)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
        except AssertionError as e:
            diff = (a != b)
            ndiff = int(diff.to_numpy().sum()) if a.shape == b.shape else -1
            problems.append(f"values differ ({ndiff} cells): {str(e).splitlines()[-1][:200]}")
            for i in range(min(len(a), len(b))):
                if not a.iloc[i].equals(b.iloc[i]):
                    problems.append(f"  first diff row {i}:\n  spark={a.iloc[i].to_dict()}\n  duck ={b.iloc[i].to_dict()}")
                    break
    status = "OK" if not problems else "FAIL"
    msg = f"{name}: {status} rows={len(spark_pd)}"
    for p in problems:
        msg += f"\n    {p}"
    return msg


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import time

    import __spark_entry__ as entry
    from globalign_spark.session import get_spark

    spark = get_spark(
        "oracle-check",
        master=os.environ.get("CHECK_MASTER", "local[8]"),
        shuffle_partitions=8,
        # gen-sf1 result sets (6M+ pair rows) exceed the 1g default when
        # the compare pulls them to the driver
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    con = duck_conn(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    fails = 0
    # argv order is respected so a long gate can be sequenced
    # light-queries-first (the artifact fills up even if the run is cut)
    ordered = (
        [(n, qs[n]) for n in sys.argv[2:] if n in qs]
        if only else list(qs.items())
    )
    for name, fn in ordered:
        t0 = time.time()
        try:
            msg = compare(name, fn(spark, sf_dir), oracles.get(name), con)
        except Exception as e:
            msg = f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}"
        msg += f"  [{time.time() - t0:.1f}s]"
        if "FAIL" in msg or "ERROR" in msg:
            fails += 1
        print(msg, flush=True)
    print(f"\n{'ALL OK' if fails == 0 else f'{fails} FAILURES'}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
