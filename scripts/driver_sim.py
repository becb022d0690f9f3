"""Simulate the driver's correctness gate: run every queries() entry at
sf0.01 and compare with oracle_sql() via DuckDB — row count, sorted column
names, an order-insensitive value hash (floats rounded to 6 sig figs), AND
per-column dtype families.

The dtype check exists because the real driver's canon renders int-valued
float64 differently from int64 (repr-style "4568.0" vs "4568") while this
script's %.6g canon renders them identically — the exact blind spot behind
the r5 gate reds (agg_winsorized_price / bpe_pair_counts /
filter_quality_rules, all DuckDB HUGEINT-sum float64 vs Spark int64).
A family mismatch is therefore reported as MISMATCH even when the %.6g
hash agrees.

Usage: python scripts/driver_sim.py [sf_dir] [name_substring ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("null" if pd.isna(v) else f"{v:.6g}")
            elif v is None or (isinstance(v, float) and pd.isna(v)):
                row.append("null")
            else:
                row.append(str(v))
        rows.append("|".join(row))
    rows.sort()
    import hashlib

    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), list(df.columns), h


def families(df: pd.DataFrame) -> dict[str, str]:
    import decimal

    out = {}
    for c in sorted(df.columns):
        dt = str(df[c].dtype)
        if dt.startswith(("int", "uint", "Int", "UInt")):
            out[c] = "int"
        elif dt.startswith(("float", "Float")):
            out[c] = "float"
        elif dt == "object":
            nn = df[c].dropna()
            v = nn.iloc[0] if len(nn) else None
            if isinstance(v, decimal.Decimal):
                out[c] = "decimal"
            elif isinstance(v, bool):
                out[c] = "bool"
            else:
                out[c] = "object"
        else:
            out[c] = dt
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em

    from raise_featurestore_spark.functions.conf_scope import cache_scope
    from raise_featurestore_spark.session import get_spark

    spark = get_spark("driver-sim")

    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    entry_df = em.entry(spark)
    print(f"entry: rows={entry_df.count()} schema={entry_df.columns}")

    qs, oracles = em.queries(), em.oracle_sql()
    if len(sys.argv) > 2:
        pats = sys.argv[2:]
        qs = {n: f for n, f in qs.items() if any(p in n for p in pats)}
    ok = bad = 0
    for name in sorted(qs):
        with cache_scope():
            spark_pd = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name}: ROWS-ONLY rows={len(spark_pd)}")
            continue
        want_pd = con.sql(oracles[name]).df()
        g, w = canon(spark_pd), canon(want_pd)
        gf, wf = families(spark_pd), families(want_pd)
        good = g == w and gf == wf
        status = "MATCH" if good else "MISMATCH"
        if good:
            ok += 1
        else:
            bad += 1
        print(f"{name}: {status} spark(rows={g[0]}, hash={g[2][:8]}) oracle(rows={w[0]}, hash={w[2][:8]})")
        if g != w:
            print("  spark cols:", g[1])
            print("  oracle cols:", w[1])
        if gf != wf:
            print("  dtype diff:", {c: (gf.get(c), wf.get(c)) for c in sorted(set(gf) | set(wf)) if gf.get(c) != wf.get(c)})
    print(json.dumps({"match": ok, "mismatch": bad, "total": len(qs)}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
