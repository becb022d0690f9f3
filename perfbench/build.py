"""One-time build of the benchmark's inputs in a checkout.

``python3 perfbench/build.py <out_dir>`` writes the input tables
(:mod:`datagen`) to ``<out_dir>/data`` and the DuckDB oracle's canonical
result of every query the query workloads run to
``<out_dir>/expected.json``. The oracle SQL comes from the engine's
``ORACLES`` registry; results are canonicalized as
``scripts/driver_sim.py`` does (sorted columns, sorted rows, floats to 6
significant figures, md5) plus per-column dtype families. The two functions
are a frozen copy, so an edit to that script cannot change what this
benchmark accepts as correct.

run.py calls this in a child process when the build directory is missing,
so the measuring process never imports DuckDB or the engine before its
timed set-up.
"""

from __future__ import annotations

import decimal
import glob
import hashlib
import json
import os
import shutil
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import catalog  # noqa: E402
import datagen  # noqa: E402

SF = 0.01
DATA_SEED = 42
QUERY_WORKLOADS = ("analytics_interactive", "corpus_curation")


def build_key() -> str:
    """Changes whenever the inputs or the set of checked queries could."""
    h = hashlib.sha1(f"{SF}|{DATA_SEED}".encode())
    for name in ("datagen.py", "catalog.py", "build.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def canon(df: pd.DataFrame) -> dict:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("null" if pd.isna(v) else f"{v:.6g}")
            elif v is None:
                row.append("null")
            else:
                row.append(str(v))
        rows.append("|".join(row))
    rows.sort()
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return {"rows": len(df), "columns": list(df.columns), "hash": digest,
            "families": families(df)}


def families(df: pd.DataFrame) -> dict[str, str]:
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


def expected_results(data_dir: str, queries: list[str]) -> dict[str, dict]:
    import duckdb

    from raise_featurestore_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={os.cpu_count() or 1}")
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {q: canon(con.sql(ORACLES[q]).df()) for q in queries}
    finally:
        con.close()


def build(out_dir: str) -> None:
    stage = f"{out_dir}.stage-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    data = os.path.join(stage, "data")
    datagen.generate(data, SF, DATA_SEED)
    queries = sorted({q for w in QUERY_WORKLOADS for q in catalog.operation_set(w)})
    # the oracle SQL reads the data through views bound to absolute paths,
    # so it runs against the staged copy before the atomic install
    expected = expected_results(data, queries)
    with open(os.path.join(stage, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    try:
        os.rename(stage, out_dir)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.isdir(out_dir):
            raise


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    build(sys.argv[1])
