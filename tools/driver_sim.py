"""One-off simulation of the driver's CORRECTNESS harness.

For each of the first 50 registered queries (the driver checks a
50-query prefix in registration order), runs the Spark query and the
DuckDB oracle at sf0.01, then compares row count, sorted column
names, and a pandas value-hash (logged as ``value_hash`` so two runs
can be compared) — the same shape of check the driver performs
(pd.util.hash_pandas_object dies on array cells, which is exactly the
edge we need to catch locally).

Usage: python tools/driver_sim.py [n_queries] [sf_dir]
       python tools/driver_sim.py name1,name2[,...] [sf_dir]   # by name
"""

from __future__ import annotations

import json
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from solana_snapshot_etl_tools_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def oracle_df(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = con.execute(sql).fetchdf()
    con.close()
    return out


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def value_hash(df: pd.DataFrame):
    # mirrors a pandas-object hash: raises TypeError on list cells
    norm = df.copy()
    for c in norm.columns:
        if norm[c].dtype == object:
            norm[c] = norm[c].map(
                lambda v: "\x00null"
                if v is None or (isinstance(v, float) and v != v)
                else repr(v)
            )
        elif str(norm[c].dtype).startswith("float"):
            norm[c] = norm[c].round(6)
        elif str(norm[c].dtype).startswith("datetime"):
            norm[c] = norm[c].astype("int64")
    return int(pd.util.hash_pandas_object(norm, index=False).sum())


def main() -> None:
    arg = sys.argv[1] if len(sys.argv) > 1 else "50"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark()
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if arg.isdigit():
        n, names = int(arg), None
    else:
        n, names = len(queries), set(arg.split(","))
        unknown = names - set(queries)
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
    results = {}
    for i, (name, fn) in enumerate(queries.items()):
        if i >= n:
            break
        if names is not None and name not in names:
            continue
        t0 = time.time()
        rec = {"err": None}
        try:
            sdf = fn(spark, sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
            if name in oracles:
                odf = oracle_df(oracles[name], sf_dir)
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                sh = value_hash(canon(sdf))
                oh = value_hash(canon(odf))
                rec["hash_match"] = bool(sh == oh)
                rec["value_hash"] = sh
            else:
                rec["rows_only"] = True
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:400]
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        ok = rec.get("hash_match", rec.get("rows_only")) and not rec["err"]
        print(f"[{i:2d}] {'OK ' if ok else 'FAIL'} {name} {rec}", flush=True)
    with open("/tmp/driver_sim.json", "w") as f:
        json.dump(results, f, indent=1)
    bad = [
        k
        for k, v in results.items()
        if v["err"] or (("hash_match" in v) and not v["hash_match"])
    ]
    print("BAD:", bad)


if __name__ == "__main__":
    main()
