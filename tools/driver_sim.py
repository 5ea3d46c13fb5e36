"""Driver-gate simulator: runs every __spark_entry__ query AND its DuckDB
oracle at sf0.01, comparing row-count + sorted-column-names + value-hash,
mirroring the per-round CORRECTNESS gate. Usage:
    python /tmp/driver_sim.py [names...]   # default: all
"""
import hashlib
import importlib.util
import json
import os
import sys
import time

import duckdb
import pandas as pd

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

spec = importlib.util.spec_from_file_location("e", os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py"))
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)

from pyspark.sql import SparkSession  # noqa: E402

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    # unify missing-value representation: Spark toPandas yields None in
    # object/bool columns where DuckDB yields NaN — same value, different repr
    return df.astype(object).where(pd.notna(df), None)


def vhash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for _, row in df.iterrows():
        h.update(("|".join(repr(v) for v in row) + "\n").encode())
    return h.hexdigest()


qs = m.queries()
oracles = m.oracle_sql()
only = set(sys.argv[1:])
results, n_bad = {}, 0
for name, fn in qs.items():
    if only and name not in only:
        continue
    t0 = time.time()
    rec = {"rows_match": None, "schema_match": None, "hash_match": None, "err": None}
    try:
        sdf = fn(spark, SF).toPandas()
        rec["spark_rows"] = len(sdf)
        if name in oracles:
            odf = con.execute(oracles[name]).df()
            rec["oracle_rows"] = len(odf)
            rec["rows_match"] = len(sdf) == len(odf)
            rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
            if rec["rows_match"] and rec["schema_match"]:
                a, b = norm(sdf), norm(odf)
                rec["hash_match"] = vhash(a) == vhash(b)
            else:
                rec["hash_match"] = False
            ok = rec["hash_match"]
        else:
            ok = True  # rows-only
    except Exception as ex:  # noqa: BLE001
        rec["err"] = f"{type(ex).__name__}: {ex}"[:300]
        ok = False
    n_bad += 0 if ok else 1
    results[name] = rec
    status = "ok" if ok else "FAIL"
    kind = "oracle" if name in oracles else "rows"
    print(f"{status:4} {name:35} {kind:6} {time.time()-t0:6.2f}s", flush=True)

print(json.dumps({"n": len(results), "mismatch": n_bad}))
with open("/tmp/driver_sim_results.json", "w") as f:
    json.dump(results, f, indent=1)
