"""Driver-gate preflight: run EVERY queries() entry and its oracle
through the DRIVER's canonicalizer shape (sort columns by name, then
pandas sort_values over all columns — which CRASHES on unhashable
list cells, the round-2 media_resize failure mode) and hash-compare.

Run before each round ends: python fixtures/preflight_driver.py
(~4 min; prints one line per gate + a FAILURES summary).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from s2geometry_spark.session import get_spark
spark = get_spark("canon", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
import hashlib

import duckdb

# honor the same data-dir knob as bench.py / run_scaling.py (ADVICE r3:
# two hard-coded paths silently tested the wrong data if the dir moved)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")

def canon(df):
    # the DRIVER's canonicalizer shape: sort columns by name, then
    # sort_values over all columns (crashes on unhashable list cells)
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def vhash(df):
    return hashlib.md5(df.to_csv(index=False, float_format="%.17g")
                       .encode()).hexdigest()[:12]

bad = []
oracles = E.oracle_sql()
for name, fn in E.queries().items():
    try:
        g = canon(fn(spark, SF_DIR).toPandas())
        e = canon(con.execute(oracles[name]).fetchdf())
        ok_rows = len(g) == len(e)
        ok_schema = list(g.columns) == list(e.columns)
        ok_hash = vhash(g) == vhash(e)
        status = "OK" if (ok_rows and ok_schema and ok_hash) else \
            f"MISMATCH rows={ok_rows} schema={ok_schema} hash={ok_hash}"
        print(f"{name}: {status} ({len(g)} rows)")
        if status != "OK":
            bad.append(name)
    except Exception as ex:
        print(f"{name}: ERROR {type(ex).__name__}: {ex}")
        bad.append(name)
print("FAILURES:", bad if bad else "none")
