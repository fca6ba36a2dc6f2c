"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at sf0.01,
compare row count + sorted-column value hash (order-insensitive).

Usage:  python scripts/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from metaprofi_spark.plans.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(9)
    if len(pdf) == 0:
        rows = []
    else:
        rows = sorted(pdf.astype(str).apply("|".join, axis=1).tolist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    only = set(sys.argv[1:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # console progress bars write \r-terminated lines that concatenate
    # with result lines when the output is piped — keep the log clean
    spark = get_spark(
        app_name="oracle-check", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spdf = fn(spark, SF_DIR).toPandas()
        t_spark = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"{name:40s} rows={len(spdf):6d}  (no oracle, rows-only)  {t_spark:.1f}s")
            continue
        opdf = con.execute(sql).df()
        ok_rows = len(spdf) == len(opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        ok_hash = ok_cols and value_hash(spdf) == value_hash(opdf)
        status = "OK" if (ok_rows and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:40s} {status}  rows={len(spdf)}/{len(opdf)} cols_match={ok_cols} "
            f"hash_match={ok_hash}  {t_spark:.1f}s"
        )
        if status == "FAIL" and not ok_hash and ok_cols:
            merged = spdf.merge(opdf, how="outer", indicator=True)
            diff = merged[merged["_merge"] != "both"]
            print(diff.head(10).to_string())
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
