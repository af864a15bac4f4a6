"""Local replica of the driver's correctness gate.

Runs every registered query in Spark AND its DuckDB oracle on the same
sf directory, compares row count, column names, and an order-insensitive
value hash.  Use this BEFORE the driver does:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

# The driver and the Python workers import the same tree: this checkout.
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
_path = os.environ.get("PYTHONPATH")
os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + _path if _path else "")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints -> int64, floats -> repr at 12 sig digits,
    # bools -> int (mirrors a tolerant driver; exactness still required
    # for float bit-parity at the repr level)
    cols = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind in "iu":
            cols[c] = s.astype("int64").astype(str)
        elif s.dtype.kind == "b":
            cols[c] = s.astype("int64").astype(str)
        elif s.dtype.kind == "f":
            cols[c] = s.map(lambda v: repr(float(v)))
        else:
            cols[c] = s.astype(str)
    if not len(df):
        # empty frame: agg() degrades to a DataFrame and sort_values()
        # throws; hash the (sorted) column names so two empty results
        # still compare by schema
        return hashlib.md5(("|".join(sorted(df.columns))).encode()).hexdigest()
    joined = pd.DataFrame(cols).agg("|".join, axis=1).sort_values()
    return hashlib.md5("\n".join(joined.tolist()).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from firewatch_spark.queries import registry

    # vanilla session on purpose — mirrors the driver's environment
    # (no firewatch_spark.session configs available there)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in registry().items():
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if spec.oracle is None:
            print(f"ok(rows-only)  {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(spec.oracle).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems and norm_hash(sdf) != norm_hash(odf):
            problems.append("value-hash mismatch")
            # show a diff sample
            key = sorted(sdf.columns)
            a = sdf.reindex(key, axis=1).sort_values(key).reset_index(drop=True)
            b = odf.reindex(key, axis=1).sort_values(key).reset_index(drop=True)
            for i in range(min(len(a), len(b))):
                if not a.iloc[i].equals(b.iloc[i]):
                    problems.append(f"first diff row {i}:\n  spark: {a.iloc[i].to_dict()}\n  duck : {b.iloc[i].to_dict()}")
                    break
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
