"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
given sf dir; compare row count, column names, and an
order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

The script and its Spark Python workers import the engine from the
checkout the script sits in, whatever the working directory.

Set CHECK_ORACLE_OUT=<path> to also write the results as a
driver-format JSON file ({key: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}}) — the committed
CORRECTNESS_LOCAL_rN.json artifacts cover ALL keys even though the
external driver truncates its own file at 50.

Fields per key:

- rows_match, schema_match: Spark and DuckDB return the same row
  count / the same column names (order-insensitive);
- hash_match: the order-insensitive value hashes are equal. It is
  None when no hash was computed: the column names differ, a side
  raised, or the key has no oracle;
- spark_rows, oracle_rows: row counts, None for a side that raised
  or has no oracle;
- err: what failed, "no_oracle" for a rows-only key, else None.
  A key with an oracle passes when err is None.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(6)
        d[c] = d[c].astype(str)
    rows = sorted(d.apply(lambda r: "\x1f".join(r.values), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ROOT)
    # the Python workers (UDFs) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as E
    from scrapetition_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in E.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": None, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {ex}",
            }
            continue
        if name not in oracles:
            print(f"OK*   {name}: rows-only ({len(sdf)} rows)")
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(sdf),
                "oracle_rows": None, "err": "no_oracle",
            }
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": None, "spark_rows": len(sdf),
                "oracle_rows": None, "err": f"oracle error: {ex}",
            }
            continue
        problems = []
        hash_match = None
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            hash_match = value_hash(sdf) == value_hash(odf)
            if not hash_match:
                problems.append("value hash mismatch")
        results[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": hash_match,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": "; ".join(problems) or None,
        }
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            if "value hash mismatch" in problems and len(sdf) == len(odf):
                cols = sorted(sdf.columns)
                a = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
                b = odf[cols].astype(str).sort_values(cols).reset_index(drop=True)
                neq = (a != b).any(axis=1)
                print(a[neq].head(3))
                print(b[neq].head(3))
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    print(f"\n{len(failures)} failures: {failures}")
    out = os.environ.get("CHECK_ORACLE_OUT")
    if out:
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {len(results)} results to {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
