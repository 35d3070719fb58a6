"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its
``oracle_sql()`` twin on DuckDB over the same parquet, then compares
row count, schema width, and exact values (rows sorted, columns
sorted by name) — stricter than the driver's order-insensitive
value hash, so green here implies green there.

Usage: python tools/check_correctness.py [name ...]

``--plans [name ...]`` prints each query's optimized logical plan
instead, expression ids (``#123``) stripped, so the output of two
checkouts diffs clean when a change leaves the batch plans alone.
"""

from __future__ import annotations

import math
import os
import re
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy arrays
        return "[" + ",".join(norm_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def _session():
    if os.environ.get("HOSTILE"):
        # driver-like session: vanilla confs (ANSI on by default in
        # Spark 4), 200 shuffle partitions, non-UTC timezone — catches
        # any query that silently depends on our tuned session
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("mirabelle_check_hostile")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
        return spark
    from mirabelle_spark.session import get_spark

    return get_spark(cpus=8)


def plans(names: list[str] | None = None) -> int:
    import __spark_entry__ as entry_mod

    spark = _session()
    qs = entry_mod.queries()
    for name in names or list(qs):
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
        print(f"== {name}\n{re.sub(r'#[0-9]+', '', plan.toString())}")
    return 0


def main(names: list[str] | None = None) -> int:
    import __spark_entry__ as entry_mod

    spark = _session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    targets = names or list(qs)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in targets:
        fn = qs[name]
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only {name}: rows={len(spdf)} cols={list(spdf.columns)}")
            n_rows_only += 1
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            failures.append(name)
            continue
        ok_rows = len(spdf) == len(opdf)
        ok_schema = sorted(map(str.lower, spdf.columns)) == sorted(
            map(str.lower, opdf.columns)
        )
        ok_vals = False
        if ok_rows and ok_schema:
            spdf.columns = [c.lower() for c in spdf.columns]
            opdf.columns = [c.lower() for c in opdf.columns]
            ok_vals = canon(spdf) == canon(opdf)
        if ok_rows and ok_schema and ok_vals:
            print(f"PASS {name}: rows={len(spdf)}")
            n_pass += 1
        else:
            print(
                f"FAIL {name}: rows {len(spdf)}vs{len(opdf)} "
                f"schema_ok={ok_schema} vals_ok={ok_vals}"
            )
            if ok_rows and ok_schema and not ok_vals:
                a, b = canon(spdf), canon(opdf)
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                for x, y in diffs:
                    print(f"   spark:  {x}\n   oracle: {y}")
            elif not ok_schema:
                print(f"   spark cols:  {sorted(spdf.columns)}")
                print(f"   oracle cols: {sorted(opdf.columns)}")
            n_fail += 1
            failures.append(name)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--plans"]:
        sys.exit(plans(sys.argv[2:] or None))
    sys.exit(main(sys.argv[1:] or None))
