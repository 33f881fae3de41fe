"""Local replica of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle and compare row count,
schema (column names), and exact values (order-insensitive).

Usage: python tools/check_oracles.py [sf_dir] [name,name,...] [--arrow on|off]

``--arrow off`` runs the queries with
``spark.sql.execution.arrow.pyspark.enabled=false``: a gate's result
must not depend on that setting.
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"schema: spark={sorted(got.columns)} oracle={sorted(want.columns)}")
        return problems
    if len(got) != len(want):
        problems.append(f"rows: spark={len(got)} oracle={len(want)}")
        return problems
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(w[c].dtype, np.floating):
            gv = gv.astype(np.float64)
            wv = wv.astype(np.float64)
            if not np.array_equal(gv, wv):
                bad = gv != wv
                problems.append(
                    f"col {c}: {bad.sum()} mismatches, max |diff|={np.abs(gv - wv)[bad].max():.3e}"
                )
        else:
            if not (gv == wv).all():
                bad = gv != wv
                i = int(np.nonzero(bad)[0][0])
                problems.append(f"col {c}: {bad.sum()} mismatches, first got={gv[i]!r} want={wv[i]!r}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--arrow", choices=["on", "off"], default="on")
    # the positional [sf_dir] [names] are read from what is left
    args, sys.argv[1:] = ap.parse_known_args()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    import __spark_entry__ as entrymod
    from ib_tool_spark.pipeline import get_spark

    spark = get_spark(
        app="oracle_check",
        cores=8,
        shuffle_partitions=16,
        extra={"spark.sql.execution.arrow.pyspark.enabled": str(args.arrow == "on").lower()},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = dict(entrymod.queries())
    qs.update(entrymod.extra_queries())  # beyond the driver's 50-entry window
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {type(exc).__name__}: {exc}")
            failures += 1
            continue
        problems = compare(name, got, want)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(got)} rows exact-match")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
