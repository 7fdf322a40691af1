"""Local rehearsal of the driver's correctness gate.

Runs every queries() key (or the first-50 cap with --cap, or named keys)
against its DuckDB oracle at sf0.01, comparing rows, schema column sets
and the driver's value hash (columns sorted by name, values stringified,
rows sorted) — the exact comparison CORRECTNESS_r{N}.json records.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon_hash(df) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.md5(str(rows).encode()).hexdigest()


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args = [a for a in sys.argv[1:] if a != "--cap"]
    cap_only = "--cap" in sys.argv[1:]

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    queries = E.queries()
    oracles = E.oracle_sql()
    keys = args or list(queries)
    if cap_only and not args:
        keys = keys[:50]
    bad = []
    for i, key in enumerate(keys):
        try:
            sdf = queries[key](spark, sf).toPandas()
        except Exception as e:
            print(f"[{i+1}/{len(keys)}] {key}: SPARK ERROR {e}")
            bad.append(key)
            continue
        if key not in oracles:
            print(f"[{i+1}/{len(keys)}] {key}: rows-only ({len(sdf)} rows)")
            continue
        odf = con.execute(oracles[key]).fetchdf()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_cols and canon_hash(sdf) == canon_hash(odf)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"[{i+1}/{len(keys)}] {key}: {status} "
            f"(rows {len(sdf)}/{len(odf)}, cols {ok_cols}, hash {ok_hash})"
        )
        if status == "FAIL":
            bad.append(key)
    spark.stop()
    print(f"\n{len(keys) - len(bad)}/{len(keys)} green; failures: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
