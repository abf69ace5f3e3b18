"""Catalog-wide output-TYPE parity sweep (VERDICT r6 "Next round" #5).

For every oracled query, compares the full normalized output-type
vector of the DuckDB oracle (``con.sql(sql).types`` — plan-time, no
execution) against the Spark DataFrame schema (also plan-time). This is
the systematic guard for the round-6 lesson: the driver's value hash is
type-sensitive (HUGEINT vs BIGINT failed `q_text_encoding_audit` even
though every stringified cell matched), and 141 queries have never
received that type-sensitive signal.

Usage:
    python <checkout>/tools/type_sweep.py [--sf DIR] [--dump]

``--dump`` prints every (query, column, duck_type, spark_type) pair, so
the distribution of cross-engine pairs can be audited by eye; default
output is mismatches only. Exit 0 iff zero mismatches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("PYTHONPATH", REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--dump", action="store_true")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from simplemapreduce_spark import catalog
    from tools.type_parity import normalize_duck, normalize_spark

    catalog.load_all()

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("type-sweep")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    names = [n for n in catalog.QUERIES if n in catalog.ORACLES]
    if args.only:
        names = [n for n in args.only.split(",") if n]

    mismatched: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    pair_histogram: dict[str, int] = {}
    for name in names:
        try:
            sdf = catalog.QUERIES[name](spark, args.sf)
            spark_by_col = {
                f.name: normalize_spark(f.dataType.simpleString()) for f in sdf.schema
            }
            rel = con.sql(catalog.ORACLES[name])
            duck = list(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"
            print(f"ERROR {name}: {errors[name][:200]}")
            continue
        rows = []
        for col, dt in duck:
            if col not in spark_by_col:
                continue
            d, s = normalize_duck(dt), spark_by_col[col]
            pair_histogram[f"{d} | {s}"] = pair_histogram.get(f"{d} | {s}", 0) + 1
            if args.dump:
                print(f"{name}\t{col}\t{dt}\t{d}\t{s}")
            if d != s:
                rows.append(f"{col}: duckdb={d} ({dt}) vs spark={s}")
        if rows:
            mismatched[name] = rows
            for r in rows:
                print(f"MISMATCH {name}: {r}")

    print("--- cross-engine type-pair histogram (normalized duck | spark) ---")
    for pair, n in sorted(pair_histogram.items(), key=lambda kv: -kv[1]):
        flag = "   " if pair.split(" | ")[0] == pair.split(" | ")[1] else "** "
        print(f"{flag}{n:5d}  {pair}")
    print(
        json.dumps(
            {
                "checked": len(names),
                "mismatched": len(mismatched),
                "errors": len(errors),
                "mismatches": mismatched,
                "error_names": sorted(errors),
            }
        )
    )
    return 1 if (mismatched or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
