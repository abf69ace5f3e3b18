"""Local replica of the grading driver's gate (.claude/skills/verify).

Loads the checkout's __spark_entry__.py module-by-path (exactly as the
driver does — run this from a scratch cwd, not the checkout),
smoke-checks entry() at sf0.001, then for every queries() entry runs
the Spark plan at sf0.01 side-by-side with its oracle_sql() in DuckDB
and compares sorted column
names + row count + order-insensitive stringified rows, PLUS normalized
output-type parity (round-6 lesson: the real driver's value hash is
type-sensitive — DuckDB HUGEINT vs Spark BIGINT fails it even when every
stringified cell matches, so a stringified compare alone is not a
faithful replica).

Usage:
    python <checkout>/tools/driver_sim.py [--only q_a,q_b] [--first N]
Exit code 0 iff every checked query passes (rows-only queries count as
pass when they run and schema is stable).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def fmt_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(fmt_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(fmt_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--first", type=int, default=0, help="check only the first N registered")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--skip-smoke", action="store_true")
    # Cluster-shape rehearsal (VERDICT r8 "Next round" #8): a real
    # 100 TB cluster is many small executors + many shuffle partitions,
    # the inverse of local[32]/32. --master local[4]
    # --shuffle-partitions 200 reruns the whole contract in that shape
    # against the same absolute DuckDB oracle.
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle-partitions", default="8")
    # Extra session confs (repeatable, k=v). Needed for STATIC
    # SparkContext-level knobs that spark.conf.set cannot flip
    # mid-session — e.g. the speculative-execution axis (VERDICT r9
    # "Next round" #4): spark.speculation=true with an aggressive
    # quantile/multiplier races duplicate task attempts to commit,
    # the Spark analogue of the reference's at-least-once retry loop
    # (common_rpc.go:114-129).
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra SparkSession conf, repeatable",
    )
    args = ap.parse_args()

    os.environ.setdefault("PYTHONPATH", REPO)
    sys.path.insert(0, REPO)

    from tools.type_parity import type_mismatches  # noqa: PLC0415

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(args.master)
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", args.shuffle_partitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for kv in args.conf:
        k, _, v = kv.partition("=")
        if not _:
            raise SystemExit(f"--conf expects K=V, got {kv!r}")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        # Driver fixtures are single files; replica builders (e.g.
        # tools/scale_probe.py's 10x corpus) write Spark-style
        # directories — glob inside those so DuckDB reads all parts.
        p = f"{args.sf}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    failures: list[str] = []

    if not args.skip_smoke:
        t0 = time.time()
        res = m.entry(spark)
        n = len(res.collect())
        print(f"entry() smoke: {n} rows, schema={[f.name for f in res.schema]} "
              f"({time.time()-t0:.1f}s)")
        if n < 0:
            failures.append("entry")

    queries = m.queries()
    oracles = m.oracle_sql()
    names = list(queries)
    if args.only:
        names = [n for n in args.only.split(",") if n]
    elif args.first:
        names = names[: args.first]

    n_pass = n_rowsonly = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            n_rowsonly += 1
            print(f"rows-only {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols_orig = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            ocols = sorted(ocols_orig)
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: oracle error {type(e).__name__}: {e}")
            continue
        tm = type_mismatches(ocols_orig, otypes, sdf.schema)
        if tm:
            failures.append(name)
            print(f"FAIL {name}: output-type mismatch: {'; '.join(tm)}")
            continue
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: schema {scols} vs {ocols}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rows {len(srows)} vs {len(orows)}")
            continue
        sk, ok = rows_key(sdf.columns, srows), rows_key(ocols_orig, orows)
        if sk != ok:
            failures.append(name)
            diff = next(
                (i for i, (a, b) in enumerate(zip(sk, ok)) if a != b), None
            )
            print(f"FAIL {name}: value mismatch at sorted-row {diff}:")
            if diff is not None:
                print(f"  spark:  {sk[diff][:300]}")
                print(f"  oracle: {ok[diff][:300]}")
        else:
            n_pass += 1
            print(f"pass {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(
        json.dumps(
            {
                "checked": len(names),
                "pass": n_pass,
                "rows_only": n_rowsonly,
                "fail": len(failures),
                "failures": failures,
            }
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
