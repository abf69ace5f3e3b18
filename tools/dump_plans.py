"""Dump `.explain("formatted")` for bench queries to plans/r<N>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <round> <tag> [query ...]
  round  e.g. "r10"
  tag    "before" or "after"
  query  optional subset; default = full bench set (legacy + extended)

Plans are captured at sf0.01 (plan shapes are SF-independent apart from
AQE runtime rewrites, so one small scale is enough) unless
$SPARK_GRAFT_SF_DIR overrides. Per-session counters are normalized
before writing, so a before/after diff shows only real plan changes:
expression ids (``#123``, ``#123L``) become ``#_``, exchange ids
(``[plan_id=45]``) ``[plan_id=_]``, RDD ids (``MapPartitionsRDD[325]``)
``RDD[_]``, and the numeric suffix PySpark gives Python lambda
variables (``lambda x_97#_``) ``_N``.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_COUNTERS = (
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=_]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"(lambda \w+?)_\d+(?=#)"), r"\1_N"),
)


def normalize(plan: str) -> str:
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]

    import bench
    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("plan-dump")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    names = only or (bench.HEADLINE + bench.EXTENDED)
    import contextlib
    import io

    for name in names:
        df = catalog.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = normalize(buf.getvalue())
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
