"""Invoke every catalog query twice in one session at sf0.001 and
compare sorted stringified rows — catches memo staleness / key
collisions that a single-pass sweep cannot see.

Do NOT run concurrently with the pytest suite or another sweep:
queries stage artifacts under /tmp/smr_scratch keyed by table stamp,
and a concurrent process overwriting a staged dir mid-read produces
false mismatches (observed: q_source_text_lines / q_join_bucketed).
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO
from simplemapreduce_spark import catalog
from simplemapreduce_spark.session import get_spark

catalog.load_all()
spark = get_spark("smr-double")
SF = "/root/testdata/sf0.001"

bad = []
for i, (name, fn) in enumerate(catalog.QUERIES.items()):
    try:
        a = sorted(map(str, fn(spark, SF).collect()))
        b = sorted(map(str, fn(spark, SF).collect()))
        if a != b:
            bad.append(name)
            print("MISMATCH", name, flush=True)
    except Exception as e:
        bad.append(name)
        print("ERROR", name, repr(e)[:200], flush=True)
    if (i + 1) % 50 == 0:
        print(f"...{i + 1} done", flush=True)
print("BAD:", bad)
print("TOTAL:", len(catalog.QUERIES), "BAD_COUNT:", len(bad))
