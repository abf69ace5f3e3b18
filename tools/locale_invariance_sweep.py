"""Full-catalog JVM-locale invariance sweep — the TENTH execution axis
(VERDICT r6 "Next round" #6).

The driver's JVM default locale is not pinned by this repo, and
locale-sensitive code paths (upper/lower over non-ASCII, collation,
number formatting) are the same shape of ambient-environment dependence
as the session-timezone axis that caught 9 real bugs in round 6. The
canonical hazard is Turkish (tr-TR): `"i".toUpperCase()` is `İ`
(dotted capital I) and `"I".toLowerCase()` is `ı`, so any Spark
expression that lowercases through the JVM default locale diverges.

The JVM default locale is fixed at JVM launch (-Duser.language /
-Duser.country), so — unlike the TZ axis — the two runs need two
separate JVMs. This tool forks itself twice as child processes:

    parent:  python tools/locale_invariance_sweep.py [sf_dir]
    child A: ... --emit out_a.json            (inherited default locale)
    child B: ... --emit out_b.json --locale tr-TR

Each child runs every catalog query and records sha256(sorted
stringified rows) + row count; the parent diffs the two maps. Python's
own str methods are locale-independent, so the JVM is the only moving
part. Do NOT run concurrently with the pytest suite or another sweep
(shared /tmp/smr_scratch staging — see conf_invariance_sweep.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("PYTHONPATH", REPO)


def child(sf_dir: str, out_path: str, locale: str | None) -> None:
    if locale:
        lang, _, country = locale.partition("-")
        opts = f"-Duser.language={lang} -Duser.country={country}"
        # Applies to the single local-mode JVM (driver == executors);
        # JAVA_TOOL_OPTIONS reaches it regardless of how the gateway
        # assembles its launch command.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts
        ).strip()

    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.session import get_spark

    catalog.load_all()
    spark = get_spark(f"smr-locale-{locale or 'default'}")
    jvm_locale = (
        spark.sparkContext._jvm.java.util.Locale.getDefault().toLanguageTag()
    )
    print(f"JVM default locale: {jvm_locale}", flush=True)
    if locale and jvm_locale.lower() != locale.lower():
        print(f"FATAL: requested {locale} but JVM reports {jvm_locale}", flush=True)
        sys.exit(2)

    results: dict[str, list] = {"__jvm_locale__": jvm_locale}
    for i, (name, fn) in enumerate(catalog.QUERIES.items()):
        try:
            rows = sorted(map(str, fn(spark, sf_dir).collect()))
            digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
            results[name] = [len(rows), digest]
        except Exception as e:  # noqa: BLE001
            results[name] = [-1, f"ERROR {type(e).__name__}: {e}"[:200]]
        if (i + 1) % 50 == 0:
            print(f"...{i + 1} done", flush=True)
    with open(out_path, "w") as f:
        json.dump(results, f)


def parent(sf_dir: str) -> int:
    outs = {}
    for tag, locale in (("default", None), ("tr-TR", "tr-TR")):
        out = f"/tmp/smr_locale_sweep_{tag}.json"
        cmd = [sys.executable, os.path.abspath(__file__), sf_dir, "--emit", out]
        if locale:
            cmd += ["--locale", locale]
        print(f"=== child {tag}: {' '.join(cmd)}", flush=True)
        r = subprocess.run(cmd, cwd="/tmp", env=os.environ.copy())
        if r.returncode != 0:
            print(f"child {tag} failed rc={r.returncode}")
            return 2
        with open(out) as f:
            outs[tag] = json.load(f)
    a, b = outs["default"], outs["tr-TR"]
    print(f"locales: {a.pop('__jvm_locale__')} vs {b.pop('__jvm_locale__')}")
    bad = [n for n in a if a[n] != b.get(n)]
    for n in bad:
        print(f"MISMATCH {n}: {a[n]} vs {b.get(n)}")
    print("BAD:", bad)
    print("TOTAL:", len(a), "BAD_COUNT:", len(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args and not args[0].startswith("--") else "/root/testdata/sf0.001"
    if "--emit" in args:
        loc = args[args.index("--locale") + 1] if "--locale" in args else None
        child(sf, args[args.index("--emit") + 1], loc)
    else:
        sys.exit(parent(sf))
