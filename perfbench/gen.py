"""Seeded input generation for the benchmark.

Everything here runs in the calling process with NumPy and pyarrow
only (no Spark), so the inputs exist before the engine starts and the
same ``seed`` always yields byte-identical files:

* ``write_tables`` writes the ten catalog tables (the TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) as one
  parquet file each, with the column names and arrow types the engine's
  loaders and the DuckDB oracles expect.  ``scale`` plays the role of
  the TPC-H scale factor: ``lineitem`` has about ``6_000_000 * scale``
  rows.
* ``write_corpus`` writes the ``mr_compat`` text corpus (Zipf-skewed
  tokens over a large vocabulary, plus a few hot keys) as
  a text file and, computed in plain Python, the exact bytes the
  reference's word count must produce for it.
"""

from __future__ import annotations

import collections
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05

_EPOCH = datetime.datetime(1970, 1, 1)


def _day_us(y: int, m: int, d: int) -> int:
    return int((datetime.datetime(y, m, d) - _EPOCH).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Uniform whole days in [lo, hi] as timestamp[us] (naive)."""
    day = 86_400 * 1_000_000
    lo_d, hi_d = _day_us(*lo) // day, _day_us(*hi) // day
    return pa.array(rng.integers(lo_d, hi_d + 1, n) * day, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (lineitem is ~4 rows per order)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(10, round(10_000 * scale)),
        "part": max(10, round(200_000 * scale)),
        "orders": max(10, round(1_500_000 * scale)),
        "lineitem": max(40, round(6_000_000 * scale)),
        "events": max(10, round(1_000_000 * scale)),
        "documents": max(20, round(50_000 * scale)),
        "embeddings": max(20, round(20_000 * scale)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    vocab = np.array(DOC_VOCAB)
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * 86_400 * 1_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten catalog tables for ``(seed, scale)`` as arrow tables."""
    rng = np.random.default_rng(seed)
    size = table_sizes(scale)
    i32, i64 = pa.int32(), pa.int64()
    n_c, n_s, n_p, n_o, n_l = (size[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    t: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
                "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_c),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
                "s_acctbal": _money(rng, n_s, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_p), i64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
                "p_type": _pick(rng, PART_TYPES, n_p),
                "p_size": pa.array(rng.integers(1, 51, n_p), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_o), i64),
                "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_o),
                "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_o, (1995, 1, 1), (2001, 8, 1)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_o),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
                "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
                "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
                "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
                "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
                "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
                "l_linestatus": _pick(rng, ("F", "O"), n_l),
                "l_shipdate": _days(rng, n_l, (1995, 1, 2), (2001, 11, 4)),
            }
        ),
    }
    t["events"] = _events(rng, size["events"], max(10, n_c // 10))
    t["documents"] = _documents(rng, size["documents"])
    t["embeddings"] = _embeddings(rng, size["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, dict]:
    """Write every table as ``<out_dir>/<name>.parquet``; return
    ``{name: {"rows": n, "bytes": size}}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# --- mr_compat corpus -------------------------------------------------

CORPUS_VOCAB = 60_000
CORPUS_ZIPF_S = 1.05
HOT_KEYS = ("the", "of", "and")
HOT_KEY_SHARE = 0.12
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def corpus_vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase tokens of 2 to 9 letters, in rank order."""
    words: dict[str, None] = {}
    while len(words) < n:
        m = n - len(words) + 1_000
        letters = _LETTERS[rng.integers(0, 26, (m, 9))]
        for row, length in zip(letters, rng.integers(2, 10, m)):
            w = "".join(row[:length])
            if w not in HOT_KEYS:
                words[w] = None
    return list(words)[:n]


def corpus_lines(rng: np.random.Generator, vocab: np.ndarray, n_tokens: int) -> list[str]:
    """One corpus file's lines: ``n_tokens`` Zipf-ranked tokens (plus a
    fixed share of the hot keys) in lines of 4 to 24 tokens."""
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** CORPUS_ZIPF_S
    tokens = vocab[rng.choice(len(vocab), n_tokens, p=weights / weights.sum())]
    hot = rng.random(n_tokens) < HOT_KEY_SHARE
    tokens[hot] = np.array(HOT_KEYS, dtype=object)[rng.integers(0, len(HOT_KEYS), int(hot.sum()))]
    cuts = np.cumsum(rng.integers(4, 25, n_tokens // 4 + 1))
    cuts = np.concatenate(([0], cuts[cuts < n_tokens], [n_tokens]))
    return [" ".join(tokens[a:b]) for a, b in zip(cuts[:-1], cuts[1:])]


def word_count_bytes(lines: list[str]) -> bytes:
    """The reference's output for word count over ``lines``: one
    ``"<key>: <count>"`` line per distinct token, keys in byte order."""
    counts = collections.Counter(tok for line in lines for tok in line.split())
    return "".join(f"{k}: {counts[k]}\n" for k in sorted(counts)).encode()


def write_corpus(out_dir: str, seed: int, n_tokens: int) -> dict:
    """Write the corpus as ``<out_dir>/input/part-0.txt`` and the bytes
    its word count must produce as ``<out_dir>/expected.txt``; return
    the paths and the corpus sizes."""
    rng = np.random.default_rng(seed)
    vocab = np.array(corpus_vocabulary(rng, CORPUS_VOCAB), dtype=object)
    lines = corpus_lines(rng, vocab, n_tokens)
    src = os.path.join(out_dir, "input")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "part-0.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    expected = word_count_bytes(lines)
    exp_path = os.path.join(out_dir, "expected.txt")
    with open(exp_path, "wb") as f:
        f.write(expected)
    return {
        "input": src,
        "expected": exp_path,
        "lines": len(lines),
        "tokens": n_tokens,
        "distinct_keys": expected.count(b"\n"),
        "bytes": os.path.getsize(os.path.join(src, "part-0.txt")),
    }
