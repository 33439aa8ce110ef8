"""Seeded inputs: the ten catalog tables and the tweet-line stream.

The tables follow the schemas and value shapes of the repository's
synthetic fixtures (``FIXTURES.md``) at about the row counts of sf0.01,
so every registered query and its DuckDB oracle run on them unchanged.
The same seed always yields byte-identical inputs; the program under
test receives only these files and lines, never the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table (sf0.01 of the fixture generator).
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64
N_USERS = 150
N_SOURCES = 20

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed % 2**63, 1])
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(_SEGMENTS, c).tolist(),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(p), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(_PTYPES, p).tolist(),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, o),
            "o_orderpriority": rng.choice(_PRIORITIES, o).tolist(),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], li).tolist(),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, li),
        }
    )
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(e), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, e), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, e).tolist(),
            "value": _money(rng, 0.01, 490.0, e),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    vec = rng.standard_normal((v, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(v), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, v), pa.int32()),
        }
    )
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; one in twenty is a near-duplicate of another
    document (its text plus a trailing ``dup`` token), which gives the
    dedup operators real clusters to find."""
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(_DOC_WORDS, k).tolist()))
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_tables(seed: int, dest: str) -> str:
    """Write every table as ``<dest>/<name>.parquet`` (one row group,
    like the fixtures) and return ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest


# -- tweet lines -------------------------------------------------------------

N_TAGS = 3_000
ZIPF_S = 1.1
_TWEET_WORDS = (
    "just saw the new release and it is great today with friends at home "
    "love this game match news live now wow big day watch follow update"
).split()


def make_lines(seed: int, n: int) -> list[str]:
    """``n`` tweet lines: 3 to 9 words plus 0 to 3 hashtags drawn from a
    Zipf(1.1) law over 3,000 tags, so a few tags are hot and most are
    rare, as with real hashtags. Which tag is hot depends on the seed."""
    rng = np.random.default_rng([seed % 2**63, 2])
    ranks = np.arange(1, N_TAGS + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    names = [f"#tag{i:04d}" for i in rng.permutation(N_TAGS)]
    n_words = rng.integers(3, 10, n)
    n_tags = rng.choice(4, n, p=[0.1, 0.5, 0.3, 0.1])
    words = rng.choice(_TWEET_WORDS, int(n_words.sum())).tolist()
    tags = rng.choice(N_TAGS, int(n_tags.sum()), p=p).tolist()
    lines = []
    wi = ti = 0
    for nw, nt in zip(n_words.tolist(), n_tags.tolist()):
        toks = words[wi : wi + nw] + [names[k] for k in tags[ti : ti + nt]]
        wi += nw
        ti += nt
        rng.shuffle(toks)
        lines.append(" ".join(toks))
    return lines
