"""Deterministic synthetic fixtures for the benchmark.

Writes the ten tables the registry reads (``registry.TABLES``) as one
parquet file each, with the schemas documented in FIXTURES.md: a
TPC-H-shaped star schema, an ``events`` stream table, a ``documents``
corpus and an ``embeddings`` table. The same (scale, seed) always gives
the same rows.

Row counts follow the fixture scale factor: lineitem ~6M x sf, orders
1.5M x sf, customer 150k x sf, part 200k x sf, supplier 10k x sf, events
1M x sf, and 50k x sf documents and embeddings (at least 500).

Usage: python3 perfbench/gen.py OUT_DIR [--sf 0.1] [--seed 42]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["almond", "azure", "blush", "coral", "forest", "ivory", "khaki",
          "lemon", "navy", "olive", "plum", "rose", "sienna", "tan"]
NOUNS = ["widget", "gadget", "gizmo", "sprocket", "bracket", "bolt", "valve"]
TYPES = ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BRUSHED STEEL",
         "LARGE POLISHED BRASS", "ECONOMY BURNISHED NICKEL", "PROMO PLATED TIN"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
STOPWORDS = ["a", "the", "of", "and", "to", "in", "is", "on"]
TOPICAL = ["join", "vector", "stream", "query", "data", "index", "model",
           "token", "table", "spark", "shuffle", "parquet"]

DAY_US = 86_400_000_000
EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
EPOCH_EVENTS = np.datetime64("2024-03-01", "us").astype(np.int64)
CUTOFF_1995 = np.datetime64("1995-06-17", "us").astype(np.int64)


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    return pa.array(us.astype("datetime64[us]")).cast(pa.timestamp(unit))


def _write(out: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(out: str, sf: float, rng: np.random.Generator) -> None:
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array(np.array([r for _, r in NATIONS], np.int32)),
    })
    n_cust = max(150, int(150_000 * sf))
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    n_supp = max(10, int(10_000 * sf))
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    n_part = max(200, int(200_000 * sf))
    price = np.round(900.0 + (np.arange(n_part) % 20_001) / 10.0
                     + rng.integers(0, 100, n_part), 2)
    c1, c2 = rng.integers(0, len(COLORS), (2, n_part))
    noun = rng.integers(0, len(NOUNS), n_part)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": pa.array([f"{COLORS[a]} {COLORS[b]} {NOUNS[c]}"
                            for a, b, c in zip(c1, c2, noun)]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in
                             rng.integers(1, 6, (n_part, 2))]),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, len(TYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price),
    })

    n_ord = max(1500, int(1_500_000 * sf))
    okey = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = EPOCH_1992 + rng.integers(0, 2405, n_ord) * DAY_US
    lines = rng.integers(1, 8, n_ord)
    l_okey = np.repeat(okey, lines)
    l_odate = np.repeat(odate, lines)
    n_li = len(l_okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    partkey = rng.integers(1, n_part + 1, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[partkey - 1], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = l_odate + rng.integers(1, 122, n_li) * DAY_US
    shipped = ship <= CUTOFF_1995
    rflag = np.array(["R", "A", "N", "N"])[rng.integers(0, 4, n_li)]
    lstatus = np.where(shipped, "F", "O")
    charge = np.bincount(np.repeat(np.arange(n_ord), lines),
                         weights=ext * (1 - disc) * (1 + tax), minlength=n_ord)
    all_f = np.bincount(np.repeat(np.arange(n_ord), lines),
                        weights=(~shipped).astype(float), minlength=n_ord) == 0
    any_f = np.bincount(np.repeat(np.arange(n_ord), lines),
                        weights=shipped.astype(float), minlength=n_ord) > 0
    ostatus = np.where(all_f, "F", np.where(any_f, "P", "O"))
    _write(out, "orders", {
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(ostatus),
        "o_totalprice": pa.array(np.round(charge, 2)),
        "o_orderdate": _ts(odate, "ms"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_okey),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(rflag),
        "l_linestatus": pa.array(lstatus),
        "l_shipdate": _ts(ship, "ms"),
    })


def _events(out: str, sf: float, rng: np.random.Generator) -> None:
    n = max(1000, int(1_000_000 * sf))
    # mostly in arrival order with sub-minute jitter: every event stays
    # well inside the streaming queries' 10-minute watermark
    gaps = rng.integers(0, 40_000_000, n)
    ts = EPOCH_EVENTS + np.cumsum(gaps) + rng.integers(0, 30_000_000, n)
    n_users = max(100, int(10_000 * sf))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts, "us"),
        "user_id": pa.array(rng.integers(1, n_users + 1, n).astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.choice(5, n, p=[.5, .3, .1, .05, .05])]),
        "value": pa.array(_money(rng, 0.0, 500.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
             for _ in range(size * 2)}
    words -= set(STOPWORDS) | set(TOPICAL)
    return sorted(words)[:size]


def _documents(out: str, sf: float, rng: np.random.Generator) -> None:
    n = max(500, int(50_000 * sf))
    # Zipf-like weights by rank: stopwords first, then topical terms
    vocab = np.array(STOPWORDS + TOPICAL + _vocab(rng, 3000))
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    boiler = " ".join(vocab[rng.integers(0, len(vocab), 24)])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.12:
            # near duplicate: an earlier document with a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            continue
        toks = list(vocab[rng.choice(len(vocab), int(rng.integers(24, 160)), p=p)])
        if rng.random() < 0.1:
            toks[0] = toks[0].capitalize()
            toks[-1] = toks[-1] + "."
        text = " ".join(toks)
        if r > 0.98:
            text = text + " " + boiler  # shared boilerplate tail
        texts.append(text)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 5, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(out: str, sf: float, rng: np.random.Generator) -> None:
    n, dim, k = max(500, int(50_000 * sf)), 64, 10
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    vecs = (centers[label] + rng.normal(0, 0.6, (n, dim))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def split_lineitem(out: str, n: int) -> None:
    """Write lineitem again as ``n`` parquet objects under
    ``out/lineitem_objects``, object i holding the orders with
    ``l_orderkey % n == i`` (the reference's many-objects layout)."""
    li = pq.read_table(os.path.join(out, "lineitem.parquet"))
    d = os.path.join(out, "lineitem_objects")
    os.makedirs(d, exist_ok=True)
    key = li["l_orderkey"].to_numpy() % n
    for i in range(n):
        pq.write_table(li.filter(pa.array(key == i)),
                       os.path.join(d, f"part-{i:05d}.parquet"))


def generate(out: str, sf: float = 0.1, seed: int = 42) -> None:
    """Write every fixture table under ``out`` (created if missing)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _star(out, sf, rng)
    _events(out, sf, rng)
    _documents(out, sf, rng)
    _embeddings(out, sf, rng)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out, a.sf, a.seed)
