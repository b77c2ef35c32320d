"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten catalog tables (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the same column names, physical types and value
domains as the corpus the catalog's oracles are written against.
Sizes scale linearly with ``sf`` (sf 0.01 = 60k lineitem rows).

``weather_drops`` writes the weather-domain CSV pair the Lambda
pipeline reads (via ``tests/weather_fixture.generate``) and splits the
weather file into K streaming file drops.
"""

from __future__ import annotations

import csv
import os
from datetime import datetime

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int))
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # a sprinkle of exact and near duplicates, so the dedup operators
    # have clusters to find
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.004:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 0 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(words)
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    month_us = 30 * 86400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one file, one
    row group each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(sf, seed).items():
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"), index=False, row_group_size=1 << 30
        )


def weather_drops(out_dir: str, seed: int, years: tuple[int, int], k: int) -> dict:
    """Generate the weather CSV pair, then split the weather rows into
    ``k`` drop files (each with its own header) under ``out_dir/drops``.
    Returns the generator's summary plus the drop paths, their row
    counts and the per-(district, year, month) clean-row counts the
    outputs must reproduce."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tests.weather_fixture import generate

    info = generate(out_dir, years=years, seed=seed)
    with open(info["weather_csv"], newline="") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    counts: dict[tuple[int, int, int], int] = {}
    for r in body:
        try:
            loc = int(r[0])
            d = datetime.strptime(r[1], "%m/%d/%Y")
        except ValueError:
            continue  # the generator's dirty rows, which ingest must drop
        key = (loc, d.year, d.month)
        counts[key] = counts.get(key, 0) + 1
    drops_dir = os.path.join(out_dir, "drops")
    os.makedirs(drops_dir, exist_ok=True)
    bounds = np.linspace(0, len(body), k + 1).astype(int)
    drops, drop_rows = [], []
    for i in range(k):
        p = os.path.join(drops_dir, f"weather_{i:03d}.csv")
        with open(p, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(body[bounds[i] : bounds[i + 1]])
        drops.append(p)
        # Spark's CSV reader drops every line equal to the header, so a
        # repeated header mid-file is not an input row
        drop_rows.append(sum(r != header for r in body[bounds[i] : bounds[i + 1]]))
    info.update(drops=drops, drop_rows=drop_rows, counts=counts)
    return info
