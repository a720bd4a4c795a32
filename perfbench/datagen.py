"""Seeded input generators for the benchmark.

``write_tables`` writes the ten TPC-H-style tables the query registry
reads (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) as one parquet file each, with the
schemas, value domains and physical parquet types of the engine's
test tables. ``listings`` builds the real-estate listings and prices
the prediction workload trains on. The same seed gives the same
bytes; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(10, int(15_000 * sf)), max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype="int32")
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )
    ck = np.arange(n_cust, dtype="int64")
    out["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype="int64")
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -1000, 10000),
    })
    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(n_ord, dtype="int64")
    out["orders"] = pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # strictly increasing event times spread over 30 days
    gaps = rng.exponential(1.0, n_evt)
    ts_us = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 - 60) * 1e6
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("int64").astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # 5% of documents are a copy of another one with " dup" appended,
    # the near-duplicates the dedup and sparse-similarity queries find
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))].removesuffix(" dup") + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_vec).astype("int32"),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write ``tables(seed, sf)`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


PROPERTY_TYPES = ["apartment", "house", "villa", "land"]
ENERGY = ["A", "B", "C", "D"]
EXPOSITIONS = ["north", "south", "east", "west"]


def listings(seed: int, n: int) -> pd.DataFrame:
    """``n`` synthetic listings in the LISTINGS_SCHEMA column order plus a
    ``price`` column that depends on size, rooms and property type, so
    the model has signal to learn."""
    rng = np.random.default_rng(seed)
    i = np.arange(n)
    size = 20.0 + 200.0 * rng.random(n)
    rooms = (1 + i % 7).astype("int32")
    ptype = np.array(PROPERTY_TYPES)[rng.integers(0, 4, n)]
    df = pd.DataFrame({
        "id_annonce": i.astype("int32"),
        "property_type": ptype,
        "approximate_latitude": 48.0 + rng.random(n),
        "approximate_longitude": 2.0 + rng.random(n),
        "city": [f"city{k}" for k in i % 10],
        "postal_code": (75000 + i % 100).astype("int32"),
        "size": size,
        "floor": (i % 6).astype("int32"),
        "land_size": np.where(np.isin(ptype, ["house", "villa"]), 500.0 * rng.random(n), np.nan),
        "energy_performance_value": 50.0 + 300.0 * rng.random(n),
        "energy_performance_category": np.array(ENERGY)[rng.integers(0, 4, n)],
        "ghg_value": 5.0 + 50.0 * rng.random(n),
        "ghg_category": np.array(ENERGY)[rng.integers(0, 4, n)],
        "exposition": np.array(EXPOSITIONS)[rng.integers(0, 4, n)],
        "nb_rooms": rooms,
        "nb_bedrooms": (i % 4).astype("int32"),
        "nb_bathrooms": (i % 3).astype("int32"),
        "nb_parking_places": (i % 2).astype("int32"),
        "nb_boxes": (i % 2).astype("int32"),
        "nb_photos": (i % 12).astype("int32"),
        "has_a_balcony": (i % 2).astype(float),
        "nb_terraces": (i % 3).astype(float),
        "has_a_cellar": (i % 2).astype(float),
        "has_a_garage": ((i + 1) % 2).astype(float),
        "has_air_conditioning": (i % 5 == 0).astype(float),
        "last_floor": (i % 6 == 5).astype(float),
        "upper_floors": (i % 6).astype(float),
    })
    house = np.isin(ptype, ["house", "villa"])
    df["price"] = (size * 3000.0 + rooms * 20000.0 + house * 150000.0 + 50000.0) * np.exp(
        rng.normal(0.0, 0.1, n)
    )
    return df
