"""Seeded catalog tables and the DuckDB oracle for the catalog_batch workload.

The tables follow the schema of the repository's catalog (``tables.py``):
a TPC-H-like star (region, nation, customer, supplier, part, orders,
lineitem), an ``events`` stream, ``documents`` with planted near-duplicates
and clustered ``embeddings``. Row counts scale with ``sf`` the way the
catalog's own test data does (lineitem ≈ 6,000,000 × sf).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.001  # scale factor of the generated tables (lineitem: 6,000 rows)

# the ten queries of the historical bench.py headline, in its order
CLASSIC = [
    "q_pricing_summary",
    "q_regional_revenue",
    "q_top_order_per_customer",
    "q_user_sessions",
    "q_overlapping_activity",
    "q_asof_purchase_view",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_cosine_topk",
    "q_text_stats",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("the a data spark query join sort merge hash scan table row column window "
         "batch stream filter group agg key value part line order customer vector "
         "fast slow big small new old").split()


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten tables as parquet under ``out_dir``; returns bytes written."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5), max(int(200_000 * sf), 20)
    n_orders, n_items = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(500_000 * sf), int(500_000 * sf)
    n_users = max(int(15_000 * sf), 5)
    day = np.datetime64("1995-01-01", "us")
    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999, 9999, n_cust)),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999, 9999, n_supp))}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["cold", "small", "large", "blue", "old", "new"], n_part),
                                                  rng.choice(["widget", "bolt", "rod", "anvil", "ring"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _cents(900 + np.arange(n_part) * 0.1)}),
    }
    orderdate = day + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _cents(rng.uniform(1000, 400_000, n_orders)),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    okey = rng.integers(0, n_orders, n_items)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900, 100_000, n_items)),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["F", "O"], n_items),
        "l_shipdate": orderdate[okey] + rng.integers(1, 122, n_items).astype("timedelta64[D]")})
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]"))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64), "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _cents(rng.exponential(50, n_events) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.15:  # near-duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))) / 8.0
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)), "label": labels.astype(np.int32)})

    os.makedirs(out_dir, exist_ok=True)
    written = 0
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        written += os.path.getsize(path)
    return written


def oracle_results(data_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """Each query's oracle SQL run on DuckDB over the same parquet files."""
    import duckdb

    from thymeflow_back_spark import queries as catalog
    from thymeflow_back_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {n: con.execute(catalog.QUERIES[n].oracle).fetchdf() for n in names}
    finally:
        con.close()

