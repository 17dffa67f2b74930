"""Seeded fixture generator for the benchmark.

Writes the ten tables `graft.Tables` reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) at the
row counts, column types and value domains of the sf0.1 fixture set:
one snappy parquet file per table, one row group per file. The same seed
gives byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
N_CUSTOMER = int(150_000 * SCALE)
N_SUPPLIER = int(10_000 * SCALE)
N_PART = int(200_000 * SCALE)
N_ORDERS = int(1_500_000 * SCALE)
N_LINEITEM = int(6_000_000 * SCALE)
N_EVENTS = int(1_000_000 * SCALE)
N_USERS = N_CUSTOMER // 10
N_DOCUMENTS = int(50_000 * SCALE)
N_EMBEDDINGS = int(20_000 * SCALE)
EMBED_DIM = 64

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _day(y, m, d):
    return np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us")


def _days_between(rng, n, lo, hi):
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": _names("Customer", N_CUSTOMER),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": _names("Supplier", N_SUPPLIER),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adjectives, N_PART), " "),
                              rng.choice(nouns, N_PART)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _days_between(rng, N_ORDERS, _day(1995, 1, 1), _day(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, N_LINEITEM, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _days_between(rng, N_LINEITEM, _day(1995, 1, 2), _day(2001, 11, 4))})
    # events: one month of strictly increasing timestamps (sorted by id)
    start = _day(2024, 1, 1)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(month_us, N_EVENTS, replace=False)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(start + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, N_EVENTS).astype(str)), "}")})
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng):
    """Documents of 10-100 words over a 30-word vocabulary; 5% are a
    near-duplicate (an earlier document plus the word `dup`) and 8 pairs
    are exact copies, the duplicate structure the dedup family targets."""
    words = np.array(VOCAB)
    lengths = rng.integers(10, 101, N_DOCUMENTS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lengths]
    near = rng.choice(np.arange(1, N_DOCUMENTS), N_DOCUMENTS // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    plain = np.setdiff1d(np.arange(1, N_DOCUMENTS), near)
    for i in rng.choice(plain, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
        "source": np.char.add("src", (np.arange(N_DOCUMENTS) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng):
    """Unit vectors with a weak per-label centroid (10 labels)."""
    labels = rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)
    centroids = rng.normal(0.0, 0.07 / np.sqrt(EMBED_DIM), (10, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (N_EMBEDDINGS, EMBED_DIM)) + centroids[labels] * np.sqrt(EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_EMBEDDINGS * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat),
        "label": pa.array(labels)})


def write(out_dir, seed):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet", compression="snappy",
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
