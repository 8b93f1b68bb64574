"""Deterministic input generator for the benchmark.

Writes the ten graft tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each,
with the schemas and value domains the graft operators are written
against (see FIXTURES.md). The tables are a pure function of the scale
factor: the workload seed never changes them, it only orders the steps
or cuts the ingest slices, so the pinned output digests hold for every
seed.

The reactive_ingest workload's landing zone is cut from `events` by
`write_slices`: the seed sets the slice boundaries.

Usage: python3 perfbench/gen.py <out_dir> [scale_factor]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = (["en", "es", "zh", "de", "fr"], [0.4, 0.15, 0.15, 0.15, 0.15])


def ts_us(year, month, day):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def dates(rng, n, lo, hi):
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    day = 86_400_000_000
    return lo + rng.integers(0, (hi - lo) // day + 1, n) * day


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)}
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(dates(rng, n_ord, ts_us(1995, 1, 1), ts_us(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(dates(rng, n_line, ts_us(1995, 1, 2), ts_us(2001, 11, 4)),
                               pa.timestamp("us"))}
    # Events: contiguous ids, strictly increasing timestamps over 30 days.
    gaps = rng.exponential(1.0, n_ev)
    span = 30 * 86_400_000_000 - 1_000_000
    ts = ts_us(2024, 1, 1) + 1_000_000 + np.floor(np.cumsum(gaps) / gaps.sum() * span)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 25.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    # Documents: bag-of-vocabulary text; ~5% near-duplicates (a copy of
    # another document plus one token) and a few exact duplicates, so
    # every dedup family has pairs to find.
    lens = rng.integers(10, 101, n_doc)
    text = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    near = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in near:
        text[i] = text[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(n_doc // 600, 1), replace=False):
        text[i] = text[int(rng.integers(0, n_doc))]
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)}
    # Embeddings: unit vectors around ten label centroids.
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] * 0.35 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label}
    return t


def write_tables(out, sf):
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(sf).items():
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp, compression="snappy")
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def write_slices(events_path, out, seed, n, lo_rows=1000, hi_rows=3000):
    """Cuts the first ids of `events` into n contiguous slices of seed-drawn
    sizes, one parquet file each, and writes slices.tsv: index, first id,
    last id, rows, file bytes, file name.
    """
    events = pq.read_table(events_path)
    sizes = np.random.default_rng(seed).integers(lo_rows, hi_rows, n)
    os.makedirs(out, exist_ok=True)
    rows, lo = [], 0
    for i, size in enumerate(sizes):
        name = f"slice-{i:03d}.parquet"
        # A small table runs out before the last slices: they hold fewer
        # rows, or none.
        part = events.slice(lo, int(size))
        pq.write_table(part, os.path.join(out, name), compression="snappy")
        rows.append(f"{i}\t{lo}\t{lo + part.num_rows - 1}\t{part.num_rows}\t"
                    f"{os.path.getsize(os.path.join(out, name))}\t{name}")
        lo += part.num_rows
    with open(os.path.join(out, "slices.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
