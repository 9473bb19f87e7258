"""Seeded generator for the star-schema tables graft's queries read.

Writes the ten parquet files `graft.tables.Tables` opens (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one row group each, with the column names, physical types
and value domains of the sf-scaled testdata the query registry was
written against. The same (seed, sf, docs) always gives the same tables.
`write_gp` adds the GP operations' one-file inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
# Scale factor of the benchmark's star-schema tables (sf0.01: 60k
# lineitem rows) and the size of its text corpus and embedding set.
BENCH_SF = 0.01
BENCH_DOCS = 300


def _s(values):
    return pa.array(values, pa.string())


def _day_ts(rng, start, days, n):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def tables(seed, sf, n_doc, n_emb):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt, n_user = int(1_000_000 * sf), int(15_000 * sf)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": _s(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _s([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _s([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_cust) / 100.0),
        "c_mktsegment": _s(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _s([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_supp) / 100.0)})
    pk = np.arange(n_part)
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.array(NOUN)[rng.integers(0, 8, n_part)])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _s(names),
        "p_brand": _s([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _s(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _s(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_ord) / 100.0),
        "o_orderdate": _day_ts(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _s(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.integers(90_000, 210_000, n_line) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _s(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": _s(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _day_ts(rng, "1995-01-02", 2498, n_line)})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": _s(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": _s([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates (a later document plus one marker word) and a
    # few exact copies, so the dedup and similarity operators find pairs
    for i in rng.choice(n_doc // 2, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(n_doc // 2, n_doc))] + " dup"
    for i in rng.choice(n_doc // 2, max(1, n_doc // 600), replace=False):
        texts[int(rng.integers(n_doc // 2, n_doc))] = texts[i]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": _s(texts),
        "lang": _s(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": _s([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir, seed, sf, n_doc=BENCH_DOCS):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, n_doc, n_doc).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")


def write_gp(out_dir, seed, gp):
    """One-file inputs of the gp workload: `features` (array<double>) and
    `y = sin(2 * sum(x)) + noise` for training and held-out testing, and
    a features-only frame to score."""
    rng = np.random.default_rng([seed, 7])
    d = gp["dim"]

    def frame(n, with_y):
        x = rng.uniform(-1.0, 1.0, (n, d))
        cols = {"features": pa.array(list(x), pa.list_(pa.float64()))}
        if with_y:
            y = np.sin(2.0 * x.sum(axis=1)) + rng.normal(0.0, gp["noise"], n)
            cols["y"] = pa.array(y)
        return pa.table(cols)

    for name, n, with_y in (("gp_train", gp["n_train"], True),
                            ("gp_test", gp["n_test"], True),
                            ("gp_predict", gp["n_predict"], False)):
        t = frame(n, with_y)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")

