"""Input generator for the benchmark.

`base(dst, sf)` writes the ten fixture tables (region … embeddings) at
scale factor `sf`, with the schemas, value ranges and duplicate structure
of the repository's fixtures (FIXTURES.md): one parquet file per table,
one row group per file. The base tables depend only on `sf` (generator
seed 42), so every run at one scale sees the same base rows.

`scaled(src, dst, seed, copies)` writes the dup-rich, key-remapped copy
the scale workload reads (the ScaleProbe recipe): `copies` copies of every
keyed table, each copy's keys shifted by its own offset so joins stay
consistent and key cardinalities scale with the copy count; nation and
region keep one copy; document text gets a per-copy salt token, so copies
are near-duplicates; embeddings get a small per-copy jitter. The run seed
picks the offsets and salt tokens.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "green", "hot", "new", "old", "big", "large"]
P_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000     # 1995-01-01 00:00:00 UTC, µs
EPOCH_2024 = 1_704_067_200_000_000   # 2024-01-01 00:00:00 UTC, µs


def _write(dst, name, table):
    tmp = os.path.join(dst, f".{name}.parquet.tmp")
    pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
    os.replace(tmp, os.path.join(dst, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # 5% near-duplicates: a prefix of an earlier or later doc plus a marker
    # token, so the MinHash/LSH families find real clusters
    for i in rng.choice(n, n // 20, replace=False):
        src = texts[int(rng.integers(0, n))].split()
        keep = max(3, int(len(src) * rng.uniform(0.85, 1.0)))
        texts[i] = " ".join(src[:keep] + ["dup"])
    return texts


def base(dst, sf):
    """Write the ten base tables at scale factor `sf` into `dst`."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(42)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500

    _write(dst, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(dst, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(dst, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    _write(dst, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    _write(dst, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                               rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}))
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(dst, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}))
    lorder = rng.integers(0, n_ord, n_line)
    _write(dst, "lineitem", pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(odate[lorder] + rng.integers(1, 96, n_line) * DAY_US)}))
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(dst, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    texts = _documents(rng, n_doc)
    _write(dst, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(dst, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}))


# keyed columns of each copied table; nation and region keep one copy
KEYS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"]}


def scaled(src, dst, seed, copies=10):
    """Write `copies` key-remapped, salted copies of the tables in `src`."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    # copy i's keys shift by i·10¹⁰ plus a seed-drawn jitter below 10⁹,
    # so copies never collide and copy 0 keeps the base keys
    offsets = [0] + [i * 10**10 + int(rng.integers(0, 10**9))
                     for i in range(1, copies)]
    salts = [None] + ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 4))
                      for _ in range(1, copies)]
    for name in ("region", "nation"):
        shutil.copyfile(os.path.join(src, f"{name}.parquet"),
                        os.path.join(dst, f"{name}.parquet"))
    for name, keys in KEYS.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        parts = []
        for i in range(copies):
            c = t
            for k in keys:
                j = c.schema.get_field_index(k)
                c = c.set_column(j, k, pa.array(c[k].to_numpy() + offsets[i], pa.int64()))
            if i > 0 and name == "documents":
                j = c.schema.get_field_index("text")
                text = [f"{salts[i]} {x}" for x in c["text"].to_pylist()]
                c = c.set_column(j, "text", pa.array(text, pa.string()))
                j = c.schema.get_field_index("n_chars")
                c = c.set_column(j, "n_chars", pa.array([len(x) for x in text], pa.int64()))
            if i > 0 and name == "embeddings":
                emb = np.stack(c["embedding"].to_numpy(zero_copy_only=False))
                emb = emb + rng.uniform(-0.025, 0.025, emb.shape).astype(np.float32)
                j = c.schema.get_field_index("embedding")
                c = c.set_column(j, "embedding",
                                 pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())))
            parts.append(c)
        _write(dst, name, pa.concat_tables(parts))
