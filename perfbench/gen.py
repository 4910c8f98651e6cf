"""Seeded input generator for the benchmark.

Writes the ten tables of the repo's test data (FIXTURES.md section B:
region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as single parquet files
with the schema the query registry and its DuckDB oracle read, so every
registry row and its `oracleSql` run unchanged on the generated data.

The same (seed, scale) always gives byte-identical files: each table draws
from its own child of one `numpy.random.SeedSequence(seed)`, so a table's
content depends neither on the size of any other table nor on which other
tables are written with it; a workload writes only the tables it reads.

Usage: python3 perfbench/gen.py <out_dir> --seed N [--sf 0.01]
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
EMB_CLUSTERS = 10
# share of documents (and of embeddings) that are a lightly edited copy of
# an earlier one
NEAR_DUP_FRACTION = 0.1
# within-cluster noise: same-cluster cosine is about 1 / (1 + 64 * 0.2^2),
# i.e. ~0.28, so clusters are visible to k-means while most vectors stay
# below the 0.4 decontamination threshold of the semantic chain
EMB_NOISE = 0.2
# documents and embeddings are sized apart from --sf: 500 and 200 rows
TEXT_SF = 0.01


def sizes(sf):
    """Rows per table: the TPC-H ratios of the repo's test data for the
    relational tables and `events`, TEXT_SF for documents/embeddings."""
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "users": max(2, int(15_000 * sf)),
        "documents": max(20, int(50_000 * TEXT_SF)),
        "embeddings": max(EMB_CLUSTERS, int(20_000 * TEXT_SF)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n) * np.timedelta64(86_400_000_000, "us")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _dups(rng, n):
    """Sorted positions (never 0) of the rows that copy an earlier row:
    exactly NEAR_DUP_FRACTION of them, so every seed does the same amount
    of dedup work."""
    return np.sort(rng.choice(np.arange(1, n), int(NEAR_DUP_FRACTION * n), replace=False))


def _region(r, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})


def _nation(r, n):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})


def _customer(r, n):
    m = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(m, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(m)]),
        "c_nationkey": pa.array(r.integers(0, 25, m, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, m)),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], m)})


def _supplier(r, n):
    m = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(m, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(m)]),
        "s_nationkey": pa.array(r.integers(0, 25, m, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, m))})


def _part(r, n):
    m = n["part"]
    keys = np.arange(m, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, [f"{a} {b}" for a in ADJ for b in NOUN], m),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], m),
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], m),
        "p_size": pa.array(r.integers(1, 51, m, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})


def _orders(r, n):
    m = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(m, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], m, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], m),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, m)),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2405, m)),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], m)})


def _lineitem(r, n):
    m = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], m, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n["part"], m, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, m, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, m)),
        "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], m),
        "l_linestatus": _pick(r, ["F", "O"], m),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2499, m))})


def _events(r, n):
    m = n["events"]
    # strictly increasing microsecond timestamps over 30 days
    gaps = r.integers(1, max(2, int(2 * 30 * 86_400_000_000 / m)), m)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, n["users"], m, dtype=np.int64)),
        "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], m),
        "value": pa.array(np.round(r.exponential(50.0, m), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, m)])})


def _documents(r, n):
    m = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    dup_docs = set(_dups(r, m).tolist())
    texts = []
    for i in range(m):
        if i in dup_docs:
            toks = texts[r.integers(0, i)].split()
            for j in r.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[r.integers(0, len(words))]
            toks.append("dup")
        else:
            toks = list(words[r.integers(0, len(words), r.integers(10, 101))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(m, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(r, LANGS, m, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(m)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def _embeddings(r, n):
    m = n["embeddings"]
    centers = r.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = r.integers(0, EMB_CLUSTERS, m, dtype=np.int32)
    vec = centers[label] + EMB_NOISE * r.standard_normal((m, EMB_DIM))
    dup = _dups(r, m)
    src = (r.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[src] + 0.01 * r.standard_normal((len(dup), EMB_DIM))
    label[dup] = label[src]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label)})


BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events,
            "documents": _documents, "embeddings": _embeddings}


def gen_tables(seed, sf, tables=TABLES):
    """The named tables (others are not built); every table from its own
    seed stream, so a subset is identical to the same tables of the full
    set."""
    n = sizes(sf)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))
    return {k: BUILDERS[k](rngs[k], n) for k in tables}, n


def _tie_ratio(col):
    """Share of rows whose value is not the first of its value: 0 means
    all distinct, near 1 means a few heavy ties."""
    return round(1.0 - len(np.unique(col)) / len(col), 6)


def _distinct(t, table, col):
    return len(np.unique(t[table][col].to_numpy()))


def properties(t, n, paths):
    """Input properties of the tables written: rows, bytes, group-key
    cardinalities, rank-column tie ratios, near-duplicate fractions."""
    props = {"rows": {k: v.num_rows for k, v in t.items()},
             "bytes_on_disk": {k: os.path.getsize(paths[k]) for k in t},
             "group_key_cardinality": {}, "rank_tie_ratio": {},
             "near_duplicate_fraction": {}}
    gk = props["group_key_cardinality"]
    if "lineitem" in t:
        for c in ["l_suppkey", "l_partkey", "l_orderkey"]:
            gk[f"lineitem.{c}"] = _distinct(t, "lineitem", c)
        props["rank_tie_ratio"] = {c: _tie_ratio(t["lineitem"][c].to_numpy()) for c in
                                   ["l_quantity", "l_discount", "l_extendedprice"]}
    if "orders" in t:
        gk["orders.o_custkey"] = _distinct(t, "orders", "o_custkey")
    if "events" in t:
        gk["events.user_id"] = _distinct(t, "events", "user_id")
    if "documents" in t:
        dups = sum(x.endswith(" dup") for x in t["documents"]["text"].to_pylist())
        props["near_duplicate_fraction"]["documents"] = round(dups / n["documents"], 6)
    if "embeddings" in t:
        m = n["embeddings"]
        props["near_duplicate_fraction"]["embeddings"] = round(int(NEAR_DUP_FRACTION * m) / m, 6)
        props["embedding_clusters"] = EMB_CLUSTERS
        props["embedding_dim"] = EMB_DIM
    return props


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(out_dir, seed, sf, tables=TABLES):
    """Writes the named tables and properties.json; returns the
    properties plus a sha256 per file."""
    os.makedirs(out_dir, exist_ok=True)
    t, n = gen_tables(seed, sf, tables)
    paths = {k: os.path.join(out_dir, f"{k}.parquet") for k in t}
    for k in t:
        pq.write_table(t[k], paths[k], compression="snappy")
    props = properties(t, n, paths)
    props["seed"], props["sf"] = seed, sf
    props["sha256"] = {k: _sha256(paths[k])
                       for k in t}
    with open(os.path.join(out_dir, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    p = generate(a.out_dir, a.seed, a.sf)
    print(json.dumps({k: p[k] for k in ["rows", "bytes_on_disk"]}))
