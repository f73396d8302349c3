"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables of TESTDATA.md (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the same column names, types and value shapes
as the repo's sf fixtures.  Every key, value, row order and the corpus'
duplicate structure is drawn from `numpy.random.default_rng(seed)`, so
the same (seed, sf) always gives byte-identical tables, and a
different seed gives a different drop of the same size.

Money columns are two-decimal values and quantities are integral, like
the repo fixtures, so the pipelines' exact-integer digests stay
hash-comparable with the DuckDB oracle.

The corpus carries a stated duplicate structure: `EXACT_DUP_SHARE` of
the documents are verbatim copies of an earlier document and
`NEAR_DUP_SHARE` are an earlier document plus one appended token.

Each fixture is written to its own directory (staged under a temp name
and renamed into place), never regenerated in place: the engine keys
staged raw zones and schema caches by fixture path.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXACT_DUP_SHARE = 0.02
NEAR_DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    """Two-decimal values in [lo, hi), as the fixtures store prices."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _tables(rng, sf):
    # row counts follow the repo fixtures (sf0.1: 600k lineitem rows)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(500, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = rng.permutation(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    sk = rng.permutation(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = rng.permutation(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})

    ok = rng.permutation(n_ord)
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2500, n_line) * US_PER_DAY)})

    # events are in time order with event_id, like the fixture stream
    ets = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    t["documents"], corpus = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t, corpus


def _documents(rng, n):
    vocab = np.array(VOCAB)
    texts = []
    n_exact = n_near = 0
    for i in range(n):
        u = rng.random()
        if i > 0 and u < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        elif i > 0 and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_near += 1
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 101)))]))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    return table, {"exact_dup_docs": n_exact, "near_dup_docs": n_near,
                   "exact_dup_share": EXACT_DUP_SHARE,
                   "near_dup_share": NEAR_DUP_SHARE}


def _embeddings(rng, n, dim=64, k=10):
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def fixture(root, seed, sf):
    """Directory of the (seed, sf) fixture under `root`, generated on
    first use. Returns (path, manifest)."""
    path = os.path.join(root, f"seed_{seed}", f"sf{sf}")
    manifest_path = os.path.join(path, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return path, json.load(f)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    tables, corpus = _tables(rng, sf)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"seed": seed, "sf": sf, "corpus": corpus,
                "tables": {}}
    for name, table in tables.items():
        f = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, f, compression="snappy")
        manifest["tables"][name] = {"rows": table.num_rows,
                                    "bytes": os.path.getsize(f)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, manifest
