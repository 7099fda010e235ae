"""Deterministic synthetic inputs for the graft benchmark.

Writes the ten tables graft's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the same column names, physical types and value
domains as the project's test fixtures:

* a TPC-H-like star schema whose row counts scale with ``sf``;
* an ``events`` stream table (time-ordered, five event types);
* a ``documents`` corpus of 10-89 words drawn from a 30-word vocabulary,
  with ~5% near-duplicates (a prior document plus the token ``dup``) and a
  few exact duplicates, so every dedup route has work to do;
* unit-norm 64-d float ``embeddings`` joined to documents on id.

``copies`` > 1 builds a scaled corpus the way ``tools/make_scale.py``
does: copy i of the documents gets a seeded 26-letter permutation (a
bijection, so the within-copy duplicate structure is kept while copies
stay mutually dissimilar), and copy i of the embeddings a seeded signed
dimension permutation (an orthogonal map, so within-copy cosines are kept).

The output depends only on (sf, copies, seed): the same arguments give
byte-identical parquet files, which is what lets recorded output digests
be checked on every run.

    python3 perfbench/gen_data.py <out_dir> <sf> [copies] [seed]
"""
import json
import os
import random
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the row column window order sort part agg value line key join "
         "merge query group vector hash slow stream filter fast spark batch "
         "table small data big customer scan").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64
US_PER_DAY = 86_400_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values, idx) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def star_schema(sf: float, rng) -> dict:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(names, rng.integers(0, len(names), n_part)),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)],
                         rng.integers(0, 25, n_part)),
        "p_type": _pick(PTYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng),
                               pa.timestamp("us"))})
    return t


def events(sf: float, rng) -> pa.Table:
    n, users = int(1_000_000 * sf), max(int(15_000 * sf), 15)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def corpus(n_docs: int, n_vecs: int, rng) -> tuple:
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(LANGS, rng.choice(len(LANGS), n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return docs, emb


def scale_corpus(docs: pa.Table, emb: pa.Table, copies: int) -> tuple:
    """tools/make_scale.py's per-copy permutation scheme, in memory."""
    n = docs.num_rows
    texts = docs.column("text").to_pylist()
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    out_docs, out_emb = [], []
    for i in range(copies):
        if i == 0:
            letters = string.ascii_lowercase
        else:
            perm = list(string.ascii_lowercase)
            random.Random(42 + i).shuffle(perm)
            letters = "".join(perm)
        table = str.maketrans(string.ascii_lowercase, letters)
        out_docs.append(docs.set_column(0, "doc_id", pa.array(
            np.arange(n) + i * n, pa.int64())).set_column(
            1, "text", pa.array([s.translate(table) for s in texts])))
        rng = random.Random(1042 + i)
        order = list(range(DIM))
        if i > 0:
            rng.shuffle(order)
        signs = np.array([1.0] * DIM if i == 0
                         else [rng.choice((-1, 1)) for _ in range(DIM)])
        vi = (vecs[:, order] * signs).astype(np.float32)
        out_emb.append(pa.table({
            "vec_id": pa.array(np.arange(emb.num_rows) + i * n, pa.int64()),
            "embedding": pa.array(list(vi), pa.list_(pa.float32())),
            "label": emb.column("label")}))
    return pa.concat_tables(out_docs), pa.concat_tables(out_emb)


def generate(out_dir: str, sf: float, copies: int = 1, seed: int = 42) -> dict:
    """Write every table under out_dir; return {table: {rows, bytes}}."""
    rng = np.random.default_rng(seed)
    tables = star_schema(sf, rng)
    tables["events"] = events(sf, rng)
    docs, emb = corpus(int(50_000 * sf), int(20_000 * sf), rng)
    if copies > 1:
        docs, emb = scale_corpus(docs, emb, copies)
    tables["documents"], tables["embeddings"] = docs, emb
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    stats = {}
    for name, table in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    os.replace(tmp, out_dir)
    return stats


if __name__ == "__main__":
    a = sys.argv[1:]
    print(json.dumps(generate(a[0], float(a[1]),
                              int(a[2]) if len(a) > 2 else 1,
                              int(a[3]) if len(a) > 3 else 42)))
