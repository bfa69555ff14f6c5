"""Seeded input generator for the graft benchmark.

Every table mirrors the schema and value shapes of the repository's
synthetic star schema (region, nation, customer, supplier, part, orders,
lineitem, events) and of its documents corpus, so
the registry queries and their DuckDB oracles run on it unchanged. All
values come from one numpy generator seeded by (seed, workload), and the
parquet writer options are fixed, so the same seed yields byte-identical
files and another seed yields different ones.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import lake_model

WORKLOADS = ("interactive", "llm_pipeline", "lake_write")

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

US_PER_DAY = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def rng_for(seed, workload):
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def write(table, path):
    """Fixed writer options: identical tables give identical bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ts(micros):
    return pa.array(micros.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def star(rng, sf):
    """The eight star tables at scale factor `sf` (lineitem ~ 6M * sf rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, n_cust // 10)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
                                  pa.float64())})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), pa.float64()),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_li) * US_PER_DAY)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024_US + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    return t


def documents(rng, n, first_id):
    """`n` word-salad documents. The shape is fixed, the content seeded:
    lengths are a seeded permutation of the same evenly spaced 10..99
    words, and exactly 5% of the documents are near-duplicates of an
    earlier one with a marker token inserted near its end."""
    lengths = rng.permutation(np.linspace(10, 99, n).astype(int))
    dups = set(int(i) for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False))
    texts = []
    for i in range(n):
        if i in dups:
            words = texts[int(rng.integers(0, n // 2))].split()
            at = len(words) - int(rng.integers(0, max(1, len(words) // 10)))
            words.insert(at, "dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(lengths[i]))]
        texts.append(" ".join(words))
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


# Per-workload input sizes. `slices` is the number of disjoint document
# slices the llm_pipeline workload may consume in one run.
SIZES = {
    "interactive": {"sf": 0.01, "docs": 500},
    "llm_pipeline": {"docs_per_slice": 40, "slices": 70},
    "lake_write": {"base_rows": 20_000, "ops": 400},
}


def generate(workload, seed, root):
    """Write the inputs of `workload` for `seed` under `root` and return
    {relative path: {"rows", "bytes"}}."""
    rng = rng_for(seed, workload)
    size = SIZES[workload]
    files = {}

    def put(table, rel):
        path = os.path.join(root, rel)
        write(table, path)
        files[rel] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}

    if workload == "interactive":
        for name, table in star(rng, size["sf"]).items():
            put(table, f"star/{name}.parquet")
        put(documents(rng, size["docs"], 0), "star/documents.parquet")
    elif workload == "llm_pipeline":
        n = size["docs_per_slice"]
        for k in range(size["slices"]):
            put(documents(rng, n, k * n), f"slice{k:03d}/documents.parquet")
    else:
        put(lake_model.base_table(rng, size["base_rows"]), "lake/base.parquet")
        ops = lake_model.plan_ops(rng, size["base_rows"], size["ops"])
        path = os.path.join(root, "lake/ops.jsonl")
        with open(path, "w") as f:
            for op in ops:
                f.write(json.dumps(op, sort_keys=True) + "\n")
        files["lake/ops.jsonl"] = {"rows": len(ops), "bytes": os.path.getsize(path)}
    return files


def digest(root, files):
    """One sha256 over every generated file, in path order."""
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
