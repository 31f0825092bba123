#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the ten tables graft's queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the schemas and value domains of the engine's test
tables, plus the change batches the stream_commit workload applies.
The same (seed, scale) always gives byte-identical files.

Scale follows the test tables' sizing: at scale 0.1 lineitem has
600,000 rows, orders 150,000, events 100,000, documents 5,000 and
embeddings 2,000. Documents and embeddings never drop below 500 rows.
The dimension tables are generated per row; documents, embeddings and
events grow the way the replica recipe of the engine's 100x probe
grows them, so near-duplicate density stays fixed as scale grows:

- documents: 10-100 words from a 30-word vocabulary. A seed-chosen
  share (4-6%) are near-duplicates of another document: a copy with
  the token "dup" appended. A few exact copies of those are added.
- embeddings: 64-dim unit vectors, random labels 0-9.
- events: 30 days from 2024-01-01, 1 user per ~67 events.

Usage: python3 perfbench/gen.py --seed N --scale S --out DIR
Prints one JSON line: per-table row counts and bytes.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Stream_commit change batches: keys live in a fixed partition
# (key % BATCH_PARTS), every batch has distinct keys, and CDC batches
# delete a share of keys that earlier batches wrote.
BATCH_PARTS = 8


def ts(us):
    return pa.array(us, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, table, counts):
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    counts[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lens]
    share = 0.04 + 0.02 * rng.random()
    near = rng.choice(n, int(n * share), replace=False)
    for d in near:
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    for d in rng.choice(near, max(1, len(near) // 30), replace=False):
        texts[int(rng.integers(0, n))] = texts[d]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), share


def embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def change_batches(rng, out, n_batches, keys_per_batch, key_space):
    """Alternating upsert / CDC batches; returns their file names."""
    written, names = set(), []
    for b in range(n_batches):
        keys = rng.choice(key_space, keys_per_batch, replace=False).astype(np.int64)
        ops = np.array(["upsert"] * keys_per_batch, dtype=object)
        if b % 2 == 1 and written:
            old = np.array(sorted(written), dtype=np.int64)
            dels = rng.choice(old, min(len(old), keys_per_batch // 5), replace=False)
            fresh = keys[~np.isin(keys, dels)][:keys_per_batch - len(dels)]
            keys = np.concatenate([fresh, dels])
            ops = np.array(["upsert"] * len(fresh) + ["delete"] * len(dels), dtype=object)
        written.update(int(k) for k, o in zip(keys, ops) if o == "upsert")
        t = pa.table({
            "key": pa.array(keys, pa.int64()),
            "part": pa.array(keys % BATCH_PARTS, pa.int32()),
            "val": pa.array(rng.integers(0, 1_000_000, len(keys)), pa.int64()),
            "op": pa.array(ops.tolist(), pa.string()),
        })
        name = f"batch_{b:03d}.parquet"
        pq.write_table(t, os.path.join(out, name), compression="snappy")
        names.append(name)
    return names


def generate(seed, scale, out, n_batches=2):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base, lo=1: max(lo, int(round(base * scale)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_orders, n_line, n_events = n(1_500_000), n(6_000_000), n(1_000_000)
    n_docs, n_emb = n(50_000, 500), n(20_000, 500)
    counts = {}

    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}), counts)
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), counts)
    write(out, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())}), counts)
    write(out, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}), counts)
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}), counts)
    write(out, "orders", pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), pa.string()),
        "o_totalprice": money(rng, 1000, 500000, n_orders),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), pa.string())}), counts)
    flags = rng.integers(0, len(FLAGS), n_line)
    write(out, "lineitem", pa.table({
        "l_orderkey": np.sort(rng.integers(0, n_orders, n_line, dtype=np.int64)),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pa.array([FLAGS[f][0] for f in flags], pa.string()),
        "l_linestatus": pa.array([FLAGS[f][1] for f in flags], pa.string()),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)}), counts)
    n_users = max(15, n_events * 3 // 200)
    write(out, "events", pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), pa.string()),
        "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string())}), counts)
    docs, share = documents(rng, n_docs)
    write(out, "documents", docs, counts)
    write(out, "embeddings", embeddings(rng, n_emb), counts)

    batches_dir = os.path.join(out, "batches")
    os.makedirs(batches_dir, exist_ok=True)
    per_batch = max(200, n_docs // 5)
    names = change_batches(rng, batches_dir, n_batches, per_batch, per_batch * 4)
    counts["batches"] = {"rows": n_batches * per_batch, "files": len(names),
                         "bytes": sum(os.path.getsize(os.path.join(batches_dir, f)) for f in names)}
    manifest = {"seed": seed, "scale": scale, "near_dup_share": round(share, 6),
                "tables": counts, "batches": names}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.seed, a.scale, a.out), sort_keys=True))


if __name__ == "__main__":
    sys.exit(main())
