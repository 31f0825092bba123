#!/usr/bin/env python3
"""Build a 10x-replicated documents/embeddings dir for scale probing.

Replicates /root/testdata/sf0.1 documents+embeddings 10x with shifted
ids into tmp/sf1probe (inside the repo; regenerable, not committed).
Run the dedup/ANN/curation families against it with the Bench subset run:

  SPARK_GRAFT_SF_DIR=$PWD/tmp/sf1probe SPARK_GRAFT_CPUS=$(nproc) SPARK_GRAFT_ONLY=dedup_ngram_jaccard,... sbt "runMain graft.Bench"

Round-3 results (50k docs / 20k vectors, local[32]): every dedup, ANN
and curation query completed with no memory failures; scaling was
linear or better (the DF cap prunes harder as document frequencies
grow), except the intentionally-exact dedup_embedding_cosine whose
O(n^2) block-pair scan showed its documented quadratic compute
(1.2s -> 25s) while remaining memory-safe.

Re-run after the late-round rewrites (count-based jaccard verify,
post-sort projection, checkpoint barriers) — warm times at 10x data
vs sf0.1: dedup_ngram_jaccard 3.3s->8.9s (2.7x), dedup_clusters
4.3s->6.8s (1.6x), dedup_minhash_lsh 1.5s->7.0s, dedup_simhash
1.7s->4.9s, cur_tfidf_topterms 1.1s->1.8s, cur_keep_list 1.6s->5.2s,
cur_pii_redact 0.9s->1.9s, cur_pack 0.4s->0.7s; ANN family 1.5-3.1s.
All sublinear-or-linear; the exact cosine baseline stays quadratic
by design (24s).

Round-3 late additions at 10x (warm, vs sf0.1 warm):
cur_mix_sources 0.4->1.3s, cur_dup_ngram_frac 1.2->4.7s,
dedup_incremental 0.4->1.1s — all sublinear in the 10x.

PQ family at 10x (20k vectors, warm vs sf0.1 warm): ann_pq_topk
2.7->6.1s (codebook fit over 10x vectors + the ADC scan; sublinear),
ann_pq_recall 3.8->7.8s (inherits the brute-force gate),
emb_quantize_int8 0.4->1.7s (pure map + output sort, linear).
etl_sse_parse after the sentinel pushdown: 4.5s at 10x (was 6.6s).
All memory-safe.
dedup_semantic 0.8->5.0s: within-cell pair count is quadratic at the
FIXED test k=8 (sum n_c^2 with n_c = n/8); a deployment scales k with
the corpus (k ~ sqrt(n)) which bounds cells — same fixed-geometry
caveat as the IVF constants. dedup_semantic_gate 1.1->12.9s: the gate
recomputes the intentionally-O(n^2) exact cosine pair set to measure
containment — validation cost, not pipeline cost. All memory-safe.
stream_decontaminate 1.4->3.7s warm (2.6x at 10x docs): the
stream-static n-gram join scales sublinearly — the static eval-side
index is built once per microbatch and the stream side is a map +
hash join. Memory-safe.

FULL Bench sweep at 10x (all 86 queries, min-of-2): 311s vs 65s at
sf0.1 — 4.8x wall for 10x data, zero failures, zero memory errors.
Superlinear entries are all explained: dedup_embedding_cosine 58x and
dedup_semantic_gate 36x (the two intentionally-exact O(n^2)
baselines), dedup_semantic 12x (fixed k=8 geometry, see above),
q21_range_join 10x / stream_interval_join 15x (replica-stacked
(user, ts) values multiply the TRUE qualifying-pair count ~100x —
output size, not plan regression), dedup_minhash_lsh 7x (each doc has
10 verbatim replicas, so every LSH band bucket holds all 10 copies
and true candidate pairs grow ~100x; 12s for that pair volume is
healthy). Everything else is <= ~5x, i.e. sublinear per byte.

The probe also replicates the TPC-H-ish facts (lineitem 6M, orders
1.5M, events 1M; keys shifted per replica, dims unreplicated — how a
larger SF behaves). Relational/ETL/streaming 10x warm times:
q1 0.4->1.0s, q3 0.7->1.5s, q5 1.0->1.8s, q9 0.3->0.7s,
q13 0.5->1.1s, q16 asof 0.5->1.2s, q17 salted 0.3->0.4s,
q22 topk 0.3->0.5s, etl_flatten_json 0.6->2.1s, etl_qa_extract
0.7->2.0s, etl_sse_parse 1.0->6.6s (linear in exploded SSE lines),
stream_windowed_agg 0.4->0.5s, stream_topk 0.5->1.1s. One caveat:
q21_range_join reads 5.3s here, but that is probe-data geometry, not
the plan — replicas stack identical (user, ts) values, so qualifying
pairs explode 771 -> 4.5M (DuckDB-verified); 4.5M verified pairs in
5.3s through the bucketed equi-join is healthy throughput.
"""
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tmp", "sf1probe")
os.makedirs(DST, exist_ok=True)

SHIFT = 10_000_000

# fact tables replicate 10x with every KEY column shifted per replica
# (so joins still land and key cardinality scales with the data);
# dimension tables copy through unchanged — exactly how a larger TPC-H
# SF behaves (facts grow, region/nation stay fixed).
FACTS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],  # user_id stays: more events per user
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],  # o_custkey stays: more orders per customer
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

for name, keycols in FACTS.items():
    t = pq.read_table(f"{SRC}/{name}.parquet")
    for k in keycols:
        mx = pc.max(t[k]).as_py()
        assert mx < SHIFT, (
            f"{name}.{k} max {mx} >= SHIFT {SHIFT}: shifted replicas would "
            f"collide — raise SHIFT before probing this SF")
    parts = []
    for i in range(10):
        cols = {
            c: (pc.add(t[c], i * SHIFT) if c in keycols else t[c])
            for c in t.column_names
        }
        parts.append(pa.table(cols))
    big = pa.concat_tables(parts)
    pq.write_table(big, f"{DST}/{name}.parquet")
    print(name, len(big), "rows ->", DST)

for name in DIMS:
    t = pq.read_table(f"{SRC}/{name}.parquet")
    pq.write_table(t, f"{DST}/{name}.parquet")
    print(name, len(t), "rows (dim, unreplicated) ->", DST)
