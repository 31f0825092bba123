"""The benchmark's workloads: which operations one pass runs.

A fresh JVM pays 11-15 s of set-up and a cold pass about three times
longer than a warm one on 4 cores, so the benchmark's time budget
(4 + 22 runs per workload within 3420 s) holds two workloads, not four. Each
workload is made of named groups; the four groups are the four
workloads the benchmark was specified with, each cut to a fixed subset
that keeps every row the specification names. The detail line of a
run reports each group's own pass totals.

A query operation builds the DataFrame through
`graft.SparkEntry.queries` and writes it in the format `graft.Cli`
writes for that pipeline. stream_commit adds a seeded sequence of
change batches: Versioned.upsert / Versioned.applyCdc alternately,
each batch also through Sinks.upsert, a Versioned.snapshot read after
every second batch, and a final Versioned.vacuum.
"""

# Reference-script output formats (graft.Cli --format), per query id.
FORMATS = {
    "etl_flatten_json": "csv",          # normalize-parks
    "etl_judge_pipeline": "csv",        # judge
    "etl_qa_extract_nonempty": "tsv",   # extract-chat-qa
}

GROUPS = {
    # graft.Cli's delimited reference outputs: csv and tsv
    "etl_reference": """
        etl_flatten_json etl_qa_extract_nonempty""".split(),
    # scan/join/aggregate and vector top-k; ann_lsh_topk is scored
    # against ann_bruteforce_topk for similarity.recall_at_k
    "analytics": """
        q33_market_basket q47_hll_distinct ann_bruteforce_topk
        ann_lsh_topk""".split(),
    "curation_dedup": """
        dedup_ngram_jaccard cur_pii_redact text_ngram_freq
        mm_hamming_neardup""".split(),
    # a micro-batch stream drive; the change batches follow it
    "stream_commit": ["stream_windowed_agg"],
}

WORKLOADS = {
    "etl_analytics": ("etl_reference", "analytics"),
    "curation_stream": ("curation_dedup", "stream_commit"),
}

# Input scale (at 0.1, lineitem has 600,000 rows and documents 5,000).
SCALE = 0.01

NAMES = tuple(WORKLOADS)


def group_of(label):
    """The group an operation label belongs to."""
    for g, qs in GROUPS.items():
        if label in qs:
            return g
    return "stream_commit"  # change-batch operations


def plan(workload, batches):
    """The plan file lines (tab-separated) for one pass of a workload.

    `batches` are the stream_commit change-batch paths, in order."""
    lines = []
    for g in WORKLOADS[workload]:
        lines += [f"query\t{q}\t{FORMATS.get(q, 'parquet')}" for q in GROUPS[g]]
        if g == "stream_commit":
            for i, b in enumerate(batches):
                lines.append(f"{'vcdc' if i % 2 else 'vupsert'}\t{b}")
                lines.append(f"supsert\t{b}")
                if i % 2:
                    lines.append(f"snapshot\t{i // 2}")
            lines.append("vacuum")
    return lines
