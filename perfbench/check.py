#!/usr/bin/env python3
"""Output checker for the graft benchmark. Takes no part in timing.

Each query's written output is compared with its
`SparkEntry.oracleSql` statement run in DuckDB over the same generated
inputs, with the normalisation of the engine's correctness gate:
columns sorted by name, rows sorted by every column, exact values.
Oracle results are cached per (seed, scale) next to the inputs.

Rows without a self-contained oracle (none, or one that reads a
candidate dump the engine's Verify main writes) are checked for a
non-empty output whose gate flags (`*_ok` columns) are all 1.

The stream_commit tables are checked against a last-writer-wins
recompute of the change batches in DuckDB: the Versioned table (and
every snapshot read) applies upserts and deletes, the Sinks table
applies upserts only.

Usage: python3 perfbench/check.py <data dir> <work dir> <plan file>
Prints one line per mismatch and exits 1 if there is any.
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt == "object" or dt.startswith("string"):
            df[c] = df[c].astype(str)
        elif dt.startswith("float") or dt.startswith("Float"):
            df[c] = df[c].astype("float64")
        elif dt.lower().startswith(("int", "uint")) or dt == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def read_output(path, fmt):
    if fmt == "parquet":
        return pd.read_parquet(path)
    sep = "\t" if fmt == "tsv" else ","
    parts = sorted(f for f in os.listdir(path) if f.endswith(".csv"))
    # Spark's CSV writer escapes quotes with a backslash
    frames = [pd.read_csv(os.path.join(path, f), sep=sep, dtype=str, escapechar="\\",
                          keep_default_na=False) for f in parts]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def as_delimited_text(df):
    """Render an oracle result the way Spark's CSV writer renders it."""
    out = df.copy()
    for c in out.columns:
        dt = str(out[c].dtype)
        if dt.startswith("float"):
            out[c] = out[c].map(lambda v: "" if pd.isna(v) else repr(float(v)))
        else:
            out[c] = out[c].map(lambda v: "" if v is None or (not isinstance(v, str) and pd.isna(v)) else str(v))
    return out


def compare(got, want):
    """None if equal, else a one-line reason."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype == "float64" or b.dtype == "float64":
            af, bf = a.astype(float), b.astype(float)
            if not ((af == bf) | (af.isna() & bf.isna())).all():
                return f"column {c} values differ"
        elif not (a.astype(str) == b.astype(str)).all():
            return f"column {c} values differ"
    return None


def gate_check(df):
    if len(df) == 0:
        return "empty output"
    for c in df.columns:
        if c.endswith("_ok") and not (df[c].astype(str).isin(["1", "True", "true"])).all():
            return f"gate flag {c} is not 1"
    return None


def oracle_result(con, sql, cache_dir):
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return df


def lww(con, batches, deletes):
    """Last-writer-wins table of the batches, in order."""
    files = ", ".join(f"'{b}'" for b in batches)
    where = "" if deletes else "WHERE op <> 'delete'"
    return con.execute(f"""
        WITH c AS (SELECT key, part, val, op,
                     row_number() OVER () AS rn
                   FROM read_parquet([{files}], filename = true)),
        o AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY rn DESC) AS k
              FROM (SELECT key, part, val, op,
                      rn FROM c {where}))
        SELECT key, CAST(part AS BIGINT) AS part, val FROM o
        WHERE k = 1 AND op = 'upsert'""").df()


def read_plan(plan_file):
    ops = []
    with open(plan_file) as f:
        for line in f:
            line = line.rstrip("\n")
            if line and not line.startswith("#"):
                fields = line.split("\t")
                ops.append((fields[0], fields[1] if len(fields) > 1 else "",
                            fields[2] if len(fields) > 2 else "parquet"))
    return ops


def check(data_dir, work_dir, plan_file):
    """Returns (number of outputs checked, [(output, reason)])."""
    con = connect(data_dir)
    cache = os.path.join(data_dir, "oracle_cache")
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = os.path.join(work_dir, "out")
    checked, bad = 0, []
    applied = []
    for kind, arg, fmt in read_plan(plan_file):
        if kind in ("vupsert", "vcdc"):
            applied.append(arg)
            continue
        if kind == "snapshot":
            checked += 1
            want = lww(con, applied, deletes=True)
            got = pd.read_parquet(os.path.join(out, f"snapshot_{arg}"))[["key", "part", "val"]]
            reason = compare(got, want)
            if reason:
                bad.append((f"snapshot_{arg}", reason))
            continue
        if kind != "query":
            continue
        checked += 1
        path = os.path.join(out, arg)
        if not os.path.isdir(path):
            bad.append((arg, "output missing"))
            continue
        try:
            got = read_output(path, fmt)
            sql = oracle.get(arg)
            if sql is None or "{{OUT}}" in sql:
                reason = gate_check(got)
            else:
                want = oracle_result(con, sql, cache)
                if fmt != "parquet":
                    want = as_delimited_text(want)
                reason = compare(got, want)
        except Exception as e:  # an unreadable output is a wrong output
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad.append((arg, reason))
    if any(k == "vacuum" for k, _, _ in read_plan(plan_file)):
        with open(os.path.join(work_dir, "result.json")) as f:
            res = json.load(f)
        final = [("final_snapshot", os.path.join(out, "final_snapshot"), True),
                 ("sink_table", res.get("sink_path"), False)]
        for name, path, deletes in final:
            checked += 1
            if not path or not os.path.isdir(path):
                bad.append((name, "table missing"))
                continue
            got = con.execute(
                f"SELECT key, CAST(part AS BIGINT) AS part, val FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = true)").df()
            reason = compare(got, lww(con, applied if deletes else sink_batches(plan_file), deletes))
            if reason:
                bad.append((name, reason))
    return checked, bad


def sink_batches(plan_file):
    return [arg for kind, arg, _ in read_plan(plan_file) if kind == "supsert"]


def recall_at_k(work_dir, plan_file):
    """Mean recall of every ann_*_topk output against ann_bruteforce_topk."""
    out = os.path.join(work_dir, "out")
    names = [a for k, a, _ in read_plan(plan_file) if k == "query"]
    if "ann_bruteforce_topk" not in names:
        return None
    exact = pd.read_parquet(os.path.join(out, "ann_bruteforce_topk"))
    truth = exact.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recalls = []
    for n in names:
        if n.startswith("ann_") and n.endswith("_topk") and n != "ann_bruteforce_topk":
            got = pd.read_parquet(os.path.join(out, n))
            if not {"query_id", "neighbor_id"} <= set(got.columns):
                continue
            found = got.groupby("query_id")["neighbor_id"].apply(set).to_dict()
            recalls += [len(found.get(q, set()) & t) / len(t) for q, t in truth.items() if t]
    return sum(recalls) / len(recalls) if recalls else None


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    checked, bad = check(*argv)
    for name, reason in bad:
        print(f"MISMATCH {name}: {reason}")
    print(f"{checked - len(bad)} ok, {len(bad)} mismatched")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
