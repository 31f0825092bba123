#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload run, checked, as JSON.

Run from the root of a graft checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source on first use (sbt,
into .bench_build/), generates the seeded inputs (.bench_data/), runs
the workload in a fresh JVM on local[nproc] (.bench_work/), checks every
output against the DuckDB oracle, and prints as its last line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end set, measured untraced; with
--trace 1 they are its per_layer set, from listener-traced passes.
The line before it is the full detail: every metric of the run, the
sample counts, the chosen tail percentile, the input sizes, the
mismatches, load average and nproc. perfbench/README.md defines every
metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0
HEAP = "1g"
# highest tail percentile reported: the tail is the highest of these
# with at least 10 warm samples beyond it
TAIL_LADDER = (99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; returns
    the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    want = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                            "export perfbench/Runtime/fullClasspath"], cwd=BENCH, env=env,
                           stdout=subprocess.PIPE, stderr=log, text=True, timeout=850)
    cp = [l.strip() for l in r.stdout.splitlines() if "sbt-target" in l and ".jar" in l]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-3000:])
        die("build failed; see .bench_build/build.log", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return cp[-1]


def inputs(seed, scale):
    d = os.path.join(ROOT, ".bench_data", f"s{seed}_x{scale}")
    man = os.path.join(d, "manifest.json")
    if not os.path.exists(man):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, scale, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(man) as f:
        return d, json.load(f)


def jvm(cp, work, args, timeout):
    """Run the harness; returns its result JSON."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=error", "-cp", cp, "graftbench.Harness"] +
           args + ["--t0", str(int(time.time() * 1000)), "--result", result])
    with open(os.path.join(work, "jvm.log"), "a") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=ROOT)
        try:
            rc = p.wait(timeout=max(5.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("harness timed out; see .bench_work/*/jvm.log", 1)
    if rc != 0 or not os.path.exists(result):
        die(f"harness exited {rc}; see {os.path.relpath(work, ROOT)}/jvm.log", 1)
    with open(result) as f:
        return json.load(f)


def pct(values, p):
    """Linear-interpolated percentile of a non-empty list."""
    v = sorted(values)
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail(values):
    for p in TAIL_LADDER:
        if len(values) * (1 - p / 100.0) >= 10:
            return p, pct(values, p)
    return 50.0, pct(values, 50.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_passes(res):
    """Pass numbers of the untraced warm passes: every pass after the cold
    one, but in a traced run only the untraced ones after its settling pass."""
    traced = any(p["traced"] for p in res["passes"])
    return {p["pass"] for p in res["passes"]
            if not p["traced"] and p["pass"] > (1 if traced else 0)}


def end_to_end(res):
    """The contract's end-to-end metrics, plus the warm figures of the
    detail line (None when the run had no untraced warm pass)."""
    warm = warm_passes(res)
    passes = [p["s"] for p in res["passes"] if p["pass"] in warm]
    # per-query figures: query operations only (change-batch operations
    # have their own commit / snapshot figures)
    ops = [o["build_s"] + o["write_s"] for o in res["ops"]
           if o["pass"] in warm and ":" not in o["op"]]
    tail_p, tail_v = tail(ops) if ops else (None, None)
    m = {
        "setup_s": res["setup_s"],
        "cold_s": next(p["s"] for p in res["passes"] if p["pass"] == 0),
        "peak_rss_mb": res["peak_rss_mb"],
        "warm_s": median(passes) if passes else None,
        "query_p50_s": pct(ops, 50.0) if ops else None,
        "query_tail_s": tail_v,
        "query_tail_pct": tail_p,
    }
    samples = {"setup_s": 1, "cold_s": 1, "warm_s": len(passes), "query_p50_s": len(ops)}
    return m, samples


def group_totals(res):
    """Per group of the workload: cold-pass total and median warm-pass total."""
    warm = warm_passes(res)
    sums = {}
    for o in res["ops"]:
        g = sums.setdefault(workloads.group_of(o["op"]), {})
        g[o["pass"]] = g.get(o["pass"], 0.0) + o["build_s"] + o["write_s"]
    return {g: {"cold_s": by.get(0, 0.0),
                "warm_s": median([v for p, v in by.items() if p in warm]) if warm else None}
            for g, by in sums.items()}


def stream_metrics(res):
    """commit / snapshot latency and space amplification (stream_commit),
    over the warm passes, or the cold pass when there is none."""
    warm = warm_passes(res) or {0}
    ops = [o for o in res["ops"] if o["pass"] in warm]
    commits = [1000 * o["write_s"] for o in ops if o["op"].split(":")[0] in ("vupsert", "vcdc", "supsert")]
    snaps = [1000 * (o["build_s"] + o["write_s"]) for o in ops if o["op"].startswith("snapshot:")]
    if not commits:
        return {}
    tp, tv = tail(commits)
    return {"commit_p50_ms": pct(commits, 50.0), "commit_tail_ms": tv,
            "commit_tail_pct": tp, "commit_samples": len(commits),
            "snapshot_p50_ms": pct(snaps, 50.0) if snaps else None,
            "snapshot_samples": len(snaps),
            "space_amp": res["table_bytes"] / res["snapshot_bytes"] if res.get("snapshot_bytes") else None}


STREAM_PHASES = {"latestOffset": "latest_offset_ms", "addBatch": "add_batch_ms",
                 "queryPlanning": "query_planning_ms", "walCommit": "wal_commit_ms",
                 "commitOffsets": "commit_offsets_ms"}


def per_layer(res, work, plan_file, manifest):
    traced = res["traced_passes"]
    keys = sorted({k for c in traced for k in c})
    med = {k: median([c.get(k, 0.0) for c in traced]) for k in keys}
    cores = res["cores"]
    m = {
        "jvm.jit_ms": res["jvm"]["jit_ms"], "jvm.gc_ms": res["jvm"]["gc_ms"],
        "jvm.gc_count": res["jvm"]["gc_count"], "jvm.heap_peak_mb": res["jvm"]["heap_peak_mb"],
        "spark.codegen.compile_ms": res["codegen"]["compile_ms"],
        "spark.codegen.classes": res["codegen"]["classes"],
    }
    for k in ("spark.plan.analysis_ms", "spark.plan.optimization_ms", "spark.plan.planning_ms",
              "spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks",
              "spark.sched.task_failures", "spark.sched.executor_run_ms",
              "spark.sched.executor_cpu_ms", "spark.sched.scheduler_delay_ms",
              "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.shuffle.records",
              "spark.shuffle.fetch_wait_ms", "spark.shuffle.spill_mem_bytes",
              "spark.shuffle.spill_disk_bytes", "spark.exec.peak_mem_mb",
              "sources.input_bytes", "sources.input_rows"):
        m[k] = med.get(k, 0.0)
    m["spark.sched.busy_frac"] = median(
        [c.get("spark.sched.executor_run_ms", 0.0) / (1000.0 * c["pass_s"] * cores) for c in traced])
    m["sources.output_bytes"] = float(sum(o["bytes"] for o in res["outputs"].values()))
    m["sources.output_files"] = float(sum(o["files"] for o in res["outputs"].values()))

    traced_ops = [o for o in res["ops"] if o["traced"]]
    n_traced = max(1, len(traced))
    totals = dict.fromkeys(("build_ms", "exec_ms", "build_jobs", "rows_out"), 0.0)
    for mod in sorted({o["module"] for o in traced_ops} - {"Versioned", "Sinks"}):
        mine = [o for o in traced_ops if o["module"] == mod]
        per_mod = {"build_ms": 1000 * sum(o["build_s"] for o in mine) / n_traced,
                   "exec_ms": 1000 * sum(o["write_s"] for o in mine) / n_traced,
                   "build_jobs": med.get(f"operators.{mod}.build.spark.sched.jobs", 0.0),
                   "rows_out": med.get(f"operators.{mod}.write.rows_written", 0.0)}
        for k, v in per_mod.items():
            m[f"operators.{mod}.{k}"] = v
            totals[k] += v
    for k, v in totals.items():
        m[f"operators.{k}"] = v

    calls = {"vupsert": "sources.Versioned.upsert_ms", "vcdc": "sources.Versioned.applyCdc_ms",
             "supsert": "sources.Sinks.upsert_ms", "vacuum": "sources.Versioned.vacuum_ms"}
    for kind, name in calls.items():
        xs = [1000 * o["write_s"] for o in traced_ops if o["op"].split(":")[0] == kind]
        if xs:
            m[name] = median(xs)
    snaps = [1000 * o["build_s"] for o in traced_ops if o["op"].startswith("snapshot:")]
    if snaps:
        m["sources.Versioned.snapshot_ms"] = median(snaps)
        commit_bytes = sum(med.get(f"operators.{mod}.{ph}.bytes_written", 0.0)
                           for mod in ("Versioned", "Sinks") for ph in ("upsert", "applyCdc"))
        batch_bytes = 2 * manifest["tables"]["batches"]["bytes"]
        m["sources.write_amp"] = commit_bytes / batch_bytes if batch_bytes else 0.0

    if med.get("streaming.triggers"):
        m["streaming.triggers"] = med["streaming.triggers"]
        trig = res["trigger_ms"]
        if trig:
            tp, tv = tail(trig)
            m["streaming.trigger_p50_ms"] = pct(trig, 50.0)
            m["streaming.trigger_tail_ms"] = tv
        for src, dst in STREAM_PHASES.items():
            m[f"streaming.{dst}"] = med.get(f"streaming.phase.{src}", 0.0)
        for k in ("state_rows", "state_commit_ms", "state_mem_bytes", "input_rows"):
            m[f"streaming.{k}"] = med.get(f"streaming.{k}", 0.0)

    recall = check.recall_at_k(work, plan_file)
    if recall is not None:
        m["similarity.recall_at_k"] = recall
    warm = warm_passes(res)
    untraced = [p["s"] for p in res["passes"] if p["pass"] in warm]
    tracedp = [p["s"] for p in res["passes"] if p["traced"]]
    m["trace.overhead_s"] = median(tracedp) - median(untraced)
    return m


def span_summary(work):
    """Self time per span name: duration minus the time its children cover."""
    with open(os.path.join(work, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    agg = {}
    for s in spans:
        name = s["name"].split(" ")[0]
        d = s["end_ns"] - s["start_ns"]
        a = agg.setdefault(name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        a["count"] += 1
        a["total_ms"] += d / 1e6
        a["self_ms"] += (d - child.get(s["id"], 0)) / 1e6
    return agg


def cpu_times():
    """Cumulative jiffies of /proc/stat's cpu line: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before, after):
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"user": d[0] / total, "system": d[2] / total, "idle": d[3] / total,
            "iowait": d[4] / total, "steal": d[7] / total}


def load_bench_spec():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        die("BENCHMARK.json missing or unreadable at the checkout root")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's input scale (tests only)")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("run from the root of a graft checkout: src/main/scala/graft is missing")
    spec = load_bench_spec()

    cp = build()
    start = time.monotonic()  # the build is once per checkout, not per run
    scale = a.scale if a.scale is not None else workloads.SCALE
    data, manifest = inputs(a.seed, scale)
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    batches = [os.path.join(data, "batches", b) for b in manifest["batches"]]
    plan_file = os.path.join(work, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(workloads.plan(a.workload, batches)) + "\n")
    load_before, cpu_before = os.getloadavg()[0], cpu_times()
    nproc = len(os.sched_getaffinity(0))
    common = ["--data", data, "--work", work, "--cpus", str(nproc)]
    res = jvm(cp, work, ["--plan", plan_file, "--seconds", str(a.seconds),
                         "--trace", str(a.trace)] + common,
              DEADLINE_S - (time.monotonic() - start))

    cpu = cpu_shares(cpu_before, cpu_times())
    checked, bad = check.check(data, work, plan_file)
    failures = [(f["op"], f["error"]) for f in res["failures"]]
    attempted = len(res["ops"]) + len(res["failures"])
    failed = len(failures) + len(bad)

    e2e, samples = end_to_end(res)
    detail = {"workload": a.workload, "seed": a.seed, "scale": scale, "trace": a.trace,
              "nproc": nproc, "loadavg_start": load_before,
              "loadavg_end": os.getloadavg()[0], "cpu_during_run": cpu, "jvm": res["jvm"],
              "end_to_end": e2e, "samples": samples,
              "failed_frac": failed / attempted if attempted else 1.0,
              "checked_outputs": checked, "mismatches": bad, "failures": failures,
              "inputs": manifest["tables"], "near_dup_share": manifest["near_dup_share"]}
    detail["groups"] = group_totals(res)
    detail.update(stream_metrics(res))
    if a.trace:
        layers = per_layer(res, work, plan_file, manifest)
        layers["warm_s"], layers["query_p50_s"] = e2e["warm_s"], e2e["query_p50_s"]
        detail["per_layer"] = layers
        detail["spans"] = span_summary(work)
        with open(os.path.join(work, "trace.jsonl"), "w") as f:
            for k, v in sorted(layers.items()):
                f.write(json.dumps({"metric": k, "value": v}) + "\n")
        chosen, source = spec["per_layer"], layers
    else:
        chosen, source = spec["end_to_end"], e2e
    with open(os.path.join(work, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True))
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
