"""Tests of the benchmark itself.

Run from the root of a graft checkout:

  python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the engine and run both workloads at a tiny
input scale, traced and untraced (a few minutes on 4 cores); set
PERFBENCH_SKIP_SMOKE=1 to run only the fast tests.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def scratch_dir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b = os.path.join(self.dir, "a"), os.path.join(self.dir, "b")
        gen.generate(7, 0.002, a)
        gen.generate(7, 0.002, b)
        names = files_under(a)
        self.assertEqual(names, files_under(b))
        self.assertIn("documents.parquet", names)
        for n in names:
            self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False), n)

    def test_other_seed_gives_other_inputs(self):
        a, b = os.path.join(self.dir, "a"), os.path.join(self.dir, "b")
        gen.generate(7, 0.002, a)
        gen.generate(8, 0.002, b)
        self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                     os.path.join(b, "documents.parquet"), shallow=False))

    def test_manifest_records_rows_and_bytes(self):
        m = gen.generate(7, 0.002, self.dir)
        self.assertEqual(m["tables"]["lineitem"]["rows"], 12000)
        for t, v in m["tables"].items():
            self.assertGreater(v["bytes"], 0, t)
        self.assertTrue(0.04 <= m["near_dup_share"] <= 0.06)


class CheckerTest(unittest.TestCase):
    """The checker against hand-made outputs: no Spark involved."""

    def setUp(self):
        self.dir = scratch_dir()
        self.data = os.path.join(self.dir, "data")
        self.work = os.path.join(self.dir, "work")
        self.manifest = gen.generate(3, 0.002, self.data)
        os.makedirs(os.path.join(self.work, "out"))
        self.sql = "SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_nationkey = 3"
        with open(os.path.join(self.work, "oracle_sql.json"), "w") as f:
            json.dump({"q_par": self.sql, "q_csv": self.sql}, f)
        self.batches = [os.path.join(self.data, "batches", b) for b in self.manifest["batches"]]
        self.plan = os.path.join(self.work, "plan.txt")
        with open(self.plan, "w") as f:
            f.write("query\tq_par\tparquet\nquery\tq_csv\tcsv\n"
                    f"vupsert\t{self.batches[0]}\nvcdc\t{self.batches[1]}\nsnapshot\t0\n")
        self.con = check.connect(self.data)
        self.write_outputs(self.con.execute(self.sql).df())

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def write_outputs(self, df, snapshot=None):
        out = os.path.join(self.work, "out")
        for d in ("q_par", "q_csv", "snapshot_0"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
            os.makedirs(os.path.join(out, d))
        df.to_parquet(os.path.join(out, "q_par", "part-0.parquet"), index=False)
        df.to_csv(os.path.join(out, "q_csv", "part-0.csv"), index=False)
        snap = snapshot if snapshot is not None else check.lww(self.con, self.batches, True)
        snap.to_parquet(os.path.join(out, "snapshot_0", "part-0.parquet"), index=False)

    def test_accepts_correct_outputs(self):
        checked, bad = check.check(self.data, self.work, self.plan)
        self.assertEqual((checked, bad), (3, []))

    def test_rejects_corrupted_value(self):
        df = self.con.execute(self.sql).df()
        df.loc[0, "c_acctbal"] += 0.01
        self.write_outputs(df)
        _, bad = check.check(self.data, self.work, self.plan)
        self.assertEqual(sorted(n for n, _ in bad), ["q_csv", "q_par"])

    def test_rejects_dropped_row(self):
        self.write_outputs(self.con.execute(self.sql).df().iloc[1:])
        _, bad = check.check(self.data, self.work, self.plan)
        self.assertEqual(len(bad), 2)

    def test_rejects_wrong_snapshot(self):
        snap = check.lww(self.con, self.batches, True)
        self.write_outputs(self.con.execute(self.sql).df(), snapshot=snap.iloc[1:])
        _, bad = check.check(self.data, self.work, self.plan)
        self.assertEqual([n for n, _ in bad], ["snapshot_0"])

    def test_deletes_apply_in_order(self):
        with_del = check.lww(self.con, self.batches, True)
        without = check.lww(self.con, self.batches, False)
        self.assertLess(len(with_del), len(without))


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "PERFBENCH_SKIP_SMOKE is set")
class SmokeTest(unittest.TestCase):
    """A tiny-scale run of each workload prints every metric."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def run_bench(self, workload, trace):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", "5", "--seconds", "1", "--trace", str(trace),
                            "--scale", "0.002"],
                           cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def assert_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)

    def test_every_workload_prints_every_metric(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.assert_metrics(self.run_bench(w["name"], 0), self.spec["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                self.assert_metrics(self.run_bench(w["name"], 1), self.spec["per_layer"])

    def test_refuses_to_run_without_the_engine_sources(self):
        d = scratch_dir()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                self.spec["workloads"][0]["name"], "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
