"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The last class runs the harness's planted-failure workload in a JVM; it
builds the program first if needed (about a minute on first use).
"""
import filecmp
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_min_samples(self):
        self.assertEqual(benchlib.min_samples(0.5), 20)
        self.assertEqual(benchlib.min_samples(0.95), 200)
        self.assertEqual(benchlib.min_samples(0.99), 1000)

    def test_reported_only_with_ten_beyond(self):
        self.assertIsNone(benchlib.percentile(list(range(19)), 0.5))
        r = benchlib.percentile(list(range(20)), 0.5)
        self.assertEqual((r["n"], r["beyond"]), (20, 10))
        self.assertIsNone(benchlib.percentile(list(range(199)), 0.95))
        self.assertIsNotNone(benchlib.percentile(list(range(200)), 0.95))
        self.assertIsNone(benchlib.percentile([], 0.5))

    def test_interpolates_and_ignores_order(self):
        xs = [float(i) for i in range(101)]
        self.assertAlmostEqual(benchlib.percentile(xs, 0.5)["value"], 50.0)
        self.assertAlmostEqual(benchlib.percentile(xs[::-1], 0.75)["value"], 75.0)
        self.assertAlmostEqual(benchlib.percentile([1.0] * 10 + [2.0] * 10, 0.5)["value"], 1.5)


class Generator(unittest.TestCase):
    SRC = HERE / "data" / "sf0.01" / "lineitem.parquet"

    def gen(self, d, name, seed):
        return benchlib.generate_scan_inputs(self.SRC, Path(d) / name, seed, 12, 3000)

    def test_same_seed_same_files_other_seed_other_files(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = self.gen(d, "a", 7), self.gen(d, "b", 7), self.gen(d, "c", 8)
            self.assertEqual(a, b)
            cmp = filecmp.dircmp(Path(d) / "a", Path(d) / "b")
            self.assertEqual(cmp.diff_files, [])
            self.assertEqual(len(cmp.same_files), 12)
            self.assertNotEqual(filecmp.dircmp(Path(d) / "a", Path(d) / "c").diff_files, [])
            self.assertNotEqual(a["matches"], c["matches"])

    def test_manifest_counts_matches_exactly(self):
        with tempfile.TemporaryDirectory() as d:
            m = self.gen(d, "a", 3)
            files = sorted((Path(d) / "a").iterdir())
            tables = [pq.read_table(f) for f in files]
            self.assertEqual(len(files), m["files"])
            self.assertEqual(sum(t.num_rows for t in tables), m["rows"])
            self.assertEqual(sum(pc.sum(pc.greater(t["ke"], 0.5)).as_py() for t in tables),
                             m["matches"])
            sizes = [t.num_rows for t in tables]
            self.assertGreater(max(sizes), 5 * min(sizes))  # skewed

    def test_sizes_fixed_by_total_in_a_shuffled_order(self):
        a = benchlib.scan_sizes(50, 10_000)
        self.assertEqual(a.sum(), 10_000)
        self.assertEqual(list(a), list(benchlib.scan_sizes(50, 10_000)))
        self.assertNotEqual(list(a), sorted(a))
        self.assertNotEqual(list(a), sorted(a, reverse=True))

    def test_other_seed_same_sizes_per_file(self):
        with tempfile.TemporaryDirectory() as d:
            self.gen(d, "a", 7), self.gen(d, "c", 8)
            rows = [[pq.read_metadata(f).num_rows for f in sorted((Path(d) / x).iterdir())]
                    for x in ("a", "c")]
            self.assertEqual(rows[0], rows[1])


class FailureCounting(unittest.TestCase):
    EXPECTED = {"q_a": {"rows": 3, "digest": "00ff"}, "q_b": {"rows": 5, "digest": "0abc"}}

    def test_throw_and_wrong_digest_both_count(self):
        ops = [{"name": "q_a", "rows": 3, "digest": "00ff", "error": None},
               {"name": "q_b", "rows": -1, "digest": "", "error": "java.lang.IllegalStateException: x"},
               {"name": "q_b", "rows": 5, "digest": "0abd", "error": None},
               {"name": "q_a", "rows": 4, "digest": "00ff", "error": None},
               {"name": "q_c", "rows": 1, "digest": "0001", "error": None}]
        attempted, failed, reasons = benchlib.check_ops(ops, self.EXPECTED)
        self.assertEqual((attempted, failed), (5, 4))
        self.assertEqual(len(reasons), 4)

    def test_scan_pass(self):
        m = {"matches": 100}
        ok = {"index": 1, "files": 10, "failed_files": 0, "rows_out": 100}
        self.assertEqual(benchlib.check_scan_pass(ok, m)[:2], (10, 0))
        self.assertEqual(benchlib.check_scan_pass(dict(ok, failed_files=2, rows_out=90), m)[:2], (10, 2))
        self.assertEqual(benchlib.check_scan_pass(dict(ok, rows_out=99), m)[:2], (10, 10))


class SelfTimes(unittest.TestCase):
    def test_children_and_overlap(self):
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "start_ns": 0, "end_ns": 100},
            {"id": 1, "parent": 0, "name": "scan_run", "start_ns": 10, "end_ns": 90},
            # concurrent children overlap: the parent loses their union
            {"id": 2, "parent": 1, "name": "file_job", "start_ns": 20, "end_ns": 50},
            {"id": 3, "parent": 1, "name": "file_job", "start_ns": 40, "end_ns": 60},
        ]
        s = {k: v * 1e9 for k, v in benchlib.self_times(spans).items()}
        self.assertAlmostEqual(s["pass"], 20)
        self.assertAlmostEqual(s["scan_run"], 40)
        self.assertAlmostEqual(s["file_job"], 50)


class PlantedFailuresInTheHarness(unittest.TestCase):
    """The real op runner: one op throws, one is checked against a wrong
    pinned digest, and the digest of one result is computed under two
    row orders and partitionings."""

    @classmethod
    def setUpClass(cls):
        import build
        import run
        cls.bench = run
        classpath = build.build()
        with tempfile.TemporaryDirectory() as d:
            cls.res = run.run_jvm(classpath, Path(d), {
                "workload": "selftest", "seconds": 0, "trace": 0,
                "cores": 2, "data": run.DATA, "min_samples": 0}, run.JVM_TIMEOUT_S)

    def test_failures_are_counted(self):
        ops = self.res["passes"][0]["ops"]
        expected = benchlib.load_json(self.bench.EXPECTED)
        good = ops[0]
        expected = {good["name"]: expected[good["name"]],
                    "planted_wrong": {"rows": ops[2]["rows"], "digest": "0" * 16}}
        attempted, failed, reasons = benchlib.check_ops(ops, expected)
        self.assertEqual((attempted, failed), (3, 2), reasons)
        self.assertIn("IllegalStateException: planted", reasons[0])
        self.assertTrue(reasons[1].startswith("planted_wrong"))

    def test_digest_ignores_row_order_and_partitioning(self):
        d = self.res["selftest"]
        self.assertEqual(d["rows_a"], d["rows_b"])
        self.assertEqual(d["a"], d["b"])
        self.assertNotEqual(d["a"], d["c"])


if __name__ == "__main__":
    unittest.main()
