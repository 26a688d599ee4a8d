"""Tests of the benchmark itself.

Run from the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests -v

The result-check tests are fast. The end-to-end tests build the benchmark
(about a minute the first time) and run the hep-store workload for one
second with tracing off and on.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen_catalog  # noqa: E402
import run  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class CatalogCheckTest(unittest.TestCase):
    """A wrong or missing engine result, or a corrupted expected digest, is
    reported as a failure of every operation of that query."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        self.data = os.path.join(d, "data")
        self.check = os.path.join(d, "check")
        os.makedirs(self.data)
        for t in gen_catalog.TABLES:
            pq.write_table(pa.table({"x": [1, 2, 3]}), os.path.join(self.data, f"{t}.parquet"))
        out = os.path.join(self.check, "q")
        os.makedirs(out)
        pq.write_table(pa.table({"x": [3, 1, 2]}), os.path.join(out, "part-0.parquet"))
        self.record = {"oracle_sql": {"q": "SELECT x FROM region"},
                       "ops": {"q": {"attempted": 4, "failed": 1}}}

    def tearDown(self):
        self.dir.cleanup()

    def test_matching_result_passes(self):
        self.assertEqual(run.check_catalog(self.record, self.data, self.check), {})

    def test_corrupted_expected_digest_fails(self):
        self.record["oracle_sql"]["q"] = "SELECT x + 1 AS x FROM region"
        bad = run.check_catalog(self.record, self.data, self.check)
        self.assertIn("q", bad)
        self.assertEqual(run.failed_total(self.record, 1, bad), 4)

    def test_dropped_result_row_fails(self):
        out = os.path.join(self.check, "q", "part-0.parquet")
        pq.write_table(pa.table({"x": [3, 1]}), out)
        self.assertIn("q", run.check_catalog(self.record, self.data, self.check))

    def test_missing_result_fails(self):
        os.remove(os.path.join(self.check, "q", "part-0.parquet"))
        self.assertIn("q", run.check_catalog(self.record, self.data, self.check))

    def test_digest_ignores_row_order(self):
        con = duckdb.connect()
        a = run.digest(con, "(SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v))")
        b = run.digest(con, "(SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(k, v))")
        self.assertEqual(a, b)


class SpecTest(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        record = {"setup": {"to_first_op_s": 1.0}, "pass_s": [1.0, 2.0],
                  "latency_ms": [1.0, 2.0, 3.0], "peak_rss_mb": 100.0}
        got = run.end_to_end(record, attempted=10, failed=0)
        want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in got.items()}, want)

    def test_workloads_match(self):
        self.assertEqual(sorted(w["name"] for w in spec()["workloads"]), sorted(run.WORKLOADS))


class JvmSelfTest(unittest.TestCase):
    def test_lookup_checks(self):
        cp = run.build()
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("PASS dropped lookup row fails", r.stdout)


class EndToEndTest(unittest.TestCase):
    """One short hep-store run per trace setting: the printed metrics match
    BENCHMARK.json by name and unit, and the traced run's record carries the
    same end-to-end metric names as the untraced run prints."""

    def bench(self, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "hep-store",
             "--seed", "3", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=400)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"], r.stderr[-3000:])
        return out

    def test_metrics_match_spec(self):
        s = spec()
        plain = self.bench(0)
        self.assertEqual({k: v["unit"] for k, v in plain["metrics"].items()},
                         {m["name"]: m["unit"] for m in s["end_to_end"]})
        traced = self.bench(1)
        self.assertEqual({k: v["unit"] for k, v in traced["metrics"].items()},
                         {m["name"]: m["unit"] for m in s["per_layer"]})
        with open(os.path.join(run.BUILD, "records", "hep-store-seed3-trace1.json")) as fh:
            record = json.load(fh)
        self.assertEqual(sorted(record["end_to_end"]), sorted(plain["metrics"]))


if __name__ == "__main__":
    unittest.main()
