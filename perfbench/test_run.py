"""Tests of the benchmark's own logic: scoring, the DuckDB oracle check,
the seeded inputs, and refusal outside a full checkout.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def harness_result(oracle_rows, ops=None, checks=None):
    return {"ops": ops or [], "checks": checks or [], "oracle": oracle_rows}


class OracleScoring(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        cls.data = os.path.join(cls.tmp, "sf")
        gen.generate(cls.data, 0.001, 7)
        cls.orders = pq.read_metadata(os.path.join(cls.data, "orders.parquet")).num_rows

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def row(self, rows):
        return {"key": "q_orders", "rows": rows, "dir": self.data,
                "sql": "SELECT o_orderkey FROM orders ORDER BY o_orderkey"}

    def test_matching_count_is_correct(self):
        oracle = run.oracle_checks([self.row(self.orders)])
        ops = [{"kind": "key", "name": "q_orders", "err": None, "misses": 0}]
        correct, attempted, failed, _ = run.score(harness_result([], ops), oracle)
        self.assertTrue(correct)
        self.assertEqual((attempted, failed), (2, 0))

    def test_planted_wrong_count_raises_error_rate(self):
        oracle = run.oracle_checks([self.row(self.orders + 1)])
        ops = [{"kind": "key", "name": "q_orders", "err": None, "misses": 0}]
        correct, attempted, failed, fails = run.score(harness_result([], ops), oracle)
        self.assertFalse(correct)
        self.assertGreater(failed / attempted, 0)
        self.assertIn("q_orders", fails[0])

    def test_cached_count_is_reused_and_still_checked(self):
        cache = os.path.join(self.tmp, "counts.json")
        run.oracle_checks([self.row(self.orders)], cache)
        (_, ok, _), = run.oracle_checks([self.row(self.orders - 1)], cache)
        self.assertFalse(ok)
        with open(cache) as f:
            self.assertEqual(len(json.load(f)), 1)

    def test_broken_oracle_sql_fails(self):
        bad = dict(self.row(1), sql="SELECT * FROM no_such_table")
        (_, ok, detail), = run.oracle_checks([bad])
        self.assertFalse(ok)
        self.assertIn("duckdb error", detail)

    def test_failed_checks_errors_and_serving_misses_count(self):
        ops = [{"kind": "key", "name": "a", "err": "boom", "misses": 0},
               {"kind": "serve", "name": "b", "err": None, "misses": 1},
               {"kind": "build", "name": "c", "err": None, "misses": 3}]
        checks = [{"name": "door", "ok": False, "detail": "dup"}]
        correct, attempted, failed, _ = run.score(harness_result([], ops, checks), [])
        self.assertFalse(correct)
        # a cold build's misses are expected; a serving miss is a failure
        self.assertEqual((attempted, failed), (4, 3))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate(f"{t}/a", 0.001, 3)
            gen.generate(f"{t}/b", 0.001, 3)
            gen.write_grow_batch(f"{t}/a", f"{t}/ga", 5)
            gen.write_grow_batch(f"{t}/a", f"{t}/gb", 5)
            for name in gen.TABLES:
                self.assertTrue(pq.read_table(f"{t}/a/{name}.parquet").equals(
                    pq.read_table(f"{t}/b/{name}.parquet")), name)
            for name in ["documents", "events"]:
                self.assertTrue(pq.read_table(f"{t}/ga/{name}.parquet").equals(
                    pq.read_table(f"{t}/gb/{name}.parquet")), name)
            with open(f"{t}/ga/eval.txt") as a, open(f"{t}/gb/eval.txt") as b:
                self.assertEqual(a.read(), b.read())

    def test_grow_batch_continues_the_corpus(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate(f"{t}/a", 0.001, 3)
            gen.write_grow_batch(f"{t}/a", f"{t}/g", 5)
            base = pq.read_table(f"{t}/a/events.parquet")
            batch = pq.read_table(f"{t}/g/events.parquet")
            self.assertGreater(min(batch["event_id"].to_pylist()), max(base["event_id"].to_pylist()))
            self.assertGreater(min(batch["ts"].to_pylist()), max(base["ts"].to_pylist()))
            docs = pq.read_table(f"{t}/g/documents.parquet").to_pylist()
            self.assertTrue(all(d["n_chars"] == len(d["text"]) for d in docs))

    def test_every_table_scales_x10_per_sf_step(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate(f"{t}/a", 0.001, 3)
            gen.generate(f"{t}/b", 0.002, 3)
            for name in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
                a = pq.read_metadata(f"{t}/a/{name}.parquet").num_rows
                b = pq.read_metadata(f"{t}/b/{name}.parquet").num_rows
                self.assertEqual(b, 2 * a, name)
            self.assertEqual(pq.read_metadata(f"{t}/a/documents.parquet").num_rows, 500)
            self.assertEqual(pq.read_metadata(f"{t}/a/embeddings.parquet").num_rows, 500)


class Refusal(unittest.TestCase):
    def test_exits_nonzero_without_engine_sources(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with tempfile.TemporaryDirectory() as t:
            shutil.copytree(here, f"{t}/perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(os.path.dirname(here), "BENCHMARK.json"), t)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "suite",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
