"""Tests of the benchmark's Python side: the oracle gate, failure
accounting, the fixture generator and the refusal to run without the
engine. Run from the repo root: python3 -m unittest discover graftbench/tests
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GateTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.fx = os.path.join(self.dir, "fx")
        self.out = os.path.join(self.dir, "out")
        os.makedirs(self.fx)
        pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(self.fx, "t.parquet"))
        oracle = {"q_right": "SELECT k, k * 10 AS v FROM t ORDER BY k",
                  "q_wrong": "SELECT k, k * 10 AS v FROM t ORDER BY k"}
        os.makedirs(self.out)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump(oracle, fh)
        for name, vs in [("q_right", [10, 20, 30]), ("q_wrong", [10, 20, 31])]:
            os.makedirs(os.path.join(self.out, name))
            pq.write_table(pa.table({"k": [3, 1, 2], "v": [vs[2], vs[0], vs[1]]}),
                           os.path.join(self.out, name, "part-0.parquet"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_wrong_result_counts_as_failed_op(self):
        verdict = run.gate(self.fx, self.out, ["q_right", "q_wrong", "q_missing"])
        self.assertEqual(verdict, {"q_right": True, "q_wrong": False, "q_missing": False})
        ops = [{"name": n, "ok": True} for n in ["q_right", "q_wrong", "q_right", "q_wrong"]]
        ops.append({"name": "q_right", "ok": False})
        self.assertEqual(len(run.failed_ops(ops, verdict)), 3)


class FixtureTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.write_fixture(11, a, 10)
            gen.write_fixture(11, b, 10)
            gen.write_fixture(12, c, 10)
            da, db, dc = digests(a), digests(b), digests(c)
            self.assertEqual(da, db)
            for t in gen.CORPUS:
                self.assertNotEqual(da[f"{t}.parquet"], dc[f"{t}.parquet"], t)
            self.assertEqual(sorted(da), sorted(f"{t}.parquet" for t in gen.TABLES))

    def test_docs10_scales_corpus_and_links_the_rest(self):
        with tempfile.TemporaryDirectory() as d:
            x10 = os.path.join(d, "x10")
            gen.write_fixture(3, x10, 10)
            for t in gen.TABLES:
                p = os.path.join(x10, f"{t}.parquet")
                self.assertEqual(os.path.islink(p), t not in gen.CORPUS, t)
                if t in gen.CORPUS:
                    base = pq.read_table(os.path.join(gen.SF01, f"{t}.parquet"))
                    big = pq.read_table(p)
                    self.assertEqual(big.num_rows, 10 * base.num_rows, t)
                    # copy 0 is the sf0.1 corpus itself; ids stay unique
                    self.assertTrue(big.slice(0, base.num_rows).equals(
                        base.replace_schema_metadata(None)), t)
                    ids = big.column(0).to_pylist()
                    self.assertEqual(len(set(ids)), len(ids), t)
                else:
                    self.assertEqual(os.path.realpath(p),
                                     os.path.realpath(os.path.join(gen.SF01, f"{t}.parquet")))


class RefusalTest(unittest.TestCase):
    def test_exits_nonzero_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("target", "work",
                                                          "__pycache__"))
            shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "sql_analyst",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
