"""Self-tests of the benchmark: input generators, correctness checks and
the job ledger.

    python3 -m unittest discover -s perfbench/tests -v

The tests that run the harness build it first (perfbench/build.sh) and
take a few minutes: every run starts a Spark session.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def bench(*args):
    """Runs perfbench/run.py; returns (exit code, last stdout line as JSON)."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       stdout=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            a, b, c = (self.gen(w, s, f"{w}-{i}") for i, s in enumerate((7, 7, 8)))
            self.assertTrue(same_tree(a, b), w)
            self.assertFalse(same_tree(a, c), w)

    def test_corpus_duplicate_shares(self):
        out = self.gen("corpus_prep", 3, "c")
        docs = pq.read_table(os.path.join(out, "documents.parquet"))
        texts = docs.column("text").to_pylist()
        with open(os.path.join(out, "expect.tsv")) as f:
            expect = dict(line.split("\t") for line in f.read().splitlines())
        self.assertEqual(len(texts), gen.N_DOCS)
        self.assertEqual(int(expect["distinct_texts"]), len(set(texts)))
        self.assertEqual(len(texts) - len(set(texts)),
                         int(gen.N_DOCS * gen.EXACT_DUP_SHARE))
        self.assertEqual(len(set(docs.column("doc_id").to_pylist())), len(texts))
        self.assertTrue(all(w in gen.VOCAB for t in texts for w in t.split(" ")))

    def test_lake_batches_keep_the_table_contract(self):
        out = self.gen("lake_cdc", 3, "l")
        seed = pq.read_table(os.path.join(out, "seed.parquet"))
        self.assertEqual(seed.num_rows, gen.N_KEYS)
        for name in sorted(os.listdir(os.path.join(out, "ops"))):
            t = pq.read_table(os.path.join(out, "ops", name)).to_pydict()
            keys = t["key"]
            self.assertEqual(len(keys), len(set(keys)), name)  # one row per key
            if "bucket" in t:   # key -> bucket is the table's bucketing
                self.assertEqual(t["bucket"], [k % gen.N_BUCKETS for k in keys])


class HarnessTest(unittest.TestCase):
    """Runs the harness; needs java and the Spark jars."""

    @classmethod
    def setUpClass(cls):
        subprocess.run(["bash", os.path.join(BENCH, "build.sh")], check=True)

    def test_ledger_counts_a_known_action_sequence(self):
        os.makedirs(run.WORK, exist_ok=True)
        work = tempfile.mkdtemp(dir=run.WORK)
        try:
            res = run.launch(work, {"mode": "ledger"}, time.time() + 120,
                                os.path.join(work, "jvm.log"))
        finally:
            shutil.rmtree(work)
        self.assertEqual(res["a"], {"jobs": 1, "stages": 1, "tasks": 4})
        self.assertEqual(res["b"], {"jobs": 2, "stages": 2, "tasks": 8})
        self.assertEqual(res["c"], {"jobs": 1, "stages": 2, "tasks": 6})

    def test_wrong_expected_value_is_caught(self):
        code, res = bench("--workload", "lake_cdc", "--seed", "5", "--seconds", "1",
                          "--perturb-expected")
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        code, res = bench("--workload", "lake_cdc", "--seed", "5", "--seconds", "1")
        self.assertEqual(code, 0)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_corpus_wrong_expected_value_is_caught(self):
        code, res = bench("--workload", "corpus_prep", "--seed", "5",
                          "--seconds", "1", "--perturb-expected")
        self.assertEqual(code, 1)
        self.assertGreater(res["failed"], 0)

    def test_op_job_counts_repeat_across_same_seed_runs(self):
        for w in run.WORKLOADS:
            counts = []
            for _ in range(2):
                code, res = bench("--workload", w, "--seed", "11", "--seconds", "1",
                                  "--trace", "1")
                self.assertEqual(code, 0, w)
                self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0, w)
                with open(os.path.join(run.WORK, "trace",
                                       f"{w}-seed11.layers.json")) as f:
                    counts.append(json.load(f)["op_jobs"])
            self.assertTrue(counts[0], w)
            self.assertEqual(counts[0], counts[1], w)


if __name__ == "__main__":
    unittest.main()
