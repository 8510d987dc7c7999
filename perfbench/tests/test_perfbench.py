"""The benchmark's own checks: summary statistics, registry counting and
the output check. Run with `python3 -m unittest discover -s perfbench/tests`."""
import os
import statistics
import sys
import tempfile
import time
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import registry  # noqa: E402
import stats  # noqa: E402
from oracle import Oracle  # noqa: E402

REPO_ROOT = os.path.dirname(os.path.dirname(HERE))


class StatsTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(stats.median(xs), statistics.median(xs))

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5.
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90))
        # 1000 samples: p99 leaves 10 above it.
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99, 990))
        # 12 samples: nothing above p50 leaves ten; fall back to the median.
        self.assertEqual(stats.tail_percentile(list(range(1, 13))), (50, 6))


class RegistryTest(unittest.TestCase):
    def test_markers_builds_and_bytes_on_a_toy_root(self):
        with tempfile.TemporaryDirectory() as root:
            def artifact(key, gen, payload):
                d = os.path.join(root, key, gen)
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, "part-0.parquet"), "wb") as fh:
                    fh.write(b"x" * payload)
                with open(os.path.join(d, registry.MARKER), "w") as fh:
                    fh.write("fingerprint")

            self.assertEqual(registry.markers(root), {})
            artifact("ivf-1", "g-a", 100)
            artifact("lm-2", "g-b", 50)
            # an uncommitted artifact: data but no marker
            os.makedirs(os.path.join(root, "pq-3", "g-c"))
            with open(os.path.join(root, "pq-3", "g-c", "part-0.parquet"), "wb") as fh:
                fh.write(b"y" * 7)
            first = registry.markers(root)
            self.assertEqual(len(first), 2)
            self.assertEqual(registry.builds({}, first), 2)
            self.assertEqual(registry.tree_bytes(root), 100 + 50 + 7 + 2 * len("fingerprint"))
            # a served pass writes nothing
            self.assertEqual(registry.builds(first, registry.markers(root)), 0)
            # a retrain rewrites one marker; a new key adds another
            time.sleep(0.01)
            artifact("lm-2", "g-b", 50)
            artifact("pq-3", "g-c", 7)
            self.assertEqual(registry.builds(first, registry.markers(root)), 2)


class OracleTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        inputs.write_corpus(cls.tmp.name, seed=3, n_docs=50, n_vecs=20)
        cls.oracle = Oracle(REPO_ROOT, cls.tmp.name)
        cls.sql = "SELECT source, count(*) AS n FROM documents GROUP BY source"
        cls.right = cls.oracle.con.execute(cls.sql).df()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_rows_in_any_order_and_column_order_pass(self):
        shuffled = self.right.sample(frac=1.0, random_state=1)[["n", "source"]]
        self.assertIsNone(self.oracle.mismatch(shuffled, self.sql))

    def test_a_wrong_value_is_a_failure(self):
        wrong = self.right.copy()
        wrong.loc[0, "n"] += 1
        self.assertIn("values differ", self.oracle.mismatch(wrong, self.sql))

    def test_a_missing_row_or_renamed_column_is_a_failure(self):
        self.assertIn("rows", self.oracle.mismatch(self.right.iloc[1:], self.sql))
        renamed = self.right.rename(columns={"n": "cnt"})
        self.assertIn("columns", self.oracle.mismatch(renamed, self.sql))

    def test_a_missing_dump_is_a_failure(self):
        with tempfile.TemporaryDirectory() as empty:
            self.assertEqual(self.oracle.check_dump(empty, self.sql), "no output written")

    def test_a_dumped_wrong_output_is_a_failure(self):
        with tempfile.TemporaryDirectory() as out:
            wrong = self.right.copy()
            wrong["n"] = wrong["n"] * 2
            wrong.to_parquet(os.path.join(out, "part-0.parquet"))
            self.assertIsNotNone(self.oracle.check_dump(out, self.sql))
            self.right.to_parquet(os.path.join(out, "part-0.parquet"))
            self.assertIsNone(self.oracle.check_dump(out, self.sql))


class InputsTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            inputs.write_corpus(a, seed=5, n_docs=40, n_vecs=10)
            inputs.write_corpus(b, seed=5, n_docs=40, n_vecs=10)
            inputs.write_corpus(c, seed=6, n_docs=40, n_vecs=10)
            read = lambda d: open(os.path.join(d, "documents.parquet"), "rb").read()  # noqa: E731
            self.assertEqual(read(a), read(b))
            self.assertNotEqual(read(a), read(c))
            docs = pd.read_parquet(os.path.join(a, "documents.parquet"))
            self.assertTrue((docs["n_chars"] == docs["text"].str.len()).all())


if __name__ == "__main__":
    unittest.main()
