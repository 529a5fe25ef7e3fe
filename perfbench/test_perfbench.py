"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for shape in ("corpus", "star"):
                a, b, c = (os.path.join(t, f"{shape}{i}") for i in range(3))
                info = gen.generate(shape, 11, a)
                gen.generate(shape, 11, b)
                gen.generate(shape, 12, c)
                self.assertEqual(digest(a), digest(b), shape)
                self.assertNotEqual(digest(a), digest(c), shape)
                self.assertGreater(min(x["rows"] for x in info["tables"].values()), 0)

    def test_corpus_layout(self):
        with tempfile.TemporaryDirectory() as t:
            info = gen.generate("corpus", 3, os.path.join(t, "c"))["documents"]
            self.assertEqual(info["files"], gen.SHAPES["corpus"]["files"])
            self.assertEqual(info["row_groups"], 2 * gen.SHAPES["corpus"]["files"])
            self.assertGreater(info["distinct_words"], 1000)
            self.assertEqual(info["zipf_s"], 1.0)

    def test_star_has_every_ivf_seed_centroid(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("star", 3, os.path.join(t, "s"))
            ids = pq.read_table(os.path.join(t, "s", "embeddings.parquet"))["vec_id"]
        self.assertEqual(len(gen.ivf_seed_ids(ids.to_numpy())), gen.IVF_CENTROIDS)


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        for n in (11, 12, 20, 37, 100, 1000):
            xs = list(range(n, 0, -1))  # unsorted on purpose
            pct, v = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        # child inside child: only the outer child's interval is covered
        self.assertAlmostEqual(stats.self_time((0, 10), [(2, 8), (3, 4)]), 4)

    def test_back_to_back(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(0, 3), (3, 7)]), 3)

    def test_overlapping_and_clipped(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(-5, 2), (1, 4), (9, 15)]), 5)

    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time((2, 5), []), 3)


class OracleCompareTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        import pandas as pd
        a = pd.DataFrame({"w": ["x", "y", "z"], "n": [1, 2, 3], "f": [0.5, None, 1.5]})
        b = a.iloc[[2, 0, 1]][["f", "n", "w"]]
        self.assertIsNone(oracle.mismatch(a, b))
        c = b.copy()
        c.loc[c["w"] == "x", "f"] = 0.5000001
        self.assertIn("column f", oracle.mismatch(a, c))


class HarnessSelfTest(unittest.TestCase):
    """Checks run inside the client JVM. Needs the program built, as
    run.py builds it."""

    def test_result_hash_and_corpus_scan(self):
        import run
        jars = run.spark_jars()
        classes = run.build(jars)
        cores = os.cpu_count() or 1
        with tempfile.TemporaryDirectory() as t:
            sf = os.path.join(t, "c")
            gen.generate("corpus", 5, sf)
            out = subprocess.run(
                ["java"] + run.JVM_FLAGS +
                ["-Xmx1g", f"-Djava.io.tmpdir={t}", "-cp", f"{classes}:{os.path.join(jars, '*')}",
                 "graft.perfbench.Harness", "--mode", "selftest", "--sf", sf,
                 "--cores", str(cores)],
                capture_output=True, text=True, timeout=170, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        # the result hash ignores row order and partitioning but sees a
        # missing row
        self.assertEqual(r["ordered"], r["shuffled"])
        self.assertNotEqual(r["ordered"], r["one_row_less"])
        # the wordcount corpus is not scanned as one split
        self.assertGreaterEqual(r["scan_splits"], min(2, cores))


if __name__ == "__main__":
    unittest.main()
