"""Tests of the seeded input generator: python3 -m unittest perfbench/test_gen.py"""
import glob
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

ARGS = ["--tweet-batches", "3", "--tweet-rows", "200", "--docs", "300", "--vecs", "50"]


def digests(d):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
        with open(p, "rb") as f:
            out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            cls.dirs[name] = os.path.join(cls.tmp.name, name)
            gen.main(["--out", cls.dirs[name], "--seed", str(seed)] + ARGS)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        a, b = digests(self.dirs["a"]), digests(self.dirs["b"])
        self.assertEqual(len(a), 5)
        self.assertEqual(a, b)

    def test_other_seed_gives_different_files(self):
        a, c = digests(self.dirs["a"]), digests(self.dirs["c"])
        self.assertEqual(a.keys(), c.keys())
        for name in a:
            self.assertNotEqual(a[name], c[name], name)

    def test_schemas_match_the_test_corpus(self):
        d = self.dirs["a"]
        self.assertEqual(
            [(f.name, str(f.type)) for f in pq.read_schema(f"{d}/documents.parquet")],
            [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
             ("source", "string"), ("n_chars", "int64")])
        self.assertEqual(
            [(f.name, str(f.type)) for f in pq.read_schema(f"{d}/embeddings.parquet")],
            [("vec_id", "int64"), ("embedding", "list<element: float>"), ("label", "int32")])
        docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
        self.assertLessEqual(set(docs["lang"]), set(gen.LANGS))
        emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
        self.assertTrue(all(len(v) == gen.EMB_DIM for v in emb["embedding"]))
        self.assertLessEqual(set(emb["label"]), set(range(gen.EMB_CLUSTERS)))

    def test_hashtags_are_zipf_and_duplicates_are_planted(self):
        texts = pq.read_table(f"{self.dirs['a']}/documents.parquet").column("text").to_pylist()
        counts = {}
        for t in texts:
            for tok in t.split(" "):
                if tok.startswith("#"):
                    counts[tok] = counts.get(tok, 0) + 1
        ranked = sorted(counts.values(), reverse=True)
        self.assertEqual(max(counts, key=counts.get), "#" + gen.TAGS[0])
        self.assertGreater(ranked[0], 5 * ranked[len(ranked) // 2])
        self.assertLess(len(set(texts)), len(texts))  # exact duplicates

    def test_tweet_lateness_stays_inside_the_watermark(self):
        prev_max = None
        for p in sorted(glob.glob(os.path.join(self.dirs["a"], "tweets", "*.parquet"))):
            ts = pq.read_table(p).column("timestamp").cast("int64").to_pylist()
            if prev_max is not None:
                self.assertGreater(min(ts), prev_max - 300 * 1_000_000)
            prev_max = max(ts) if prev_max is None else max(prev_max, max(ts))


if __name__ == "__main__":
    unittest.main()
