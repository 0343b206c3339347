"""Invariants of the seeded input generators.

Run: python3 -m unittest discover -s perfbench/tests
"""
import collections
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def read_tally(d):
    with open(os.path.join(d, "tally.tsv"), encoding="utf-8") as f:
        return {w: (int(n), int(p)) for w, n, p in (l.rstrip("\n").split("\t") for l in f)}


def getline_tokens(d):
    """Count tokens the way the reference does: getline keeps the newline,
    then strsep splits on [ \\t\\n\\r] and keeps empty tokens."""
    counts = collections.Counter()
    for name in sorted(os.listdir(os.path.join(d, "input"))):
        with open(os.path.join(d, "input", name), encoding="utf-8", newline="") as f:
            for line in f:
                counts.update(re.split("[ \t\n\r]", line))
    return counts


def tmpdir(test):
    t = tempfile.TemporaryDirectory()
    test.addCleanup(t.cleanup)
    return t.name


def file_bytes(d):
    return {n: open(os.path.join(d, "input", n), "rb").read()
            for n in sorted(os.listdir(os.path.join(d, "input")))}


class Djb2Test(unittest.TestCase):
    def test_paper_layout_matches_fixtures(self):
        for pid, words in gen.PAPER_LAYOUT.items():
            for w in words:
                self.assertEqual(gen.djb2_pid(w), pid, w)
        self.assertEqual(sorted(w for ws in gen.PAPER_LAYOUT.values() for w in ws),
                         sorted(gen.PAPER_VOCAB))

    def test_empty_key_hashes_to_partition_one(self):
        self.assertEqual(gen.djb2(""), 5381)
        self.assertEqual(gen.djb2_pid(""), 1)

    def test_high_bytes_are_signed_like_c_chars(self):
        # "é" is 0xC3 0xA9 in UTF-8; C's char sign-extends both bytes
        h = ((5381 * 33 + (0xC3 - 256)) * 33 + (0xA9 - 256)) & gen.MASK64
        self.assertEqual(gen.djb2("é"), h)


class PaperCorpusTest(unittest.TestCase):
    def make(self, seed, k=2):
        d = tmpdir(self)
        n = gen.paper_corpus(d, seed, k)
        return d, n

    def test_every_word_exactly_k_times_5000(self):
        d, n = self.make(7, k=2)
        counts = getline_tokens(d)
        self.assertEqual(n, 21 * 2 * 5000)
        self.assertEqual(set(counts), set(gen.PAPER_VOCAB))
        self.assertTrue(all(c == 10000 for c in counts.values()), counts)
        self.assertEqual(read_tally(d),
                         {w: (10000, gen.djb2_pid(w)) for w in gen.PAPER_VOCAB})

    def test_twenty_single_line_files(self):
        d, _ = self.make(7)
        files = file_bytes(d)
        self.assertEqual(len(files), 20)
        for body in files.values():
            self.assertNotIn(b"\n", body)
            self.assertNotIn(b"  ", body)
            self.assertFalse(body.startswith(b" ") or body.endswith(b" "))

    def test_seed_fixes_the_corpus(self):
        self.assertEqual(file_bytes(self.make(3)[0]), file_bytes(self.make(3)[0]))
        a, b = file_bytes(self.make(3)[0]), file_bytes(self.make(4)[0])
        self.assertNotEqual(a, b)
        self.assertNotEqual(sorted(map(len, a.values())), sorted(map(len, b.values())))


class ZipfCorpusTest(unittest.TestCase):
    def make(self, seed):
        d = tmpdir(self)
        n = gen.zipf_corpus(d, seed, n_tokens=20000, vocab_size=5000, n_files=8)
        return d, n

    def test_tally_is_what_the_reference_tokenizer_counts(self):
        d, n = self.make(11)
        tally = read_tally(d)
        self.assertEqual(dict(getline_tokens(d)), {w: c for w, (c, _) in tally.items()})
        self.assertEqual(sum(c for c, _ in tally.values()), n)
        self.assertTrue(all(p == gen.djb2_pid(w) for w, (_, p) in tally.items()))

    def test_files_are_multi_line_without_trailing_newline(self):
        d, _ = self.make(11)
        for body in file_bytes(d).values():
            self.assertIn(b"\n", body)
            self.assertFalse(body.endswith(b"\n"))

    def test_heavy_head(self):
        d, _ = self.make(11)
        counts = sorted((c for w, (c, _) in read_tally(d).items() if w), reverse=True)
        # Zipf(1.1): the top word alone outweighs the thousandth by far
        self.assertGreater(counts[0], 50 * counts[min(999, len(counts) - 1)])

    def test_seed_fixes_the_corpus(self):
        self.assertEqual(file_bytes(self.make(5)[0]), file_bytes(self.make(5)[0]))
        self.assertNotEqual(file_bytes(self.make(5)[0]), file_bytes(self.make(6)[0]))


class TablesTest(unittest.TestCase):
    def test_schemas_and_sizes(self):
        import pyarrow.parquet as pq
        d = tmpdir(self)
        gen.tables(d, 0.001)
        rows = {t: pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
                for t in ("region", "nation", "customer", "supplier", "part", "orders",
                          "lineitem", "events", "documents", "embeddings")}
        self.assertEqual(rows, {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
                                "part": 200, "orders": 1500, "lineitem": 6000,
                                "events": 1000, "documents": 500, "embeddings": 500})
        schema = pq.read_schema(os.path.join(d, "lineitem.parquet"))
        self.assertEqual(str(schema.field("l_shipdate").type), "timestamp[us]")
        self.assertEqual(str(schema.field("l_linenumber").type), "int32")

    def test_data_is_fixed(self):
        a, b = tmpdir(self), tmpdir(self)
        gen.tables(a, 0.001)
        gen.tables(b, 0.001)
        import pyarrow.parquet as pq
        for t in ("orders", "lineitem", "documents"):
            self.assertTrue(pq.read_table(os.path.join(a, f"{t}.parquet")).equals(
                pq.read_table(os.path.join(b, f"{t}.parquet"))), t)


if __name__ == "__main__":
    unittest.main()
