import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import gen  # noqa: E402


def files(d):
    return sorted(f for f in os.listdir(d) if not f.startswith("."))


class DeterminismTest(unittest.TestCase):
    """The same seed gives identical bytes; another seed, different bytes."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def generate(self, kind, seed, root):
        return gen.ensure(os.path.join(self.tmp.name, root), kind, seed, "small")

    def check(self, kind):
        a = self.generate(kind, 7, "a")
        b = self.generate(kind, 7, "b")
        c = self.generate(kind, 8, "c")
        self.assertEqual(files(a), files(b))
        self.assertEqual(files(a), files(c))
        self.assertTrue(files(a))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, mismatch, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
        self.assertTrue(mismatch, f"{kind}: seeds 7 and 8 gave identical files")

    def test_miint(self):
        self.check("miint")

    def test_corpus(self):
        self.check("corpus")

    def test_tpch(self):
        self.check("tpch")

    def test_cache_reuses_a_finished_dataset(self):
        a = self.generate("corpus", 7, "a")
        stamp = os.path.getmtime(os.path.join(a, "docs.parquet"))
        self.assertEqual(self.generate("corpus", 7, "a"), a)
        self.assertEqual(os.path.getmtime(os.path.join(a, "docs.parquet")), stamp)


class TruthHelpersTest(unittest.TestCase):
    def test_md_tag(self):
        ref = b"ACGTACGTAC"
        # read matches ref[2:8] except one substitution at offset 3
        self.assertEqual(gen.md_tag("6M", b"GTAAGT", ref, 2), "3C2")
        # a 2 bp deletion after 3 matches
        self.assertEqual(gen.md_tag("3M2D3M", b"ACGCGT", ref, 0), "3^TA3")
        # soft clip and insertion consume read bases only
        self.assertEqual(gen.md_tag("2S3M1I2M", b"TTACGGTA", ref, 0), "5")

    def test_identity_and_coverage(self):
        self.assertAlmostEqual(gen.seq_identity("100M", 2), 0.98)
        # gap-compressed: (m - nm + g) / (m + o) with a 2 bp deletion
        self.assertAlmostEqual(gen.seq_identity("50M2D50M", 3), (100 - 3 + 2) / 101)
        self.assertAlmostEqual(gen.query_coverage("10S90M"), 0.9)

    def test_gopher_reasons(self):
        good = " ".join(["the"] + ["word"] * 60)
        self.assertIsNone(gen.gopher_reason(good, "en"))
        self.assertEqual(gen.gopher_reason("the word", "en"), "too_short")
        self.assertEqual(gen.gopher_reason(good, "zh"), "lang")
        self.assertEqual(gen.gopher_reason(" ".join(["the"] + ["1234"] * 60), "en"), "alpha")
        self.assertEqual(gen.gopher_reason(" ".join(["word"] * 60), "en"), "stopwords")


if __name__ == "__main__":
    unittest.main()
