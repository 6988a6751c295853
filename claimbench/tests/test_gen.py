"""Generator determinism: the same seed gives byte-identical inputs.

    python3 -m unittest discover -s claimbench/tests
"""

import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def files(d):
    return sorted(os.listdir(d))


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="claimbench-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def make(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        sizes = gen.generate(workload, seed, d)
        return d, sizes

    def assert_identical(self, a, b):
        self.assertEqual(files(a), files(b))
        for f in files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                        os.path.join(b, f), shallow=False),
                            "%s differs between two runs of one seed" % f)

    def test_same_seed_same_bytes(self):
        for w in ("ingest", "dashboard", "curation"):
            a, sa = self.make(w, 7, w + "-a")
            b, sb = self.make(w, 7, w + "-b")
            self.assert_identical(a, b)
            self.assertEqual(sa, sb)

    def test_claims_seed_moves_the_session_not_the_base(self):
        a, _ = self.make("ingest", 1, "a")
        b, _ = self.make("ingest", 2, "b")
        for f in ("base.csv", "sales.csv", "parents.txt"):
            self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                        os.path.join(b, f), shallow=False))
        for f in ("upload_0.csv", "upload_1.csv", "lookups.txt"):
            self.assertFalse(filecmp.cmp(os.path.join(a, f),
                                         os.path.join(b, f), shallow=False))

    def test_corpus_seed_moves_the_corpus(self):
        a, _ = self.make("curation", 1, "a")
        b, _ = self.make("curation", 2, "b")
        self.assertFalse(filecmp.cmp(os.path.join(a, "docs.csv"),
                                     os.path.join(b, "docs.csv"),
                                     shallow=False))

    def test_planted_structure_is_consistent(self):
        d, sizes = self.make("curation", 3, "c")
        docs = {}
        with open(os.path.join(d, "docs.csv"), encoding="utf-8") as f:
            next(f)
            for line in f:
                i, _, text = line.rstrip("\n").split(",", 2)
                docs[int(i)] = text
        self.assertEqual(len(docs), sizes["docs"])
        with open(os.path.join(d, "exact_groups.txt")) as f:
            for line in f:
                ids = [int(x) for x in line.split()]
                self.assertGreater(len(ids), 1)
                self.assertEqual(len({docs[i] for i in ids}), 1)
        with open(os.path.join(d, "near_pairs.txt")) as f:
            for line in f:
                x, y = (int(v) for v in line.split())
                self.assertNotEqual(docs[x], docs[y])

    def test_claims_expectations_match_the_files(self):
        d, sizes = self.make("ingest", 4, "i")
        expect = dict(l.rstrip("\n").split("=", 1)
                      for l in open(os.path.join(d, "expect.properties"),
                                    encoding="utf-8"))
        with open(os.path.join(d, "base.csv"), encoding="utf-8") as f:
            keys = [line.split(",")[3] for line in list(f)[1:]]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertEqual(int(expect["base_claims"]), len(keys))
        new = set()
        for name in ("upload_0.csv", "upload_1.csv"):
            with open(os.path.join(d, name), encoding="utf-8") as f:
                new |= {line.split(",")[3] for line in list(f)[1:]}
        self.assertEqual(int(expect["final_claims"]), len(set(keys) | new))


if __name__ == "__main__":
    unittest.main()
