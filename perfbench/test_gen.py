"""Generator determinism: the same seed gives byte-identical inputs, another
seed gives different ones. Run from the repository root:

    python3 perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

SCRATCH = HERE.parent / ".bench_build" / "test"


def files(root):
    return sorted(str(p.relative_to(root)) for p in Path(root).rglob("*") if p.is_file())


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        SCRATCH.mkdir(parents=True, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def three(self, make):
        """Inputs for seeds 7, 7 and 8: (root_a, root_b, root_c)."""
        roots = [os.path.join(self.dir, x) for x in "abc"]
        for root, seed in zip(roots, (7, 7, 8)):
            make(seed, root)
        return roots

    def assert_seeded(self, make):
        a, b, c = self.three(make)
        self.assertEqual(files(a), files(b))
        self.assertTrue(files(a))
        for f in files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False),
                            f"{f} differs between two runs with the same seed")
        data = [f for f in files(a) if f.endswith(".parquet") or f == "planted.json"]
        changed = [f for f in data if os.path.exists(os.path.join(c, f)) and not
                   filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)]
        self.assertTrue(changed, "a different seed produced identical inputs")
        self.assertTrue(any(f.startswith("stage") or f.endswith(".parquet") for f in changed))

    def test_market(self):
        self.assert_seeded(lambda s, r: gen.market(s, r, 3))

    def test_doc_batches(self):
        self.assert_seeded(lambda s, r: gen.doc_batches(s, r, 2, 3, 50, 5, corpus_docs=300))

    def test_planted_copies_are_near_duplicates(self):
        """Each planted copy is its original plus one word: with n-word
        5-gram shingles the Jaccard similarity is (n-4)/(n-3) >= 0.9."""
        import json
        import pyarrow.parquet as pq
        root = os.path.join(self.dir, "d")
        paths = gen.doc_batches(3, root, 2, 4, 60, 6, corpus_docs=300)
        text = {}
        for p in paths + [os.path.join(root, "history.parquet")]:
            t = pq.read_table(p).to_pydict()
            text.update(zip(t["doc_id"], t["text"]))
        with open(os.path.join(root, "planted.json")) as f:
            planted = json.load(f)
        self.assertEqual(len(planted), 4 * 6)
        self.assertTrue(any(a < 2_000_000 for a, _ in planted), "no copy of a history document")

        def shingles(s):
            w = s.split()
            return {tuple(w[i:i + 5]) for i in range(len(w) - 4)}
        for a, b in planted:
            self.assertLess(a, b)
            sa, sb = shingles(text[a]), shingles(text[b])
            self.assertGreaterEqual(len(sa & sb) / len(sa | sb), 0.9)


if __name__ == "__main__":
    unittest.main()
