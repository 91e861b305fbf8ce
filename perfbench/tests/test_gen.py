import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def digest(root):
    """Content hash of every file a generator wrote."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                pa, pb = gen.generate(w, 7, a), gen.generate(w, 7, b)
                self.assertEqual(json.dumps(pa, sort_keys=True), json.dumps(pb, sort_keys=True))
                self.assertEqual(digest(a), digest(b), w)

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 8, b)
                self.assertNotEqual(digest(a), digest(b), w)

    def test_ingest_removals_are_live_earlier_docs(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.generate("index_ingest", 3, d)
        for b in plan["batches"]:
            self.assertTrue(all(r < b["add_lo"] for r in b["remove"]))

    def test_every_ingest_batch_carries_copies(self):
        import pyarrow.parquet as pq
        for seed in (3, 4):
            with tempfile.TemporaryDirectory() as d:
                plan = gen.generate("index_ingest", seed, d)
                texts = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
            base = set(texts[:plan["base_docs"]])
            for b in plan["batches"]:
                batch = texts[b["add_lo"]:b["add_hi"]]
                self.assertGreaterEqual(len(batch) - len(set(batch)), gen.BATCH_COPIES)
                self.assertGreaterEqual(sum(t in base for t in batch), gen.BATCH_COPIES)


if __name__ == "__main__":
    unittest.main()
