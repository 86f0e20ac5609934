"""Tests for the analytics table generator: python3 -m unittest discover -s bench -p 'test_*.py'"""
import os
import tempfile
import unittest

import gen_tables


class GenTablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen_tables.generate(0.001, 42), gen_tables.generate(0.001, 42)
        self.assertEqual(sorted(a), sorted(gen_tables.TABLES))
        for name in gen_tables.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(gen_tables.generate(0.001, 43)["lineitem"]))

    def test_same_seed_same_file_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for run in ("x", "y"):
                out = os.path.join(d, run)
                os.makedirs(out)
                for name, table in gen_tables.generate(0.001, 42).items():
                    gen_tables.pq.write_table(table, os.path.join(out, f"{name}.parquet"))
                digests.append({n: open(os.path.join(out, n), "rb").read() for n in os.listdir(out)})
            self.assertEqual(digests[0], digests[1])

    def test_documents_are_unique_with_near_duplicates(self):
        docs = gen_tables.generate(0.001, 42)["documents"].column("text").to_pylist()
        self.assertEqual(len(set(docs)), len(docs))
        stripped = [" ".join(t.split()[:-1]) for t in docs]
        shared = sum(1 for t in stripped if any(t in u for u in stripped if u is not t))
        self.assertGreater(shared, 10)


if __name__ == "__main__":
    unittest.main()
