#!/usr/bin/env python3
"""The plant generator is deterministic per seed and differs across seeds.

    python3 perfbench/test_plantgen.py      # from the root of a checkout

Generates the catalog for seed 1 twice and seed 2 once, then compares every
parquet file's schema and decoded column values, keyed by table and
partition directory. Part file names carry a random id, and parquet-mr
writes each column's encoding list from a hash set, so neither names nor
footer bytes are compared.
"""
import hashlib
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def content(path):
    """sha256 of a parquet file's schema and values, in file order."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    return hashlib.sha256(repr((t.schema, t.to_pydict())).encode()).hexdigest()


def fingerprint(catalog):
    """{relative directory: sorted content hashes of its parquet files}"""
    out = {}
    for d, _, files in os.walk(catalog):
        hashes = sorted(content(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
        if hashes:
            out[os.path.relpath(d, catalog)] = hashes
    return out


class PlantGenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()
        cls.work = os.path.join(run.OUT, "test_plantgen")
        shutil.rmtree(cls.work, ignore_errors=True)
        cls.prints = {}
        for name, seed in (("a", 1), ("b", 1), ("c", 2)):
            d = os.path.join(cls.work, name)
            os.makedirs(d)
            run.java(["perfbench.Generate", d, str(seed), "2"], d, run.RUN_TIMEOUT_S)
            cls.prints[name] = fingerprint(os.path.join(d, "catalog"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_same_seed_same_content(self):
        self.assertTrue(self.prints["a"])
        self.assertEqual(self.prints["a"], self.prints["b"])

    def test_other_seed_other_content(self):
        a, c = self.prints["a"], self.prints["c"]
        for table in ("plant/element", "plant/attribute"):
            self.assertNotEqual(a[table], c[table])
        archive = [k for k in a if k.startswith("plant/archive/")]
        self.assertTrue(archive)
        for part in archive:
            self.assertNotEqual(a[part], c.get(part))


if __name__ == "__main__":
    unittest.main()
