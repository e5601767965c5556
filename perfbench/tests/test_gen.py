"""Seed determinism of the read-side table generator."""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SF = 0.002


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_tables(self):
        for name in gen.ALL_TABLES:
            self.assertTrue(gen.build(name, 5, SF).equals(gen.build(name, 5, SF)), name)

    def test_other_seed_other_tables(self):
        for name in gen.ALL_TABLES:
            self.assertFalse(gen.build(name, 5, SF).equals(gen.build(name, 6, SF)), name)

    def test_written_files_are_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write(a, 9, SF, ["lineitem", "documents"])
            gen.write(b, 9, SF, ["lineitem", "documents"])
            for t in ("lineitem", "documents"):
                with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)

    def test_tables_a_workload_needs_exist(self):
        for tables in gen.WORKLOAD_TABLES.values():
            self.assertTrue(set(tables) <= set(gen.ALL_TABLES))


if __name__ == "__main__":
    unittest.main()
