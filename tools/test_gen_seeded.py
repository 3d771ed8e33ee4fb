"""Seed-range tests for tools/gen_seeded.py.

Run from the repository root: python3 -m unittest tools/test_gen_seeded.py
The fixture is the committed sf0.01 copy under perfbench/fixture.
"""
import datetime
import importlib.util
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "gen_seeded.py")
FIXTURE = os.path.join(ROOT, "perfbench", "fixture", "sf0.01")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def load_tool():
    """Import gen_seeded with an argv it accepts (it reads argv at import)."""
    argv, sys.argv = sys.argv, [TOOL]
    try:
        spec = importlib.util.spec_from_file_location("gen_seeded", TOOL)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    finally:
        sys.argv = argv


def generate(dst, seed):
    return subprocess.run([sys.executable, TOOL, FIXTURE, dst, str(seed)],
                          capture_output=True, text=True)


class SeedRangeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tool = load_tool()
        tables = {t: pq.read_table(f"{FIXTURE}/{t}.parquet") for t in TABLES}
        cls.lo, cls.hi = cls.tool.seed_range(tables)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def shifted_years(self, seed):
        dst = os.path.join(self.tmp.name, str(seed))
        r = generate(dst, seed)
        self.assertEqual(r.returncode, 0, r.stderr)
        years = []
        for t, cols in self.tool.TS_COLS.items():
            tbl = pq.read_table(f"{dst}/{t}.parquet")
            for c in cols:
                mm = pc.min_max(tbl.column(c)).as_py()
                years += [mm["min"].year, mm["max"].year]
        return years

    def assert_rejected(self, seed):
        dst = os.path.join(self.tmp.name, "rejected")
        r = generate(dst, seed)
        self.assertNotEqual(r.returncode, 0)
        self.assertIn(f"largest valid seed: {self.hi}", r.stderr)
        self.assertNotIn("Traceback", r.stderr)
        self.assertFalse(os.path.exists(dst), "a rejected seed writes nothing")

    def test_range_brackets_the_benchmark_seeds(self):
        self.assertLess(self.lo, 0)
        self.assertGreaterEqual(self.hi, 9999)

    def test_range_ends_stay_within_years_1_to_9999(self):
        self.assertEqual(max(self.shifted_years(self.hi)), 9999)
        self.assertEqual(min(self.shifted_years(self.lo)), 1)

    def test_seed_past_either_end_is_rejected(self):
        self.assert_rejected(self.hi + 1)
        self.assert_rejected(self.lo - 1)

    def test_seed_past_int64_is_rejected_with_the_range(self):
        self.assert_rejected(2**31 - 1)
        self.assert_rejected(2**64 - 1)

    def test_timestamps_shift_by_three_days_one_hour_per_seed(self):
        dst = os.path.join(self.tmp.name, "s2")
        self.assertEqual(generate(dst, 2).returncode, 0)
        src = pq.read_table(f"{FIXTURE}/events.parquet").column("ts").to_pylist()
        out = pq.read_table(f"{dst}/events.parquet").column("ts").to_pylist()
        shift = 2 * datetime.timedelta(days=3, hours=1)
        self.assertEqual(out, [None if v is None else v + shift for v in src])


if __name__ == "__main__":
    unittest.main()
