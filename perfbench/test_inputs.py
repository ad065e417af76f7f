"""Tests of the benchmark's input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout; the interactive cases need the table
data (see run.py) and are skipped without it.
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import inputs  # noqa: E402

ROOT = os.path.dirname(HERE)
DATA = os.path.join(os.environ.get("PERFBENCH_DATA", "/root/testdata"), "sf0.01")
STAGE_TYPES = {"LOAD", "JOIN", "UNION", "FILTER", "GROUP", "SELECT", "SORT", "AGGREGATE",
               "CUSTOM"}


class GatePools(unittest.TestCase):
    def setUp(self):
        self.manifest = inputs.load_manifest(ROOT)
        self.iterative = inputs.load_iterative()
        self.board, self.loops = inputs.pools(self.manifest, self.iterative)

    def test_pools_partition_the_manifest(self):
        self.assertEqual(len(self.manifest), 390)
        board = [g for gs in self.board.values() for g in gs]
        loops = [g for gs in self.loops.values() for g in gs]
        self.assertEqual(sorted(board + loops), sorted(self.manifest))
        self.assertFalse(set(board) & set(loops))
        self.assertLessEqual(set(self.iterative), set(self.manifest))

    def test_board_families_are_name_prefixes(self):
        for fam, gates in self.board.items():
            self.assertTrue(all(inputs.family(g) == fam for g in gates))

    def test_deck_has_one_gate_per_operator(self):
        deck = inputs.load_deck()
        ops = [self.iterative[g] for g in deck]  # KeyError: not an iterative gate
        self.assertEqual(len(ops), len(set(ops)))
        # Attribution Markov is left out (its oracle cannot run in time)
        self.assertEqual(set(self.loops) - set(ops), {"attribution"})

    def test_deck_is_the_same_for_every_seed(self):
        with tempfile.TemporaryDirectory() as d:
            plans = [inputs.generate("iterative", s, DATA, d) for s in (1, 2, 3)]
        self.assertEqual(plans[0], plans[1])
        self.assertEqual(plans[0], plans[2])


@unittest.skipUnless(os.path.isdir(DATA), f"table data {DATA} not found")
class InteractiveInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.runs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, tag)
            os.makedirs(d)
            cls.runs[tag] = (d, inputs.generate("interactive", seed, DATA, d))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _files(self, tag):
        d, _ = self.runs[tag]
        return sorted(f for f in os.listdir(d) if f.endswith(".csv"))

    def _responses(self, tag):
        return [s["response"] for s in self.runs[tag][1]["sessions"]]

    def test_same_seed_gives_identical_inputs(self):
        self.assertEqual(self._files("a"), self._files("b"))
        _, mismatch, errors = filecmp.cmpfiles(self.runs["a"][0], self.runs["b"][0],
                                               self._files("a"), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(self._responses("a"), self._responses("b"))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(self._responses("a"), self._responses("c"))
        a, c = self.runs["a"][0], self.runs["c"][0]
        self.assertFalse(filecmp.cmp(os.path.join(a, "orders_0.csv"),
                                     os.path.join(c, "orders_0.csv"), shallow=False))

    def test_sessions_are_sized_and_shaped(self):
        sessions = self.runs["a"][1]["sessions"]
        self.assertEqual(sorted(len(s["stages"]) for s in sessions), sorted(inputs.STAGE_COUNTS))
        for s in sessions:
            self.assertTrue(3 <= len(s["stages"]) <= 7)
            self.assertLessEqual({st["type"] for st in s["stages"]}, STAGE_TYPES)
            self.assertEqual(len(s["uploads"]), 2)

    def test_responses_carry_repairable_defects(self):
        wires = [st for s in self.runs["a"][1]["sessions"]
                 for st in json.loads(s["response"])["transformationStages"]]
        names = [v for st in wires for k, v in st["data"].items()
                 if k in ("leftTable", "tableName")]
        self.assertTrue(any(n.endswith("_csv") for n in names))
        self.assertTrue(any(st["type"] == "JOIN" and "leftKey" not in st["data"]
                            for st in wires))

    def test_reference_render_runs(self):
        # every generated flow renders to SQL DuckDB accepts over its CSVs
        import duckdb
        for s in self.runs["a"][1]["sessions"]:
            con = duckdb.connect()
            for table, path in s["tables"].items():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"read_csv_auto('{path}', header=true)")
            con.execute(check.render_flow(s)).fetchall()
            con.close()


if __name__ == "__main__":
    unittest.main()
