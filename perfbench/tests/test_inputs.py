import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402

INVOICES = [str(i) for i in range(500)]


class SeedTest(unittest.TestCase):
    def test_same_seed_same_query_order(self):
        self.assertEqual(inputs.query_rounds(7, 20), inputs.query_rounds(7, 20))

    def test_other_seed_other_query_order(self):
        self.assertNotEqual(inputs.query_rounds(7, 20), inputs.query_rounds(8, 20))

    def test_rounds_are_permutations_of_the_twelve_queries(self):
        for r in inputs.query_rounds(3, 10):
            self.assertEqual(sorted(r), sorted(inputs.QUERIES))
        self.assertEqual(len(inputs.QUERIES), 12)

    def test_same_seed_same_dml_keys(self):
        self.assertEqual(inputs.dml_cycles(7, INVOICES, 30), inputs.dml_cycles(7, INVOICES, 30))

    def test_other_seed_other_dml_keys(self):
        self.assertNotEqual(inputs.dml_cycles(7, INVOICES, 30), inputs.dml_cycles(8, INVOICES, 30))

    def test_dml_keys_come_from_the_universe(self):
        for cy in inputs.dml_cycles(1, INVOICES, 30):
            picked = cy["append_from"] + cy["merge"] + cy["point"] + [cy["delete"]]
            self.assertTrue(set(picked) <= set(INVOICES))
            self.assertEqual(len(set(cy["merge"])), inputs.MERGE_INVOICES)
            self.assertTrue(set(cy["append_as"]).isdisjoint(INVOICES))

    def test_fresh_invoice_numbers_never_repeat(self):
        fresh = [n for cy in inputs.dml_cycles(4, INVOICES, 30) for n in cy["append_as"]]
        self.assertEqual(len(fresh), len(set(fresh)))


if __name__ == "__main__":
    unittest.main()
