"""Unit tests for the order-insensitive result hash (python3 -m unittest)."""
import unittest

import pandas as pd

import canon


class CanonTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", None]})
        b = pd.DataFrame({"v": [None, "x", "y"], "k": [3, 1, 2]})
        self.assertEqual(canon.frame_hash(a), canon.frame_hash(b))

    def test_values_count(self):
        a = pd.DataFrame({"k": [1, 2, 3]})
        self.assertNotEqual(canon.frame_hash(a)[0],
                            canon.frame_hash(pd.DataFrame({"k": [1, 2, 4]}))[0])
        self.assertNotEqual(canon.frame_hash(a)[0],
                            canon.frame_hash(pd.DataFrame({"j": [1, 2, 3]}))[0])
        self.assertEqual(canon.frame_hash(a)[1], 3)

    def test_unorderable_cells_hash_by_text(self):
        a = pd.DataFrame({"arr": [[2, 1], [0]], "k": [1, 2]})
        b = pd.DataFrame({"arr": [[0], [2, 1]], "k": [2, 1]})
        self.assertEqual(canon.frame_hash(a), canon.frame_hash(b))


if __name__ == "__main__":
    unittest.main()
