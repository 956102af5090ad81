"""Tests for the benchmark's own helpers:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 0]
        self.assertEqual(metrics.tail(xs)[0], 1)
        self.assertEqual(metrics.tail(sorted(xs))[0], 1)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)


class StageAttribution(unittest.TestCase):
    def test_first_engine_frame_names_the_module(self):
        cases = {
            "graft.operators.GraftTable.compactLocked(GraftTable.scala:700)":
                "operators",
            "graft.streaming.CdcPipeline.processBatch(CdcPipeline.scala:190)":
                "streaming",
            "graft.sources.Snapshot$.runSharded(Snapshot.scala:150)":
                "sources",
            "graft.queries.SimilarityQueries$.$anonfun$defs$1(Sim.scala:9)":
                "queries",
            "graft.ddl.SchemaRegistry.applyDdl(SchemaRegistry.scala:97)":
                "ddl",
        }
        for frame, module in cases.items():
            self.assertEqual(metrics.module_of(frame), module, frame)

    def test_no_engine_frame_is_spark(self):
        self.assertEqual(metrics.module_of(""), "spark")
        # the engine's root package is not one of the layers
        self.assertEqual(metrics.module_of("graft.Tables$.load(Tables.scala:26)"),
                         "spark")

    def test_table_writes(self):
        self.assertTrue(metrics.TABLE_WRITE.search(
            "graft.operators.GraftTable.writeBatch(GraftTable.scala:420)"))
        self.assertFalse(metrics.TABLE_WRITE.search(
            "graft.operators.GraftTable.read(GraftTable.scala:489)"))


class ExpectedState(unittest.TestCase):
    """insert -> update -> delete of one key, with an ADD COLUMN between."""

    def setUp(self):
        self.snapshot = {"orders": [
            {"o_orderkey": 1, "o_custkey": 7, "o_orderstatus": "O",
             "o_totalprice": "10.00", "o_orderdate": "1996-01-01 00:00:00",
             "o_orderpriority": "1-URGENT"}]}

    def row(self, key, price, **extra):
        r = {"o_orderkey": key, "o_custkey": 9, "o_orderstatus": "F",
             "o_totalprice": price, "o_orderdate": "1997-02-03 04:05:06",
             "o_orderpriority": "2-HIGH"}
        r.update(extra)
        return r

    def test_insert_update_delete_with_add_column(self):
        events = [
            ("add", "orders", self.row(2, "1.00")),           # insert
            ("ddl", "orders", "o_note"),                      # ADD COLUMN
            ("add", "orders", self.row(2, "2.00", o_note="x")),  # update
            ("add", "orders", self.row(3, "3.00", o_note="y")),  # insert
            ("remove", "orders", {"o_orderkey": 3}),           # delete
        ]
        state = gen.expected_state(self.snapshot, events)["orders"]
        self.assertEqual(sorted(state), [(1,), (2,)])
        # last image wins, and carries the added column
        self.assertEqual(state[(2,)]["o_totalprice"], "2.00")
        self.assertEqual(state[(2,)]["o_note"], "x")
        # a row whose last image predates the column reads NULL there
        self.assertIsNone(state[(1,)]["o_note"])
        self.assertEqual(state[(1,)]["o_totalprice"], "10.00")

    def test_delete_then_nothing_left(self):
        events = [("add", "orders", self.row(1, "5.00")),
                  ("remove", "orders", {"o_orderkey": 1})]
        self.assertEqual(gen.expected_state(self.snapshot, events)["orders"],
                         {})

    def test_enum_labels_are_lowercased(self):
        self.assertEqual(gen.converted("orders", self.row(2, "1.00"))
                         ["o_orderstatus"], "f")


class Generator(unittest.TestCase):
    def test_same_seed_same_stream(self):
        import numpy as np
        snap = {"customer": [{"c_custkey": k} for k in range(5)],
                "orders": [{"o_orderkey": k} for k in range(5)],
                "lineitem": [{"l_orderkey": k, "l_linenumber": 1}
                             for k in range(5)]}
        a = gen.change_stream(np.random.default_rng(3), snap, 200, 5)
        b = gen.change_stream(np.random.default_rng(3), snap, 200, 5)
        self.assertEqual(a, b)
        self.assertEqual(sum(1 for e in a if e[0] == "ddl"), len(gen.ADDED))


if __name__ == "__main__":
    unittest.main()
