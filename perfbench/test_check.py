"""Tests of the benchmark's output checks.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check

SQL = "SELECT grp, count(*) AS n, sum(v) AS s FROM orders GROUP BY grp ORDER BY grp"


def dump(out, op_id, columns, types, rows):
    os.makedirs(os.path.join(out, "rows"), exist_ok=True)
    with open(os.path.join(out, "rows", f"{op_id}.json"), "w") as f:
        json.dump({"columns": columns, "types": types, "rows": rows}, f)


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(os.path.join(self.data, "orders.parquet"))
        pq.write_table(pa.table({"grp": ["a", "a", "b"], "v": [1, 2, 5]}),
                       os.path.join(self.data, "orders.parquet", "part-00000.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def verify(self, ops):
        plan = {"workload": "dashboard", "first": [
            {"id": "good", "kind": "sql", "text": SQL},
            {"id": "bad", "kind": "sql", "text": SQL}], "timed": []}
        return check.verify(self.out, self.data, plan, {"ops": ops})

    def test_right_rows_pass_and_wrong_rows_count_as_failed(self):
        cols, types = ["grp", "n", "s"], ["string", "long", "long"]
        dump(self.out, "good", cols, types, [["a", 2, 3], ["b", 1, 5]])
        dump(self.out, "bad", cols, types, [["a", 2, 3], ["b", 1, 6]])  # deliberately wrong
        ops = [{"seq": 0, "id": "good"}, {"seq": 1, "id": "bad"}, {"seq": 2, "id": "bad"}]
        notes = self.verify(ops)
        self.assertEqual([r["ok"] for r in ops], [True, False, False])
        self.assertTrue(any(n.startswith("bad: mismatch") for n in notes))

    def test_an_exception_counts_as_failed(self):
        dump(self.out, "good", ["grp", "n", "s"], ["string", "long", "long"], [["a", 2, 3], ["b", 1, 5]])
        ops = [{"seq": 0, "id": "good", "error": "RuntimeException: boom"}]
        self.verify(ops)
        self.assertFalse(ops[0]["ok"])

    def test_an_empty_result_counts_as_failed(self):
        dump(self.out, "good", ["grp", "n", "s"], ["string", "long", "long"], [])
        ops = [{"seq": 0, "id": "good"}]
        self.verify(ops)
        self.assertFalse(ops[0]["ok"])

    def test_lake_replay_rejects_a_wrong_version_and_a_wrong_read(self):
        os.makedirs(os.path.join(self.data, "batches"))
        pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()), "grp": ["g0", "g1", "g0"],
                                 "day": pa.array([1, 2, 3], pa.int32()), "value": [1.5, 2.5, 3.0]}),
                       os.path.join(self.data, "batches", "b000.parquet"))
        plan = {"workload": "lake", "first": [
            {"id": "c", "kind": "append", "batch": "batches/b000.parquet"},
            {"id": "r", "kind": "read_pruned", "lo": 2, "hi": 3}], "timed": []}
        dump(self.out, "c", ["version"], ["long"], [[2]])  # the first commit is version 1
        dump(self.out, "r", ["id", "grp", "day", "value"], ["long", "string", "integer", "double"],
             [[2, "g1", 2, 2.5], [3, "g0", 3, 3.0]])
        ops = [{"seq": 0, "id": "c"}, {"seq": 1, "id": "r"}]
        check.verify(self.out, self.data, plan, {"ops": ops})
        self.assertEqual([r["ok"] for r in ops], [False, True])
        dump(self.out, "r", ["id", "grp", "day", "value"], ["long", "string", "integer", "double"],
             [[2, "g1", 2, 2.5]])  # a row missing
        check.verify(self.out, self.data, plan, {"ops": ops})
        self.assertFalse(ops[1]["ok"])


if __name__ == "__main__":
    unittest.main()
