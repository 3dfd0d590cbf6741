import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import model  # noqa: E402

PK = {"t_a": ["id"], "t_b": ["k1", "k2"]}


def line(table, op, before, after):
    return json.dumps({"table": table, "op": op, "before": before, "after": after,
                       "source": {"ts_ms": 1}}, separators=(",", ":"))


class ModelTest(unittest.TestCase):
    """A spool small enough to check by hand."""

    def setUp(self):
        self.lines = [
            line("t.a", "c", None, {"id": 1, "v": "x"}),           # pos 0
            line("t.a", "c", None, {"id": 2, "v": "y"}),           # superseded by the delete
            line("t.b", "c", None, {"k1": 1, "k2": 9, "w": 1.5}),
            line("t.a", "u", None, {"id": 1, "v": "z", "n": 3}),   # new column n, wins for id 1
            line("t.a", "d", {"id": 2}, None),                     # PK-only delete, wins for id 2
            line("t.a", "d", None, None),                          # tombstone: dropped
            line("t.b", "t", None, None),                          # truncate: dropped
        ]
        self.pos = []
        p = 0
        for l in self.lines:
            self.pos.append(p)
            p += len(l) + 1

    def test_last_write_wins_by_position(self):
        m = model.Model(PK)
        m.apply_lines(self.lines)
        self.assertEqual({(1,): (self.pos[3], False), (2,): (self.pos[4], True)}, m.tables["t_a"]["rows"])
        self.assertEqual({(1, 9): (self.pos[2], False)}, m.tables["t_b"]["rows"])
        exp = m.expected()
        self.assertEqual(self.pos[4] + 1, exp["last_offset"])  # tombstone/truncate not staged
        self.assertEqual(["id", "v", "n"] + model.SYSTEM_COLUMNS, exp["tables"]["t_a"]["columns"])
        self.assertEqual(2, exp["tables"]["t_a"]["rows"])
        want = (model.row_hash((1,), self.pos[3], False) + model.row_hash((2,), self.pos[4], True)) % (1 << 64)
        self.assertEqual(str(want), exp["tables"]["t_a"]["checksum"])
        self.assertEqual(["k1", "k2"], exp["tables"]["t_b"]["primary_key"])

    def test_replayed_line_wins_at_its_new_position(self):
        m = model.Model(PK)
        m.apply_lines(self.lines + [self.lines[0]])
        self.assertEqual((sum(len(l) + 1 for l in self.lines), False), m.tables["t_a"]["rows"][(1,)])

    def test_copy_is_independent(self):
        m = model.Model(PK)
        m.apply_lines(self.lines[:2])
        c = m.copy()
        c.apply_lines(self.lines[2:])
        self.assertNotIn("t_b", m.tables)
        self.assertEqual(m.end + sum(len(l) + 1 for l in self.lines[2:]), c.end)

    def test_compare_reports_each_mismatch(self):
        m = model.Model(PK)
        m.apply_lines(self.lines)
        exp = m.expected()
        self.assertEqual([], model.compare(exp, json.loads(json.dumps(exp))))
        bad = json.loads(json.dumps(exp))
        bad["tables"]["t_a"]["rows"] = 3
        bad["last_offset"] = 0
        self.assertEqual(2, len(model.compare(exp, bad)))

    def test_fnv_reference_values(self):
        self.assertEqual(0xCBF29CE484222325, model.fnv1a64(""))
        self.assertEqual(0xAF63DC4C8601EC8C, model.fnv1a64("a"))


if __name__ == "__main__":
    unittest.main()
