import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SIZES = gen.Sizes(orders=30, customers=20, events=25, updates_per_wave=40, waves=4,
                  deletes=15, replay_lines=6, files=3, delta_events=20)


def fake_sources():
    """Rows shaped like the sf0.1 selections, without reading any parquet."""
    orders = [{"o_orderkey": k, "o_custkey": k % 7, "o_orderstatus": "O", "o_totalprice": 10.5 * k,
               "o_orderdate": "1996-01-%02d" % (k % 28 + 1), "o_orderpriority": "1-URGENT"}
              for k in range(100, 130)]
    lines = [{"l_orderkey": k, "l_linenumber": n, "l_partkey": k + n, "l_suppkey": n,
              "l_quantity": float(n), "l_extendedprice": 99.5, "l_discount": 0.05,
              "l_returnflag": "N", "l_linestatus": "O", "l_shipdate": "1996-02-01"}
             for k in range(100, 130) for n in (1, 2)]
    customers = [{"c_custkey": k, "c_name": "Customer#%d" % k, "c_nationkey": k % 25,
                  "c_acctbal": 1.25 * k, "c_mktsegment": "BUILDING"} for k in range(20)]
    events = [{"event_id": k, "user_id": k % 5, "event_type": "view", "value": 2.5,
               "props": '{"k": %d}' % k} for k in range(25)]
    out = {}
    for (name, _, _, _), rows in zip(gen.TABLES, (orders, lines, customers, events)):
        out[name] = (list(rows[0]), rows)
    return out


def spool_bytes(seed):
    sp = gen.generate(fake_sources(), seed, SIZES)
    with tempfile.TemporaryDirectory() as d:
        gen.write_files(d, sp.files)
        files = {}
        for n in sorted(os.listdir(d)):
            with open(os.path.join(d, n), "rb") as f:
                files[n] = f.read()
    return files, sp.delta()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(spool_bytes(7), spool_bytes(7))

    def test_other_seed_gives_other_spool(self):
        self.assertNotEqual(spool_bytes(7)[0], spool_bytes(8)[0])

    def test_spool_holds_every_event_kind(self):
        sp = gen.generate(fake_sources(), 3, SIZES)
        events = [json.loads(line) for name in sorted(sp.files) for line in sp.files[name]]
        ops = {e["op"] for e in events}
        self.assertTrue({"c", "u", "d", "t"} <= ops)
        self.assertTrue(any(e["op"] == "d" and e["before"] is None for e in events), "tombstone")
        deletes = [e for e in events if e["op"] == "d" and e["before"]]
        self.assertTrue(deletes)
        for e in deletes:  # PK-only before-image
            pk = gen.PRIMARY_KEYS[e["table"].replace(".", "_")]
            self.assertEqual(sorted(e["before"]), sorted(pk))
        orders = [e["after"] for e in events if e["table"] == "tpch.orders" and e["after"]]
        self.assertIn("o_clerk", orders[-1])
        self.assertNotIn("o_clerk", orders[0])
        self.assertTrue(any(isinstance(e["after"]["c_nationkey"], float) for e in events
                            if e["table"] == "tpch.customer" and e["after"]), "widening wave")

    def test_replayed_range_repeats_earlier_lines(self):
        sp = gen.generate(fake_sources(), 3, SIZES)
        names = sorted(sp.files)
        replay = [n for i, n in enumerate(names)
                  if i > 0 and sp.files[n] and all(l in sp.files[names[i - 1]] for l in sp.files[n])]
        self.assertEqual(1, len(replay))
        self.assertEqual(SIZES.replay_lines, len(sp.files[replay[0]]))

    def test_delta_touches_only_existing_keys(self):
        sp = gen.generate(fake_sources(), 3, SIZES)
        keys = {}
        for name in sorted(sp.files):
            for line in sp.files[name]:
                e = json.loads(line)
                img = e["before"] if e["op"] == "d" else e["after"]
                if img:
                    pk = gen.PRIMARY_KEYS[e["table"].replace(".", "_")]
                    keys.setdefault(e["table"], set()).add(tuple(img[k] for k in pk))
        for line in sp.delta():
            e = json.loads(line)
            self.assertIn(e["op"], ("u", "d"))
            img = e["before"] if e["op"] == "d" else e["after"]
            if img:
                pk = gen.PRIMARY_KEYS[e["table"].replace(".", "_")]
                self.assertIn(tuple(img[k] for k in pk), keys[e["table"]])


if __name__ == "__main__":
    unittest.main()
