import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = dict(sf=0.001, batches=3, batch_rows=500, updated_rows=100, takedowns=20)


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class DailyBatches(unittest.TestCase):
    def land(self, root, seed):
        return gen.write_daily(root, gen.daily_plan(seed, **SMALL))

    def test_same_seed_gives_byte_identical_batches(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ea, eb = self.land(a, 7), self.land(b, 7)
            self.assertEqual(ea, eb)
            self.assertEqual(files(a), files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_batches(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.land(a, 7)
            self.land(b, 8)
            f = os.path.join("batch_001", "lineitem.csv")
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False))

    def test_batch_shape(self):
        plan = gen.daily_plan(3, **SMALL)
        n = gen.sizes(SMALL["sf"])
        live = {tuple(k) for k in zip(plan["base"]["l_orderkey"], plan["base"]["l_linenumber"])}
        self.assertEqual(len(live), n["lineitem"])
        self.assertEqual(len(plan["corpus"]), n["documents"])
        served = set(range(n["documents"]))
        batch_docs = round(n["documents"] * SMALL["batch_rows"] / n["lineitem"])
        for b in plan["batches"]:
            keys = list(zip(b["lineitem"]["l_orderkey"], b["lineitem"]["l_linenumber"]))
            self.assertEqual(len(set(keys)), SMALL["batch_rows"])
            updated = sum(k in live for k in keys)
            self.assertEqual(updated, SMALL["updated_rows"])
            live.update(keys)
            e = b["expect"]
            self.assertEqual(len(e["docs"]), batch_docs)
            self.assertEqual(len(e["exact"]), gen.dup_counts(batch_docs)[1])
            self.assertEqual(len(e["probe"]), 3)
            self.assertTrue(set(b["deletes"]) <= served)
            served -= set(b["deletes"])
            served.update(b["docs"]["doc_id"])
        self.assertEqual(plan["expect"]["lake_rows"], len(live))


class Fixture(unittest.TestCase):
    def test_same_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_fixture(a, 0.001, 42)
            gen.write_fixture(b, 0.001, 42)
            names = files(a)
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


if __name__ == "__main__":
    unittest.main()
