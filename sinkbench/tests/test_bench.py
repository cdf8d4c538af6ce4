"""Tests of the benchmark's own parts (no Spark needed):

    python3 -m unittest discover -s sinkbench/tests

- the generator gives the same bytes for the same seed;
- the checker passes a faithful landing and catches an injected duplicate,
  a lost row and a wrong DLQ reason.
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402

SMALL = dict(kind="mix", files=4, rows_per_file=60, files_per_trigger=2)


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes(self):
        for w in gen.SHAPES:
            a, b, c = (os.path.join(self.tmp, w, x) for x in "abc")
            gen.generate(w, 7, a, seconds=2)
            gen.generate(w, 7, b, seconds=2)
            gen.generate(w, 8, c, seconds=2)
            files = tree(a)
            self.assertEqual(files, tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertTrue([f for f in mismatch if f != "plan.json"],
                            f"{w}: another seed must give other inputs")

    def test_dirty_mix_has_every_reason(self):
        plan = gen.generate("dirty_replay", 3, self.tmp)
        with open(os.path.join(self.tmp, "manifest.csv")) as f:
            reasons = {line.rstrip("\n").split(",", 4)[4] for line in list(f)[1:]}
        self.assertTrue({"", gen.UNPARSEABLE, gen.POISON, "null in required field $.id",
                         "null in required field $.int_value"} <= reasons)
        # one rejected row in every second micro-batch
        batches = plan["files"] // plan["files_per_trigger"]
        self.assertEqual(len(plan["poison"]), batches // 2)


class CheckerTest(unittest.TestCase):
    """Lands the generator's rows the way the pipeline must, then breaks it."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.saved = gen.SHAPES["dirty_replay"]
        gen.SHAPES["dirty_replay"] = SMALL
        self.input = os.path.join(self.tmp, "input")
        self.plan = gen.generate("dirty_replay", 5, self.input)
        self.drain = os.path.join(self.tmp, "drain-001")
        self.rows = []  # (partition, offset, value, leg, reason)
        with open(os.path.join(self.input, "manifest.csv")) as f:
            manifest = {(int(p), int(o)): (leg, reason) for _, p, o, leg, reason in
                        (line.rstrip("\n").split(",", 4) for line in list(f)[1:])}
        for name in self.plan["file_names"]:
            with open(os.path.join(self.input, "backlog", name)) as f:
                for line in f:
                    e = json.loads(line)
                    leg, reason = manifest[(e["partition"], e["offset"])]
                    self.rows.append((e["partition"], e["offset"], e["value"], leg, reason))

    def tearDown(self):
        gen.SHAPES["dirty_replay"] = self.saved
        shutil.rmtree(self.tmp)

    def land(self, rows):
        shutil.rmtree(self.drain, ignore_errors=True)
        good = [r for r in rows if r[3] == "data"]
        bad = [r for r in rows if r[3] == "dlq"]
        vals = [json.loads(r[2]) for r in good]
        self._write("out", {
            "topic": pa.array(["events"] * len(good)),
            "partition": pa.array([r[0] for r in good], pa.int32()),
            "offset": pa.array([r[1] for r in good], pa.int64()),
            "id": pa.array([v["id"] for v in vals]),
            "int_value": pa.array([v["int_value"] for v in vals], pa.int64())})
        self._write("dlq", {
            "topic": pa.array(["events"] * len(bad)),
            "partition": pa.array([r[0] for r in bad], pa.int32()),
            "offset": pa.array([r[1] for r in bad], pa.int64()),
            "value": pa.array([r[2] for r in bad], pa.string()),
            "err": pa.array([r[4] for r in bad])})
        result = {"drains": [{"dir": "drain-001", "due_ms": 0}]}
        return check.check_pipeline(self.tmp, self.plan, result)

    def _write(self, sink, cols):
        d = os.path.join(self.drain, sink, "data", "batch=0")
        os.makedirs(d)
        pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))
        os.makedirs(os.path.join(self.drain, sink, "_commits"))
        open(os.path.join(self.drain, sink, "_commits", "0"), "w").close()

    def test_faithful_landing_passes(self):
        attempted, failed, problems, fresh = self.land(self.rows)
        self.assertEqual((attempted, failed, problems), (len(self.rows), 0, {}))
        self.assertEqual([len(f) for f in fresh], [len(self.rows)])

    def test_duplicate_is_caught(self):
        good = next(r for r in self.rows if r[3] == "data")
        _, failed, problems, _ = self.land(self.rows + [good])
        self.assertGreater(failed, 0)
        self.assertIn("duplicated", problems)

    def test_loss_is_caught(self):
        _, failed, problems, _ = self.land(self.rows[1:])
        self.assertGreater(failed, 0)
        self.assertIn("lost", problems)

    def test_wrong_dlq_reason_is_caught(self):
        i = next(i for i, r in enumerate(self.rows) if r[4] == gen.POISON)
        rows = list(self.rows)
        rows[i] = rows[i][:4] + (gen.UNPARSEABLE,)
        _, failed, problems, _ = self.land(rows)
        self.assertEqual(failed, 1)
        self.assertIn("wrong_leg_or_reason", problems)

    def test_changed_value_is_caught(self):
        i = next(i for i, r in enumerate(self.rows) if r[3] == "data")
        rows = list(self.rows)
        v = json.loads(rows[i][2])
        v["int_value"] += 1
        rows[i] = (rows[i][0], rows[i][1], json.dumps(v)) + rows[i][3:]
        _, failed, problems, _ = self.land(rows)
        self.assertEqual(failed, 1)
        self.assertIn("value_mismatch", problems)


if __name__ == "__main__":
    unittest.main()
