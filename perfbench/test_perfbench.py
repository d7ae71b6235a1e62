"""Tests of the benchmark itself (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import hashlib
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import build
import gates
import gen
import metrics


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-", dir=build.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out)
        return out

    def test_byte_identical_per_seed(self):
        for w in gen.GENERATORS:
            a = tree_digest(self.gen(w, 7, w + "a"))
            b = tree_digest(self.gen(w, 7, w + "b"))
            c = tree_digest(self.gen(w, 8, w + "c"))
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_bar_shape(self):
        out = self.gen("medallion_rebuild", 3, "r")
        t = pq.read_table(os.path.join(out, "raw", "events.parquet"))
        self.assertEqual(t.schema, gen.SCHEMA)
        with open(gen.CALENDAR) as f:
            closed = {line.split(",")[1] for line in
                      f.read().splitlines()[1:] if line}
        for ts in set(t.column("ts").to_pylist()):
            self.assertLess(ts.weekday(), 5)
            self.assertNotIn(ts.date().isoformat(), closed)
            self.assertEqual(ts.year, 2024)
            self.assertTrue(datetime.time(4, 0) <= ts.time()
                            <= datetime.time(19, 30))
            self.assertIn(ts.minute, (0, 30))
        for v in t.column("value").to_pylist():
            self.assertGreater(v, 0.0)
            self.assertEqual(v, round(v, 2))

    def test_refresh_batches_carry_late_bars(self):
        out = self.gen("incremental_refresh", 5, "f")
        b = pq.read_table(os.path.join(out, "batches", "0003",
                                       "events.parquet"))
        days = sorted({ts.date() for ts in b.column("ts").to_pylist()})
        self.assertEqual(len(days), 2)  # the new day and the previous one
        late = sum(1 for ts in b.column("ts").to_pylist()
                   if ts.date() == days[0])
        self.assertEqual(late, gen.REFRESH["symbols"] *
                         gen.REFRESH["late_slots"])


class TailTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_ten_samples_beyond(self):
        for n in (20, 37, 100):
            xs = [float(i) for i in range(n)]
            value, pct, count = metrics.tail(list(reversed(xs)))
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
        self.assertEqual(metrics.tail([float(i) for i in range(100)])[1], 90)


class AccountingTest(unittest.TestCase):
    rec = {"attempted": 4, "failed": 0, "errors": []}

    def test_clean_run(self):
        self.assertEqual(metrics.account(self.rec, {"g": None}),
                         (4, 0, True))

    def test_wrong_gate_is_one_failure(self):
        a, f, ok = metrics.account(self.rec, {"g": "rows 1 != 2",
                                              "h": "x"})
        self.assertEqual((a, f, ok), (4, 1, False))
        self.assertEqual(metrics.failure_ratio(a, f), 0.25)

    def test_failed_op_and_error(self):
        rec = dict(self.rec, failed=2)
        self.assertEqual(metrics.account(rec, {}), (4, 2, False))
        rec = dict(self.rec, errors=["tracer read no planning phases"])
        self.assertFalse(metrics.account(rec, {})[2])

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            metrics.failure_ratio(0, 0)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(metrics.SPEC) as f:
            self.spec = json.load(f)

    def test_end_to_end_record(self):
        rec = {"cold_setup_s": 9.0, "setup_s": [4.0, 5.0, 6.0],
               "op_s": [2.0, 3.0],
               "write_amp": 1.5, "heap_retained_mb": 80.0}
        values, facts = metrics.end_to_end(rec)
        line = metrics.result_line(values, "end_to_end", True, 2, 0)
        self.assertEqual(list(line["metrics"]),
                         [m["name"] for m in self.spec["end_to_end"]])
        self.assertEqual(values["setup_s"], 5.0)
        self.assertEqual(values["op_s_p50"], 2.5)
        for m in self.spec["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])

    def layer_rec(self, workload):
        prefix = metrics.LAYER_PREFIX[workload]
        return {"workload": workload, "op_s": [2.0], "traced_op_s": [2.5],
                "layers": {m["name"]: 1.0 for m in self.spec["per_layer"]
                           if m["name"].startswith(prefix)}}

    def test_per_layer_record(self):
        for w in metrics.LAYER_PREFIX:
            values = metrics.per_layer(self.layer_rec(w))
            line = metrics.result_line(values, "per_layer", True, 1, 0)
            self.assertEqual(list(line["metrics"]),
                             [m["name"] for m in self.spec["per_layer"]])
            self.assertEqual(values["trace.overhead_s"], 0.5)

    def test_per_layer_names_must_match(self):
        rec = self.layer_rec("medallion_rebuild")
        rec["layers"]["rebuild.ingest.bogus_s"] = 1.0
        with self.assertRaises(KeyError):
            metrics.per_layer(rec)
        rec = self.layer_rec("incremental_refresh")
        del rec["layers"]["refresh.batch.plan_s"]
        with self.assertRaises(KeyError):
            metrics.per_layer(rec)

    def test_unmeasured_is_not_zero(self):
        rec = self.layer_rec("incremental_refresh")
        rec["traced_op_s"] = []
        with self.assertRaises(ValueError):
            metrics.result_line(metrics.per_layer(rec), "per_layer",
                                True, 1, 0)

    def test_time_shares(self):
        rec = {"cores": 4, "layers": {
            "rebuild.gold.wall_s": 2.0, "rebuild.gold.exec_cpu_s": 4.0,
            "rebuild.gold.driver_s": 0.5, "refresh.batch.wall_s": 9.0,
            "refresh.batch.driver_s": 1.0}}
        self.assertEqual(metrics.time_shares(rec),
                         {"exec_cpu_per_core": 0.5, "driver_only": 0.25})

    def test_spec_shape(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds",
                                          "workloads", "end_to_end",
                                          "per_layer"})
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["bound"],
                         max(m["bound"] for m in e2e.values()))
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(metrics.LAYER_PREFIX))


class GateTest(unittest.TestCase):
    def test_order_free_and_normalised(self):
        a = pa.table({"x": [1, 2], "y": [0.5, -0.0]})
        b = pa.table({"y": [0.0, 0.5], "x": pa.array([2, 1], pa.int32())})
        self.assertIsNone(gates.same(a, b))

    def test_detects_differences(self):
        a = pa.table({"x": [1, 2], "y": [0.5, 0.25]})
        self.assertIn("row hashes", gates.same(
            a, pa.table({"x": [1, 2], "y": [0.5, 0.2500000000000001]})))
        self.assertIn("rows", gates.same(a, pa.table({"x": [1],
                                                      "y": [0.5]})))
        self.assertIn("columns", gates.same(a, pa.table({"x": [1, 2]})))


if __name__ == "__main__":
    unittest.main()
