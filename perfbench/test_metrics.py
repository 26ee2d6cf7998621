"""Tests of the benchmark's metric math. Run: python3 perfbench/test_metrics.py"""
import json
import os
import tempfile
import unittest

import metrics as M
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        pct, value, n = M.tail(xs)
        self.assertEqual(n, 30)
        self.assertEqual(value, 20)  # 10 samples (21..30) lie above it
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))
        self.assertEqual(M.tail(xs)[1], 2.0)

    def test_too_few_samples(self):
        self.assertIsNone(M.tail(list(range(10))))
        self.assertEqual(M.tail(list(range(11)))[1], 0)


def span(start, end, **kw):
    return dict(start=start, end=end, **kw)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = span(0, 10)
        kids = [span(1, 4), span(3, 6), span(8, 12)]  # union inside parent: 5 + 2
        self.assertAlmostEqual(M.self_time(parent, kids), 3.0)

    def test_nested_and_disjoint(self):
        parent = span(0, 10)
        self.assertAlmostEqual(M.self_time(parent, [span(2, 8), span(3, 4)]), 4.0)
        self.assertAlmostEqual(M.self_time(parent, [span(0, 1), span(9, 10)]), 8.0)
        self.assertAlmostEqual(M.self_time(parent, []), 10.0)
        self.assertAlmostEqual(M.self_time(parent, [span(-5, 20)]), 0.0)

    def test_union_length(self):
        self.assertAlmostEqual(M.union_length([(0, 2), (1, 3), (5, 6), (6, 7)]), 5.0)
        self.assertAlmostEqual(M.union_length([(3, 3), (4, 2)]), 0.0)


class BusyFracTest(unittest.TestCase):
    def test_task_time_over_slots(self):
        self.assertAlmostEqual(M.busy_frac(task_s=8.0, wall_s=4.0, cores=4), 0.5)
        self.assertAlmostEqual(M.busy_frac(task_s=16.0, wall_s=4.0, cores=4), 1.0)


class StoreWalkTest(unittest.TestCase):
    def test_counts_data_files_only(self):
        with tempfile.TemporaryDirectory() as d:
            for store in ("corpus", "sem", "span"):
                os.makedirs(os.path.join(d, store, "part=1"))
            files = {"corpus/a.parquet": 100, "corpus/part=1/b.parquet": 50,
                     "sem/c.parquet": 30, "span/d.parquet": 20,
                     "corpus/_SUCCESS": 0, "corpus/.a.parquet.crc": 12,
                     "sem/_committed": 7}
            for rel, size in files.items():
                with open(os.path.join(d, rel), "wb") as fh:
                    fh.write(b"x" * size)
            stores = [os.path.join(d, s) for s in ("corpus", "sem", "span")]
            self.assertEqual(M.dir_bytes(stores), (200, 4))
            self.assertEqual(M.dir_bytes([os.path.join(d, "missing")]), (0, 0))


class PerLayerTest(unittest.TestCase):
    """per_layer() over a hand-made ingest run: batches 3-5 of 100 docs
    each after three set-up rounds, compacting every 3rd batch (batch 5),
    one job each."""

    def raw(self):
        spans, sid = [], 0
        for r, (s, e) in enumerate([(0, 2000), (2000, 5000), (5000, 9000)]):
            sid += 1
            spans.append(dict(id=sid, parent=0, name=f"round:{r + 3}", kind="round",
                              start=s, end=e, run="x"))
            spans.append(dict(id=100 + r, parent=sid, name=f"job:{r}:", kind="job",
                              start=s + 500, end=e - 500, run="x"))
            spans.append(dict(id=200 + r, parent=0, name="stream:started", kind="event",
                              start=s + 100, end=s + 100, run="x"))
        return {"passes": [{"wall": w, "items": 100,
                            "calls": [{"name": "round", "wall": w}]} for w in (2.0, 3.0, 4.0)],
                "counters": {"spark.exec.task_s": 9.0, "spark.driver.jobs": 3.0},
                "job_task_s": {}, "timed_window": [0, 9000], "spans": spans, "cores": 4,
                "host": {"other_cores": 0.0, "steal_cores": 0.0},
                "describe": {"compact_every": 3, "docs": 600}}

    def test_ingest_layers(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "x.parquet"), "wb") as fh:
                fh.write(b"x" * 600)
            out = run.per_layer(self.raw(), [d])
        self.assertEqual(set(out), set(run.PER_LAYER))
        self.assertAlmostEqual(out["streaming.batch_s.p50"], 3.0)
        self.assertAlmostEqual(out["streaming.start_s"], 0.1)
        self.assertAlmostEqual(out["sinks.compaction_s"], 4.0 - 2.5)
        # 600 bytes over the 600 docs of all six rounds, set-up ones included
        self.assertAlmostEqual(out["sinks.store_bytes_per_doc"], 1.0)
        self.assertAlmostEqual(out["spark.driver.gap_s"], 1.0)  # 3 s of gaps over 3 rounds
        self.assertAlmostEqual(out["spark.exec.busy_frac"], 9.0 / (9.0 * 4))
        self.assertAlmostEqual(out["spark.driver.jobs"], 1.0)
        self.assertAlmostEqual(out["spark.driver.accounted_frac"], 1.0)


class CheckOutputsTest(unittest.TestCase):
    """check_outputs() against references recorded for seed 7."""

    GOLDEN = {"ingest_drops": {"7": {"corpus@8": {"rows": 10, "hash": "1"}}}}

    def wrong(self, checks, seed=7):
        saved = run.load_golden
        run.load_golden = lambda: self.GOLDEN
        try:
            return run.check_outputs("ingest_drops", seed, {"checks": checks})
        finally:
            run.load_golden = saved

    def check(self, name, rows=10, h="1", ok=True):
        return {"name": name, "rows": rows, "hash": h,
                "invariants": [{"name": "inv", "ok": ok}]}

    def test_matching_output(self):
        self.assertEqual(self.wrong([self.check("corpus@8")]), 0)

    def test_output_without_a_reference_is_wrong(self):
        # e.g. a run that ended after another number of rounds
        self.assertEqual(self.wrong([self.check("corpus@10")]), 1)

    def test_mismatches(self):
        self.assertEqual(self.wrong([self.check("corpus@8", rows=11)]), 1)
        self.assertEqual(self.wrong([self.check("corpus@8", h="2")]), 1)
        self.assertEqual(self.wrong([self.check("corpus@8", ok=False)]), 1)

    def test_repeated_checks_must_agree(self):
        self.assertEqual(self.wrong([self.check("x"), self.check("x", h="2")], seed=8), 1)
        self.assertEqual(self.wrong([self.check("x"), self.check("x")], seed=8), 0)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_match_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["unit"] for m in bench["end_to_end"]], list(run.END_TO_END.values()))
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(run.PER_LAYER))
        self.assertEqual([m["unit"] for m in bench["per_layer"]],
                         [run.layer_unit(n) for n in run.PER_LAYER])
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
