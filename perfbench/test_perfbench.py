"""Tests of the benchmark's own rules. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test builds the program and runs one short pipeline_dag run
with an injected fault (about a minute on a 4-core machine)."""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def span(id, parent, start, end, name="s"):
    return {"id": id, "name": name, "parent": parent, "pass": 0, "start_ns": start * 10**9, "end_ns": end * 10**9}


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_at_least_ten_samples_beyond(self):
        for n in (11, 20, 57, 100, 1000):
            xs = [float(i) for i in range(n)][::-1]
            t = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)
            self.assertEqual(t["n"], n)
            self.assertAlmostEqual(t["pct"], 100.0 * (n - 10) / n)

    def test_p90_of_hundred(self):
        t = metrics.tail([float(i) for i in range(1, 101)])
        self.assertEqual((t["value"], t["pct"]), (90.0, 90.0))


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 2, 5), span(4, 1, 7, 8),
                 span(5, 3, 2, 4)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - 4 - 1)  # children cover [1,5) and [7,8)
        self.assertAlmostEqual(st[3], 3 - 2)       # grandchild covers [2,4)
        self.assertAlmostEqual(st[2], 2)

    def test_child_clipped_to_parent(self):
        st = metrics.self_times([span(1, 0, 0, 4), span(2, 1, 3, 9)])
        self.assertAlmostEqual(st[1], 3)

    def test_mean_by_name(self):
        spans = [span(1, 0, 0, 4, "a"), span(2, 0, 4, 6, "a"), span(3, 2, 4, 5, "b")]
        self.assertEqual(metrics.mean_self_by_name(spans), {"a": 2.5, "b": 1.0})


class GeneratorTest(unittest.TestCase):
    def generate(self, fn, seed):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        d = tmp.name
        fn(seed, d)
        return d, {n: Path(d, n).read_bytes() for n in sorted(os.listdir(d))}

    def test_same_seed_same_bytes(self):
        for fn in (gen.pipeline_dag, gen.query_mix):
            _, a = self.generate(fn, 5)
            _, b = self.generate(fn, 5)
            _, c = self.generate(fn, 6)
            self.assertEqual(a, b, fn.__name__)
            self.assertNotEqual(a, c, fn.__name__)

    def test_pipeline_videos_are_skewed_and_ordered(self):
        d, _ = self.generate(gen.pipeline_dag, 9)
        t = pq.read_table(f"{d}/events.parquet").to_pandas()
        self.assertEqual(list(t.columns), ["event_id", "ts", "user_id", "event_type", "value", "props"])
        lens = t.groupby("user_id").size()
        self.assertGreaterEqual(lens.min(), gen.MIN_LEN)
        self.assertLessEqual(lens.max(), gen.MAX_LEN)
        self.assertGreater(lens.max(), 4 * lens.median())
        # one frame per ts within a video: the (ts, event_id) order is the frame order
        self.assertFalse(t.duplicated(["user_id", "ts"]).any())
        self.assertLess(t["user_id"].max(), 4294)


class OkRatioTest(unittest.TestCase):
    passes = [{"wall_s": 2.0, "items": 2, "host": {"cpu_s": 4.0}, "ops": [
        {"name": "q01", "secs": 1.0, "error": None, "rows": 3},
        {"name": "q20", "secs": 1.0, "error": None, "rows": 3}]},
        {"wall_s": 3.0, "items": 2, "host": {"cpu_s": 6.0}, "ops": [
            {"name": "q01", "secs": 2.0, "error": "hash differs", "rows": 3},
            {"name": "q20", "secs": 1.0, "error": None, "rows": 3}]}]

    def test_failed_op_keeps_its_time(self):
        ops = metrics.judge(self.passes, {})
        e2e = metrics.end_to_end(self.passes, ops, 1.0, 100.0)
        self.assertEqual(e2e["ok_ratio"][0], 0.75)
        self.assertEqual(e2e["wall_s"][0], 2.5)
        self.assertEqual(e2e["items_per_s"][0], 4 / 5.0)

    def test_oracle_failure_fails_every_op_of_that_name(self):
        ops = metrics.judge(self.passes, {"q20": "oracle: rows 2 != 3"})
        self.assertEqual([o["name"] for o in ops if o["error"]], ["q20", "q01", "q20"])
        self.assertEqual(metrics.end_to_end(self.passes, ops, 1.0, 1.0)["ok_ratio"][0], 0.25)


class BenchmarkFileTest(unittest.TestCase):
    def test_per_layer_matches_run(self):
        spec = json.loads(Path(HERE, "..", "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class InjectedFaultTest(unittest.TestCase):
    def test_fault_lowers_ok_ratio_and_names_the_op(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "pipeline_dag",
                            "--seed", "3", "--seconds", "1", "--trace", "0", "--fault", "q44"],
                           capture_output=True, text=True, cwd=os.path.join(HERE, ".."), timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertLess(out["metrics"]["ok_ratio"]["value"], 1.0)
        self.assertTrue(any(ln.startswith("FAILED op q44: injected fault") for ln in lines))


if __name__ == "__main__":
    unittest.main()
