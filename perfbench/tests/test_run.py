"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The smoke tests build and run the Scala driver on tiny inputs (a minute or
two each); they skip when `java` or `sbt` is not on PATH.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        v, p = run.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median_needs_twenty_samples(self):
        self.assertEqual(run.tail(list(range(20)))[1], 50.0)
        # 19 samples: even the median has only 9 beyond it
        self.assertEqual(run.tail(list(range(19))), (18, 100.0))

    def test_no_samples(self):
        self.assertEqual(run.tail([]), (0.0, 0.0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(run.percentile([7], 99.9), 7)


class WorkUnits(unittest.TestCase):
    @staticmethod
    def op(kind, cpu, name="q", wall=1.0):
        return {"name": name, "kind": kind, "ok": True, "wall_s": wall,
                "cpu_s": cpu, "task_s": cpu, "busy_s": wall, "shuffle_read": 0,
                "shuffle_write": 0, "spill": 0, "input": 0, "output": 0}

    def test_deep_work_is_resume_rounds(self):
        raw = {"ops": [self.op("aside", 9.0), self.op("round", 2.0),
                       self.op("round", 3.0), self.op("lookup", 0.5)]}
        self.assertEqual([u["cpu_s"] for u in run.work_units(raw, "crawl_deep")],
                         [2.0, 3.0])

    def test_cold_pass_is_not_work(self):
        raw = {"ops": [self.op("cold", 5.0, "a"), self.op("cold", 6.0, "b"),
                       self.op("warm.1", 1.0, "a"), self.op("warm.1", 2.0, "b"),
                       self.op("warm.2", 1.5, "a"), self.op("warm.2", 2.5, "b")]}
        units = run.work_units(raw, "query_block")
        self.assertEqual(sorted(u["cpu_s"] for u in units), [3.0, 4.0])
        self.assertEqual(run.end_to_end(
            dict(raw, peak_rss_kb=1024, setup_s=[9.0, 1.0, 2.0]),
            "query_block"), {"work_cpu_s": 3.5, "peak_rss_mb": 1.0, "setup_s": 2.0})


class InodeUniqueBytes(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.root)

    def write(self, rel, size):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(b"x" * size)
        return path

    def test_hard_links_count_once_and_walk_recurses(self):
        a = self.write("bloom/r0/part-0", 1000)
        os.makedirs(os.path.join(self.root, "bloom", "r1"))
        os.link(a, os.path.join(self.root, "bloom", "r1", "part-0"))
        self.write("bloom/r1/deep/er/part-1", 10)
        os.symlink(a, os.path.join(self.root, "bloom", "link"))
        self.assertEqual(run.tree_bytes(self.root), 1010)

    def test_disk_usage_per_state_kind(self):
        a = self.write("frontier/a-init/f", 100)
        self.write("frontier_rem/r1/f", 20)
        os.makedirs(os.path.join(self.root, "frontier_keys"))
        os.link(a, os.path.join(self.root, "frontier_keys", "same-inode"))
        self.write("seen/d/f", 7)
        self.write("meta/v0.json", 3)
        d = run.disk_usage(self.root)
        self.assertEqual(d["total"], 130)
        self.assertEqual(d["frontier"], 120)
        self.assertEqual(d["keys"], 100)  # its own kind counts the shared inode
        self.assertEqual(d["seen"], 7)
        self.assertEqual(d["bloom"], 0)


@unittest.skipUnless(shutil.which("java") and shutil.which("sbt"),
                     "needs java and sbt")
class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=os.path.dirname(BENCH), capture_output=True, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check(self, workload, trace):
        out = self.run_bench(workload, trace)
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), names)
        return out["metrics"]

    def test_crawl_deep_end_to_end(self):
        m = self.check("crawl_deep", 0)
        self.assertGreater(m["work_cpu_s"]["value"], 0)

    def test_query_block_per_layer(self):
        m = self.check("query_block", 1)
        self.assertGreater(m["query.q1_agg.wall_s"]["value"], 0)
        self.assertAlmostEqual(m["trace.cpu_coverage"]["value"], 1.0, delta=0.05)


if __name__ == "__main__":
    unittest.main()
