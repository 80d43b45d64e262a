"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The JVM test needs the harness built (any earlier perfbench/run.py run
builds it); without a build it is skipped.
"""
import json
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def fake_result(**over):
    res = {"setup_reps_s": [9.0, 5.0, 5.5], "setup_median_s": 5.5, "wall_s": 2.0, "cpu_s": 4.0, "rss_peak_mb": 3000.0,
           "attempted": 10, "failed": 0, "checks": [], "layers": {"spark.jobs": 12.0}}
    res.update(over)
    return res


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, seed, **kw):
        return gen.generate(os.path.join(self.tmp, name), seed, scale=0.02, **kw)

    def test_same_seed_same_digest_other_seed_other_digest(self):
        for seed in (1, 2, 3):
            self.assertEqual(self.gen(f"a{seed}", seed), self.gen(f"b{seed}", seed))
        self.assertEqual(len({self.gen(f"c{s}", s) for s in (1, 2, 3)}), 3)

    def test_deliveries_cover_the_feed_and_repeat_per_seed(self):
        def layout(name):
            self.gen(name, 7, only=("events", "customer"), with_deliveries=True)
            root = os.path.join(self.tmp, name, "deliveries")
            files = sorted(os.path.relpath(os.path.join(d, f), root)
                           for d, _, fs in os.walk(root) for f in fs)
            ids = set()
            for f in files:
                ids.update(pq.read_table(os.path.join(root, f))["event_id"].to_pylist())
            return files, ids
        files, ids = layout("x")
        self.assertEqual((files, ids), layout("y"))
        events = pq.read_table(os.path.join(self.tmp, "x", "events.parquet"))
        self.assertEqual(ids, set(events["event_id"].to_pylist()))
        self.assertTrue(any("redelivered" in f for f in files))


class ResultLineTest(unittest.TestCase):

    def test_every_end_to_end_metric_has_its_unit(self):
        line = run.score(fake_result(), "", 1.0, trace=0)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in metrics.END_TO_END})
        for m in metrics.END_TO_END:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(line["metrics"]["setup_s"]["value"], 6.5)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})

    def test_every_per_layer_metric_has_its_unit(self):
        line = run.score(fake_result(), "", 1.0, trace=1)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in metrics.PER_LAYER})
        for m in metrics.PER_LAYER:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(line["metrics"]["spark.jobs"]["value"], 12.0)
        self.assertEqual(line["metrics"]["spark.process_cpu_s"]["value"], 4.0)
        self.assertEqual(line["metrics"]["setup.cold_s"]["value"], 9.0)

    def test_a_failed_unit_is_counted(self):
        line = run.score(fake_result(failed=1), "", 1.0, trace=0)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (10, 1, False))

    def test_a_corrupted_output_is_caught(self):
        tmp = tempfile.mkdtemp()
        try:
            pq.write_table(pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}),
                           os.path.join(tmp, "events.parquet"))
            sql = os.path.join(tmp, "q.sql")
            with open(sql, "w") as f:
                f.write("SELECT k, v * 2 AS w FROM events")
            out = os.path.join(tmp, "out.parquet")
            check = {"name": "q", "ok": None, "detail": "", "path": out, "sql_path": sql}
            pq.write_table(pa.table({"k": [3, 1, 2], "w": [60, 20, 40]}), out)
            good = run.score(fake_result(checks=[check]), tmp, 1.0, trace=0)
            self.assertEqual((good["attempted"], good["failed"], good["correct"]), (11, 0, True))
            pq.write_table(pa.table({"k": [3, 1, 2], "w": [60, 20, 41]}), out)
            bad = run.score(fake_result(checks=[check]), tmp, 1.0, trace=0)
            self.assertEqual((bad["failed"], bad["correct"]), (1, False))
        finally:
            shutil.rmtree(tmp)

    def test_benchmark_json_matches_the_metric_lists(self):
        path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual(spec["end_to_end"], metrics.END_TO_END)
        self.assertEqual(spec["per_layer"], metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


@unittest.skipUnless(os.path.exists(os.path.join(run.WORK, "classpath.json")),
                     "harness not built; run perfbench/run.py once")
class JvmTest(unittest.TestCase):
    """One small traced curation run with a row that does not exist."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(run.WORK, "classpath.json")) as f:
            classpath = json.load(f)["classpath"]
        cls.tmp = tempfile.mkdtemp(dir=run.WORK)
        data = os.path.join(cls.tmp, "data")
        gen.generate(data, 3, scale=0.05)
        cls.spans = os.path.join(cls.tmp, "spans.jsonl")
        cls.res = run.run_jvm(
            classpath, "curation_mix", data, os.path.join(cls.tmp, "run"), 0, 1, cls.spans,
            time.monotonic() + 170,
            args=["--rows", "doc_pack,no_such_row"])
        cls.line = run.score(cls.res, data, 0.0, trace=1)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_the_failing_row_counts_in_every_pass_and_its_check(self):
        # 3 passes x 2 rows, plus the two warm-up checks
        self.assertEqual(self.line["attempted"], 8)
        self.assertEqual(self.line["failed"], 4)
        self.assertFalse(self.line["correct"])

    def test_spans_nest_and_self_time_is_not_negative(self):
        with open(self.spans) as f:
            spans = [json.loads(l) for l in f]
        by_id = {s["id"]: s for s in spans}
        roots = [s for s in spans if s["parent"] == -1]
        self.assertEqual([s["name"] for s in roots], ["curation_mix.pass"] * 3)
        for s in spans:
            self.assertGreaterEqual(s["self_s"], 0)
            self.assertLessEqual(s["self_s"], (s["end_us"] - s["start_us"]) / 1e6 + 1e-9)
            if s["parent"] != -1:
                p = by_id[s["parent"]]
                self.assertLess(p["id"], s["id"])
                self.assertGreaterEqual(s["start_us"], p["start_us"])
                self.assertLessEqual(s["end_us"], p["end_us"])
        doc_pack = [s for s in spans if s["name"] == "registry.doc_pack"]
        self.assertEqual(len(doc_pack), 3)
        self.assertTrue(all(s["counters"].get("jobs", 0) > 0 for s in doc_pack))
        self.assertGreater(self.line["metrics"]["registry.doc_pack.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
