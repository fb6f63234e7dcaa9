"""Tests for the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen      # noqa: E402
import oracle   # noqa: E402
import run      # noqa: E402
import layers   # noqa: E402


def scratch():
    base = os.path.join(os.path.dirname(BENCH), ".bench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


class SeededInputs(unittest.TestCase):

    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def landing(self, seed, name):
        out = os.path.join(self.dir, name)
        gen.medallion_inputs(seed, out, backfill_polls=2, cycle_polls=1)
        return out

    def files(self, root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_gives_byte_identical_landing_files(self):
        a, b = self.landing(7, "a"), self.landing(7, "b")
        names = self.files(a)
        self.assertEqual(len(names), 3)
        self.assertEqual(names, self.files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def contents(self, root):
        out = []
        for name in self.files(root):
            with open(os.path.join(root, name), "rb") as f:
                out.append(f.read())
        return out

    def test_other_seed_gives_other_landing_files(self):
        a, b = self.landing(7, "a"), self.landing(8, "b")
        self.assertEqual(len(self.files(b)), 3)
        self.assertTrue(set(self.contents(a)).isdisjoint(self.contents(b)))

    def test_polls_have_the_coincap_shape(self):
        import json
        src = gen.PollSource(3)
        ts, text = src.next_poll()
        doc = json.loads(text)
        self.assertEqual(doc["timestamp"], ts)
        assets = doc["data"]
        self.assertEqual(len(assets), 2000)
        self.assertTrue(any(a["maxSupply"] is None for a in assets))
        self.assertTrue(any(a["changePercent24Hr"] is None for a in assets))
        self.assertLess(len({a["symbol"] for a in assets}), 2000)
        self.assertTrue(any(a["tokens"] for a in assets))
        self.assertEqual(len(assets[0]["priceUsd"].split(".")[1]), 16)

    def test_query_order_is_seeded(self):
        names = ["a", "b", "c", "d", "e"]
        self.assertEqual(gen.query_order(1, names, 3), gen.query_order(1, names, 3))
        self.assertNotEqual(gen.query_order(1, names, 3), gen.query_order(2, names, 3))
        for p in gen.query_order(1, names, 3):
            self.assertEqual(sorted(p), names)

    def test_every_seed_plants_the_same_near_duplicates(self):
        for seed in (1, 2):
            docs = gen.star_tables(seed, 0.01)["documents"].column("text").to_pylist()
            texts = set(docs)
            near = [t for t in docs if t.endswith(" dup") and t[:-4] in texts]
            self.assertEqual(len(docs), 500)
            self.assertEqual(len(near), 24)               # 4.8% of 500


class TailRule(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        p, v, n = run.tail(range(1, 101))
        self.assertEqual((p, v, n), (90, 90, 100))    # 10 samples above 90

    def test_small_sample_moves_the_percentile_down(self):
        p, v, _ = run.tail(range(1, 39))              # 38 samples
        self.assertEqual(p, 73)                       # rank 28, 10 beyond
        self.assertEqual(v, 28)

    def test_fewer_than_21_samples_report_the_slowest(self):
        p, v, n = run.tail([5, 1, 3, 2, 4])
        self.assertEqual((p, v, n), (100, 5, 5))
        self.assertEqual(run.tail(range(1, 21))[0], 100)   # 20: none qualifies
        self.assertEqual(run.tail(range(1, 22))[:2], (52, 11))


class WorkPerRun(unittest.TestCase):

    def test_work_depends_on_seconds_only(self):
        self.assertEqual(run.work_units("medallion", 36, False), 9)
        self.assertEqual(run.work_units("query_tail", 1, False), 1)
        self.assertEqual(run.work_units("query_tail", 1, True), 2)


class SelfTime(unittest.TestCase):

    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_us": start, "end_us": end}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(0, -1, 0, 10_000_000),
                 self.span(1, 0, 1_000_000, 4_000_000),
                 self.span(2, 0, 3_000_000, 6_000_000),    # overlaps span 1
                 self.span(3, 2, 3_000_000, 4_000_000)]
        selfs = layers.self_times(spans)
        self.assertAlmostEqual(selfs[0], 5.0)   # 10 − union(1..6)
        self.assertAlmostEqual(selfs[1], 3.0)
        self.assertAlmostEqual(selfs[2], 2.0)
        self.assertAlmostEqual(selfs[3], 1.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, 0, 2_000_000), self.span(1, 0, 1_000_000, 5_000_000)]
        self.assertAlmostEqual(layers.self_times(spans)[0], 1.0)


class Attribution(unittest.TestCase):

    def setUp(self):
        self.src = os.path.join(os.path.dirname(BENCH), "src", "main", "scala")
        self.modules = layers.file_modules(self.src)

    def test_call_site_file_maps_to_its_module(self):
        m = self.modules
        self.assertEqual(layers.module_of("parquet at Sinks.scala:97", m), "sources")
        self.assertEqual(layers.module_of("head at GoldAnalytics.scala:81", m), "analytics")
        self.assertEqual(layers.module_of("count at Pipeline.scala:34", m), "graft")
        self.assertEqual(layers.module_of("collect at TopK.scala:12", m), "operators")
        self.assertEqual(layers.module_of("collect at Harness.scala:98", m), "benchmark")
        self.assertEqual(layers.module_of(
            "$anonfun$run$1 at CompletableFuture.java:1768", m), "other")
        self.assertEqual(layers.module_of("", m), "other")

    def test_threaded_jobs_take_their_sql_execution_call_site(self):
        execs = {5: {"exec": 5, "root": 5, "call_site": "parquet at Sinks.scala:97"},
                 6: {"exec": 6, "root": 5, "call_site": "run at ThreadPoolExecutor.java:1"}}
        job = {"call_site": "$anonfun at CompletableFuture.java:1768", "exec": 6}
        self.assertEqual(layers.job_call_site(job, execs, self.modules),
                         "parquet at Sinks.scala:97")
        own = {"call_site": "count at Pipeline.scala:34", "exec": 6}
        self.assertEqual(layers.job_call_site(own, execs, self.modules),
                         "count at Pipeline.scala:34")


class MedallionOracle(unittest.TestCase):

    def test_spark_round_is_half_up_on_the_decimal_string(self):
        self.assertEqual(oracle.spark_round(2.5, 0), 3.0)
        self.assertEqual(oracle.spark_round(-2.5, 0), -3.0)
        self.assertEqual(oracle.spark_round(0.125, 2), 0.13)   # binary 0.125 is exact
        self.assertEqual(oracle.spark_round(1.005, 2), 1.01)   # decimal string, not binary
        self.assertIsNone(oracle.spark_round(None, 4))

    def test_rows_compare_as_multisets(self):
        a = [{"id": "x", "v": 1.0}, {"id": "y", "v": 2.0}]
        self.assertIsNone(oracle.compare_rows(list(reversed(a)), a))
        self.assertIsNotNone(oracle.compare_rows([{"id": "x", "v": 1.0}] * 2, a))
        self.assertIsNotNone(oracle.compare_rows(a[:1], a))

    def test_percent_of_total_may_differ_by_one_unit_only(self):
        want = [{"percent_market_cap": 0.1235}]
        self.assertIsNone(oracle.compare_rows([{"percent_market_cap": 0.1234}], want))
        self.assertIsNotNone(oracle.compare_rows([{"percent_market_cap": 0.1233}], want))


if __name__ == "__main__":
    unittest.main()
