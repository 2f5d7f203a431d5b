"""Tests of the benchmark's own logic (not of the engine).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import compare  # noqa: E402
import run  # noqa: E402
from pb import inputs, layers, oracle, stats  # noqa: E402

SMALL = os.path.join(BENCH, "data", "sf0.001")
DOCS_ONLY = os.path.join(BENCH, "data", "sf0.1")


def rows(path):
    return duckdb.connect().execute(f"SELECT * FROM read_parquet('{path}')").fetchall()


def distinct(path, col):
    return {v for (v,) in duckdb.connect().execute(
        f"SELECT DISTINCT {col} FROM read_parquet('{path}')").fetchall()}


class SeedDerivation(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        d = cls.tmp.name
        cls.a = inputs.derive(SMALL, os.path.join(d, "a"), 7)
        cls.b = inputs.derive(SMALL, os.path.join(d, "b"), 7)
        cls.c = inputs.derive(SMALL, os.path.join(d, "c"), 8)
        cls.zero = inputs.derive(SMALL, os.path.join(d, "zero"), 0)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_tables(self):
        for t in inputs.tables(SMALL):
            self.assertEqual(rows(f"{self.a}/{t}.parquet"), rows(f"{self.b}/{t}.parquet"), t)

    def test_other_seed_other_tables(self):
        self.assertNotEqual(rows(f"{self.a}/lineitem.parquet"), rows(f"{self.c}/lineitem.parquet"))

    def test_seed_zero_is_the_committed_tables(self):
        for t in inputs.tables(SMALL):
            self.assertEqual(rows(f"{SMALL}/{t}.parquet"), rows(f"{self.zero}/{t}.parquet"), t)

    def test_every_key_keeps_its_values_and_range(self):
        # the permutation runs over the key's values in all its tables
        # together, so that set (and its min and max) is what is kept
        for key, cols in inputs.KEYS.items():
            src = set().union(*(distinct(f"{SMALL}/{t}.parquet", c) for t, c in cols))
            got = set().union(*(distinct(f"{self.a}/{t}.parquet", c) for t, c in cols))
            self.assertEqual(src, got, key)
            self.assertEqual((min(src), max(src)), (min(got), max(got)), key)

    def test_keys_are_relabelled_consistently_across_tables(self):
        # every lineitem row still joins its order, and every supplier
        # still exists: the same permutation was applied in both tables
        con = duckdb.connect()
        orphans = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.a}/lineitem.parquet') l "
            f"ANTI JOIN read_parquet('{self.a}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
        ).fetchone()[0]
        self.assertEqual(orphans, 0)
        # row order and non-key columns are kept
        src = rows(f"{SMALL}/lineitem.parquet")
        got = rows(f"{self.a}/lineitem.parquet")
        self.assertEqual([r[3] for r in src], [r[3] for r in got])
        self.assertNotEqual([r[0] for r in src], [r[0] for r in got])

    def test_scale_factor_without_some_tables(self):
        # sf0.1 commits only the documents table: the other keys are skipped
        with tempfile.TemporaryDirectory() as d:
            got = inputs.derive(DOCS_ONLY, os.path.join(d, "docs"), 7)
            self.assertEqual(inputs.tables(got), ["documents"])
            self.assertEqual(distinct(f"{got}/documents.parquet", "doc_id"),
                             distinct(f"{DOCS_ONLY}/documents.parquet", "doc_id"))
            con = oracle.connect(got, "1GB")
            self.assertEqual(con.execute("SELECT count(*) FROM documents").fetchone()[0],
                             len(rows(f"{DOCS_ONLY}/documents.parquet")))

    def test_permutation_is_a_bijection(self):
        p = inputs.permutation(range(1, 101), 5, "k")
        self.assertEqual(sorted(p), list(range(1, 101)))
        self.assertEqual(sorted(p.values()), list(range(1, 101)))
        self.assertEqual(p, inputs.permutation(range(1, 101), 5, "k"))
        self.assertNotEqual(p, inputs.permutation(range(1, 101), 5, "other"))


class Stats(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = stats.quartiles(vals)
        self.assertEqual([q1, med, q3], statistics.quantiles(vals, n=4))
        self.assertEqual(med, statistics.median(vals))
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / med)

    def test_quartiles_by_hand(self):
        # exclusive method: positions (n+1)p -> 1.25, 2.5, 3.75 of 1..4
        self.assertEqual(stats.quartiles([1, 2, 3, 4]), (1.25, 2.5, 3.75))
        self.assertEqual(stats.quartiles([7]), (7, 7, 7))

    def test_win_fraction(self):
        base = [10, 10, 10, 10]
        change = [9, 11, 10, 8]
        self.assertEqual(stats.win_fraction(base, change, "lower"), 0.5)  # tie counts for neither
        self.assertEqual(stats.win_fraction(base, change, "higher"), 0.25)
        with self.assertRaises(ValueError):
            stats.win_fraction([1, 2], [1], "lower")

    def test_percentile_and_unions(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile(list(range(1, 11)), 90), 9)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.merge([(5, 6), (0, 2), (2, 3)]), [(0, 3), (5, 6)])
        self.assertEqual(stats.clip([(0, 10), (12, 15)], 5, 13), [(5, 10), (12, 13)])


class OutputCheck(unittest.TestCase):
    """A written result whose rows differ from the oracle is a failure."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.run_dir = self.tmp.name
        con = duckdb.connect()
        for p in ("p0/q_a", "p1/q_a"):
            os.makedirs(os.path.join(self.run_dir, "out", p))
            con.execute(f"COPY (SELECT range AS id, range * 2 AS v FROM range(100)) "
                        f"TO '{self.run_dir}/out/{p}/part-0.parquet' (FORMAT parquet)")
        self.expected = {"q_a": oracle.digest(
            # other column order, row order and integer width than the
            # written result: none of these is a difference
            oracle.connect(SMALL, "1GB"), "SELECT CAST(range * 2 AS HUGEINT) AS v, range AS id "
                                          "FROM range(100) ORDER BY id DESC")}
        us = [(0, 1_000_000, 2_000_000), (3_000_000, 4_000_000, 5_000_000)]
        self.res = {"passes": [{"pass": 0, "traced": False, "peak_rss_mb": 1.0},
                               {"pass": 1, "traced": False, "peak_rss_mb": 3.0}],
                    "first_timed_us": 0,
                    "runs": [{"query": "q_a", "pass": i, "ok": True, "path": f"p{i}/q_a",
                              "call_us": [a, b], "sink_us": [b, c]}
                             for i, (a, b, c) in enumerate(us)]}

    def tearDown(self):
        self.tmp.cleanup()

    def test_matching_output_passes(self):
        runs = run.check(self.res, self.expected, self.run_dir)
        self.assertTrue(all(r["matched"] for r in runs))
        self.assertEqual(run.end_to_end(self.res, 0, runs)["ok_ratio"], 1.0)

    def test_corrupted_output_counts_as_failed(self):
        duckdb.connect().execute(
            f"COPY (SELECT range AS id, CASE WHEN range = 42 THEN -1 ELSE range * 2 END AS v "
            f"FROM range(100)) TO '{self.run_dir}/out/p1/q_a/part-0.parquet' (FORMAT parquet)")
        runs = run.check(self.res, self.expected, self.run_dir)
        self.assertEqual([r["matched"] for r in runs], [True, False])
        e2e = run.end_to_end(self.res, 0, runs)
        self.assertEqual(e2e["ok_ratio"], 0.5)
        self.assertEqual(e2e["wall_s"], 2.0)
        self.assertEqual(e2e["peak_rss_mb"], 2.0)

    def test_traced_sink_rows_are_cross_checked(self):
        runs = run.check(self.res, self.expected, self.run_dir)
        self.res["trace"] = {"queries": [{"pass": 1, "query": "q_a", "sink_rows": 100}]}
        self.assertTrue(run.sink_rows_agree(self.res, runs))
        self.res["trace"]["queries"][0]["sink_rows"] = 99
        self.assertFalse(run.sink_rows_agree(self.res, runs))

    def test_query_that_threw_counts_as_failed(self):
        self.res["runs"][0]["ok"] = False
        runs = run.check(self.res, self.expected, self.run_dir)
        self.assertEqual([r["matched"] for r in runs], [False, True])

    def test_failed_oracle_fails_the_check(self):
        runs = run.check(self.res, {"q_a": {"error": "Out of Memory"}}, self.run_dir)
        self.assertFalse(any(r["matched"] for r in runs))


class Layers(unittest.TestCase):
    def test_outside_jobs_and_self_times(self):
        ms = 1000
        result = {
            "setup_jit_ms": 1500, "heap_peak_mb": 100.0,
            "passes": [{"pass": 0, "traced": False},
                       {"pass": 1, "traced": True, "start_us": 0, "end_us": 12e6},
                       {"pass": 2, "traced": False}],
            "runs": [{"query": "q", "pass": 0, "call_us": [0, 8 * ms * 1000], "sink_us": [8e6, 10e6]},
                     {"query": "q", "pass": 1, "call_us": [0, 9e6], "sink_us": [9e6, 11e6]},
                     {"query": "q", "pass": 2, "call_us": [0, 7e6], "sink_us": [7e6, 8e6]}],
            "trace": {
                "passes": 1, "gc_ms": 200,
                "queries": [{"pass": 1, "query": "q", "call_us": [0, 9e6], "sink_us": [9e6, 11e6],
                             "analysis_ms": 10, "optimization_ms": 20, "planning_ms": 30,
                             "sink_rows": 5, "sink_bytes": 2 * 1024 * 1024,
                             "ckpt_written_bytes": 0, "ckpt_peak_bytes": 0, "live_blocks_end": 1}],
                # two overlapping jobs in the call (1-4 s, 3-5 s), one in the sink (9.5-10.5 s)
                "jobs": [{"id": 0, "group": "1:q", "start_ms": 1000, "end_ms": 4000},
                         {"id": 1, "group": "1:q", "start_ms": 3000, "end_ms": 5000},
                         {"id": 2, "group": "1:q", "start_ms": 9500, "end_ms": 10500}],
                "stages": [{"id": 0, "job": 0, "start_ms": 1500, "end_ms": 3500, "tasks": 4,
                            "run_ms": 6000, "cpu_ns": 5e9, "gc_ms": 100,
                            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
                            "spill_bytes": 0, "input_bytes": 1024 * 1024}],
            },
        }
        m = layers.reduce(result)
        self.assertAlmostEqual(m["driver.outside_jobs_s"], 11 - 5)  # 4 s + 1 s in jobs
        self.assertAlmostEqual(m["self.call_s"], 9 - 4)
        self.assertAlmostEqual(m["self.sink_s"], 2 - 1)
        self.assertAlmostEqual(m["self.run_s"], 1)
        self.assertAlmostEqual(m["self.job_s"], 5 - 2)
        self.assertAlmostEqual(m["self.stage_s"], 2)
        self.assertEqual(sorted([m["driver.gap_p50_ms"], m["driver.gap_p90_ms"]]), [1000, 4500])
        # the traced pass against the untraced ones on both sides of it
        self.assertAlmostEqual(m["trace.overhead_ratio"], 11 / ((10 + 8) / 2))
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual(m["sink.output_mb"], 2)
        self.assertEqual(set(m) - {"dedup.candidates", "dedup.verified_ratio"},
                         set(layers.UNITS) - {"dedup.candidates", "dedup.verified_ratio"})


def result_set(walls, cpus=4, heap=7168, scratch="env:/x", workload="w", failed=()):
    return [{"workload": workload, "seed": i, "cpus": cpus, "max_heap_mb": heap,
             "scratch": scratch, "attempted": 3, "failed": 1 if i in failed else 0,
             "end_to_end": {"wall_s": w}} for i, w in enumerate(walls)]


class Compare(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1}]}

    def test_refuses_sets_that_differ_in_width_heap_scratch_or_seeds(self):
        base = result_set([10] * 4)
        self.assertEqual(compare.comparable(base, result_set([10] * 4, scratch="env:/y")), [])
        for other in (result_set([10] * 4, cpus=8), result_set([10] * 4, heap=2048),
                      result_set([10] * 4, scratch="tmpfs:/dev/shm"), result_set([10] * 5)):
            self.assertTrue(compare.comparable(base, other))
        self.assertTrue(compare.comparable(base + result_set([10], cpus=8), base))

    def test_verdicts(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
        faster = [b * 0.8 for b in base]
        self.assertEqual(compare.verdict(base, faster, "lower", 0.1), "gain")
        self.assertEqual(compare.verdict(base, [b * 1.2 for b in base], "lower", 0.1), "regression")
        self.assertEqual(compare.verdict(base, list(base), "lower", 0.1), "no change")
        noisy = [5, 15, 8, 12, 10, 6, 14, 9, 11, 10]
        self.assertEqual(compare.verdict(base, noisy, "lower", 0.1), "unresolved")
        self.assertEqual(compare.verdict(noisy, [4] * 10, "lower", 0.1), "gain (every run)")

    def test_a_failed_change_run_is_a_regression_whatever_the_medians(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
        faster = [b * 0.5 for b in base]
        self.assertEqual(compare.rows(result_set(base), result_set(faster), self.SPEC)[0]["verdict"],
                         "gain")
        # one seed of ten fails its oracle check: the medians do not see it
        rows = compare.rows(result_set(base), result_set(faster, failed={3}), self.SPEC)
        self.assertEqual(rows[0]["failed"], 1)
        self.assertEqual(rows[0]["verdict"], "regression (failures)")
        # failures on the base side alone do not make the change a regression
        rows = compare.rows(result_set(base, failed={3}), result_set(base), self.SPEC)
        self.assertEqual(rows[0]["verdict"], "no change")

    def test_rows_pair_runs_by_seed(self):
        rows = compare.rows(result_set([10, 20, 30]), result_set([9, 21, 29]), self.SPEC)
        self.assertEqual(len(rows), 1)
        self.assertAlmostEqual(rows[0]["win"], 2 / 3)
        self.assertEqual(rows[0]["base"][1], 20)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_reports(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(layers.UNITS))
        for m in spec["end_to_end"] + spec["per_layer"]:
            units = run.END_TO_END if m in spec["end_to_end"] else layers.UNITS
            self.assertEqual(units[m["name"]], m["unit"])

    def test_missing_engine_sources_fail_fast(self):
        with tempfile.TemporaryDirectory() as d:
            # the benchmark's own files only, without the engine beside them
            shutil.copytree(BENCH, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns(
                ".cache", "target", "__pycache__", "data"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dedup_sf0.1",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
