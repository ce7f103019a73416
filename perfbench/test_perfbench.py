"""Tests of the benchmark's own code.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator-against-`AnalyzeQuery` test builds the program (once per
source state, like run.py) and runs the harness on a small log.
"""
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import gen_log  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402


def independent_tally(path):
    """The tally recomputed from the log text alone, as a reader that
    skips blank and malformed lines would see it."""
    t = dict(commits=0, selections=0, first_choice=0, top3=0, direct=0,
             rank_sum=0, recip_rank_sum=0.0, misses=0)
    freq = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            if e.get("event_type") != "text_committed":
                continue
            t["commits"] += 1
            r = e.get("selected_candidate_rank")
            if r is None:
                continue
            if r == -1:
                t["direct"] += 1
            elif r >= 0:
                t["selections"] += 1
                t["rank_sum"] += r
                t["recip_rank_sum"] += 1.0 / (r + 1)
                t["first_choice"] += r == 0
                t["top3"] += r < 3
                if r > 0:
                    t["misses"] += 1
                    w = e["committed_text"]
                    freq[w] = freq.get(w, 0) + 1
    t["max_miss_freq"] = max(freq.values())
    return t


class StatsTest(unittest.TestCase):
    def test_median_and_geomean(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.0]), 2.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(0, 10), 0.0)
        self.assertEqual(stats.failed_frac(3, 12), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)

    def test_quartile_spread(self):
        vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        # statistics.quantiles(n=4) gives 2.75 and 8.25 here
        self.assertAlmostEqual(stats.quartile_spread(vals), 5.5 / 5.5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2.0)
        self.assertEqual(stats.union_length([(3, 1)]), 0.0)

    def test_self_times(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
            {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
            # a child that outlives its parent only counts inside it
            {"id": 5, "parent": 3, "start": 5.0, "end": 7.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0)
        self.assertAlmostEqual(st[2], 3.0 - 0.5)
        self.assertAlmostEqual(st[3], 3.0 - 1.0)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertAlmostEqual(st[5], 2.0)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_log_is_seeded_and_tally_matches_the_text(self):
        a, b, c = (os.path.join(self.dir, n) for n in "abc")
        ta = gen_log.generate(5, 20_000, a)
        tb = gen_log.generate(5, 20_000, b)
        gen_log.generate(6, 20_000, c)
        with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
            da, db, dc = fa.read(), fb.read(), fc.read()
        self.assertEqual(da, db)
        self.assertNotEqual(da, dc)
        want = independent_tally(a)
        for k, v in want.items():
            if isinstance(v, float):
                self.assertTrue(math.isclose(ta[k], v, rel_tol=1e-12), k)
            else:
                self.assertEqual(ta[k], v, k)
        lines = da.decode("utf-8").split("\n")[:-1]
        self.assertEqual(len(lines), 20_000)
        self.assertGreater(sum(1 for ln in lines if not ln), 20)

    def test_tables_are_seeded_with_fixture_schemas(self):
        t1 = gen_tables.build_tables(3, 0.01)
        t2 = gen_tables.build_tables(3, 0.01)
        t3 = gen_tables.build_tables(4, 0.01)
        self.assertEqual(sorted(t1), sorted(gen_tables.TABLES))
        for name in gen_tables.TABLES:
            self.assertTrue(t1[name].equals(t2[name]), name)
        self.assertFalse(t1["lineitem"].equals(t3["lineitem"]))
        self.assertEqual(t1["lineitem"].num_rows, 60_000)
        self.assertEqual(str(t1["events"].schema.field("ts").type),
                         "timestamp[us]")
        self.assertEqual(str(t1["embeddings"].schema.field("embedding")
                             .type), "list<item: float>")


class CheckTest(unittest.TestCase):
    def test_expected_analysis_rates(self):
        t = dict(commits=10, selections=8, direct=2, first_choice=4, top3=6,
                 rank_sum=12, recip_rank_sum=5.0, misses=4, max_miss_freq=2)
        want = checks.expected_analysis(t)
        self.assertEqual(want["firstChoiceHitRate"], 0.5)
        self.assertEqual(want["averageRank"], 1.5)
        self.assertEqual(want["directInputRate"], 20.0)
        got = dict(want, top3Count=5)
        self.assertEqual(checks.analysis_diff(got, t), ["top3Count"])

    def test_csv_problem(self):
        d = tempfile.mkdtemp(prefix="perfbench-test-")
        try:
            path = os.path.join(d, "r.csv")
            body = ",".join(checks.HEADER) + "\nab,字,词,2,2\nab,字,词,1,2\n"
            with open(path, "wb") as f:
                f.write(checks.BOM + body.encode("utf-8"))
            tally = {"misses": 2, "max_miss_freq": 2}
            self.assertIsNone(checks.csv_problem(path, tally))
            self.assertIn("rows", checks.csv_problem(
                path, {"misses": 3, "max_miss_freq": 2}))
            with open(path, "wb") as f:
                f.write(body.encode("utf-8"))
            self.assertIn("BOM", checks.csv_problem(path, tally))
        finally:
            shutil.rmtree(d)

    def test_compare_flatten(self):
        rec = {"workload": "w", "trace": 0, "failed_frac": 0.0,
               "metrics": {"pass_s": {"value": 2.0, "unit": "s"}},
               "layers": {"family_pass_s": {"pipeline.Eval_s": 1.5}},
               "op_median_s": {"analyze": 0.5}}
        flat = compare.flatten(rec)
        self.assertEqual(flat["metrics/pass_s"], 2.0)
        self.assertEqual(flat["layers/family_pass_s.pipeline.Eval_s"], 1.5)
        self.assertEqual(flat["op_median_s/analyze"], 0.5)


class AnalyzeAgainstTallyTest(unittest.TestCase):
    """The generator's tally against the program's own `analyze` and
    `export-misses` on a small seeded log."""

    def test_harness_outputs_match_tally(self):
        import run
        cp = run.build()
        work = tempfile.mkdtemp(prefix="perfbench-test-",
                                dir=os.path.dirname(HERE))
        try:
            log = os.path.join(work, "log.jsonl")
            tally = gen_log.generate(11, 30_000, log)
            conf = {"workload": "cli", "seconds": 0, "trace": 1,
                    "cores": 2, "setups": 1, "warm": 1, "work": work, "log": log,
                    "out": os.path.join(work, "result.json")}
            result, rss = run.run_harness(cp, conf, work)
            self.assertEqual(checks.check_cli(result, tally), {})
            self.assertGreater(rss, 0)
            self.assertEqual(result["analyzed"][0]["totalCommits"],
                             tally["commits"])
            self.assertTrue(result["stages"])
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
