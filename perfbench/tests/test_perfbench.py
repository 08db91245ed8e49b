"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

They need no build; the client's thread and connection cap is tested on
the JVM side (`cd perfbench && sbt test`).
"""
import filecmp
import glob
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_tpch  # noqa: E402
import gen_who  # noqa: E402
import run  # noqa: E402


def same_files(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratedInputs(unittest.TestCase):
    def test_who_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as t:
            for d, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen_who.generate(os.path.join(t, d), seed)
            self.assertTrue(same_files(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(filecmp.cmp(
                os.path.join(t, "a", "WHO-COVID-19-global-data.csv"),
                os.path.join(t, "c", "WHO-COVID-19-global-data.csv"), shallow=False))

    def test_tpch_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as t:
            for d, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen_tpch.generate(os.path.join(t, d), seed, 0.001)
            self.assertTrue(same_files(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(filecmp.cmp(os.path.join(t, "a", "lineitem.parquet"),
                                         os.path.join(t, "c", "lineitem.parquet"),
                                         shallow=False))

    def test_who_shape(self):
        with tempfile.TemporaryDirectory() as t:
            exp = gen_who.generate(t, 3)
            with open(os.path.join(t, "WHO-COVID-19-global-data.csv"), encoding="utf-8") as f:
                lines = f.read().splitlines()
            self.assertEqual(lines[0], ",".join(gen_who.WHO_HEADER))
            self.assertEqual(len(lines) - 1, 240 * 261)
            blank = sum(1 for ln in lines[1:] if re.search(r",,\d+,", ln))
            self.assertAlmostEqual(blank / (len(lines) - 1), 0.27, delta=0.02)
            self.assertEqual(exp["weekly_rows"], 240 * 261)
            with open(os.path.join(t, "vaccination-data.csv"), encoding="utf-8") as f:
                vacc = f.read()
            self.assertRegex(vacc, r",\d\.\d+E\d+,")  # scientific notation


class Checks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.exp = gen_who.generate(cls.tmp.name, 9)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_right_answer_passes_wrong_answer_fails(self):
        right = json.dumps([{"total_weekly_cases": self.exp["total_cases"]}])
        wrong = json.dumps([{"total_weekly_cases": self.exp["total_cases"] + 1}])
        self.assertIsNone(checks.check_body("/api/total_cases", right, self.exp))
        dump = {"bodies": {"/api/total_cases": wrong}, "counts": {"/api/total_cases": 7}}
        self.assertEqual(len(checks.serve_bodies(dump, self.exp)), 7)

    def test_wrong_top5_and_page_fail(self):
        top = [{"country_name": n, "total_cases": v} for n, v in self.exp["top5_cases"]]
        deaths = [{"country_name": n, "total_deaths": v} for n, v in self.exp["top5_deaths"]]
        body = {"top5_cases": top, "top5_deaths": deaths}
        self.assertIsNone(checks.check_body("/api/top5_summary", json.dumps(body), self.exp))
        body["top5_cases"] = list(reversed(top))
        self.assertIsNotNone(checks.check_body("/api/top5_summary", json.dumps(body), self.exp))
        n = self.exp["weekly_rows"]
        rows = [dict(zip(["country", "date", "confirmed_cases", "deaths", "vaccinations"], r))
                for r in self.exp["page_rows"][:100]]
        page = {"page": 1, "limit": 100, "total_rows": n, "total_pages": -(-n // 100),
                "data": rows}
        path = "/api/weekly_statistics_total?page=1&limit=100"
        self.assertIsNone(checks.check_body(path, json.dumps(page), self.exp))
        rows[3]["deaths"] += 1
        self.assertIsNotNone(checks.check_body(path, json.dumps(page), self.exp))

    def test_wrong_suite_result_fails(self):
        import pandas as pd
        want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertIsNone(checks.compare_frames(want.iloc[::-1], want))
        self.assertIsNotNone(checks.compare_frames(
            pd.DataFrame({"k": [1, 2], "v": [0.5, 1.6]}), want))
        self.assertIsNotNone(checks.compare_frames(want.head(1), want))

    def test_failed_operations_are_counted(self):
        h = {"warmup": {"attempted": {"warmup": 3}, "failed": {"warmup": 1},
                        "failures": ["warmup: x"]},
             "load": {"attempted": {"read": 10, "health": 2}, "failed": {"read": 2},
                      "failures": ["read: y"]}}
        self.assertEqual(checks.attempted(h), 15)
        self.assertEqual(len(checks.op_failures(h)), 3)


class Metrics(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_every_end_to_end_metric_is_printed_with_its_unit(self):
        h = {"session_s": 1.0, "setup_s": [2.0, 3.0], "heap_live_mb": 80.0,
             "pass_s": [4.0],
             "load": {"elapsed_s": 10.0, "latencies_ms": {
                 "read": [1.0, 2.0, 3.0], "health": [0.5, 0.7], "write": [4.0, 5.0],
                 "query": [9.0, 8.0]}}}
        for w in self.spec["workloads"]:
            values, _ = run.end_to_end(run.WORKLOADS[w["name"]], h)
            printed = run.select(values, self.spec["end_to_end"])
            for m in self.spec["end_to_end"]:
                self.assertEqual(printed[m["name"]]["unit"], m["unit"])
                self.assertIsInstance(printed[m["name"]]["value"], float)

    def test_cycle_rate_takes_each_routes_median(self):
        # two routes, three cycles; the second cycle of route 0 is slow
        numbered = [[0, 100.0], [1, 300.0], [2, 100.0], [3, 300.0], [4, 900.0], [5, 300.0]]
        self.assertAlmostEqual(run.cycle_rate(numbered, 2), 2 / 0.4)
        h = {"session_s": 1.0, "setup_s": [2.0], "heap_live_mb": 80.0, "cycle": 2,
             "load": {"elapsed_s": 10.0, "numbered_ms": numbered,
                      "latencies_ms": {"read": [ms for _, ms in numbered]}}}
        values, _ = run.end_to_end(run.WORKLOADS["serve-read"], h)
        self.assertAlmostEqual(values["throughput_per_s"], 5.0)
        self.assertAlmostEqual(values["p50_ms"], 300.0)

    def test_every_per_layer_metric_is_produced_by_the_harness(self):
        src = "".join(open(f).read() for f in glob.glob(
            os.path.join(BENCH, "src", "main", "scala", "perfbench", "*.scala")))
        for m in self.spec["per_layer"]:
            # names are literal, or "$layer.<rest>" in the suite
            rest = m["name"].split(".", 1)[1]
            self.assertTrue(f'"{m["name"]}"' in src or f'$layer.{rest}"' in src,
                            m["name"])

    def test_a_missing_metric_is_an_error(self):
        with self.assertRaises(SystemExit):
            run.select({}, self.spec["end_to_end"])
        values = {m["name"]: 1.0 for m in self.spec["end_to_end"]}
        values["p50_ms"] = float("nan")  # a load with no successful reads
        with self.assertRaises(SystemExit):
            run.select(values, self.spec["end_to_end"])

    def test_workloads_match(self):
        self.assertTrue({w["name"] for w in self.spec["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
