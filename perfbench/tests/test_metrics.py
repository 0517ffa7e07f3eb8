"""Self-tests of the benchmark's pure helpers and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests

The check-polarity tests at the bottom run the whole command and need a
JVM and the Spark jars; they are skipped unless PERFBENCH_E2E=1.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402
import run  # noqa: E402


def span(i, name, start, end, parent=-1, pass_=1):
    return {"id": i, "name": name, "start_us": start, "end_us": end,
            "parent": parent, "pass": pass_}


class Stats(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_median_rejects_empty(self):
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_quartiles_match_statistics_module(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        q1, q2, q3 = metrics.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(metrics.spread(xs), (q3 - q1) / q2)

    def test_spread_of_constant_is_zero(self):
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(metrics.union_length([(0, 1)], 5, 9), 0)

    def test_self_time_subtracts_children_once(self):
        parent = span(0, "pipeline.run", 0, 100)
        spans = [parent,
                 span(1, "pipeline.task.a", 10, 40, parent=0),
                 span(2, "pipeline.task.b", 30, 60, parent=0),
                 span(3, "ingest.extract", 12, 20, parent=1)]
        # children cover [10, 60) once; the grandchild does not count again
        self.assertEqual(metrics.self_time(parent, spans), 50)
        self.assertEqual(metrics.self_time(spans[1], spans), 22)

    def test_self_time_clips_children_outside_parent(self):
        parent = span(0, "pipeline.task.submit_job", 0, 10)
        job = span(1, "etl.json_to_parquet", 5, 500, parent=0)
        self.assertEqual(metrics.self_time(parent, [parent, job]), 5)

    def test_jobs_go_to_innermost_layer_span(self):
        spans = [span(0, "pass", 0, 1_000_000),
                 span(1, "pipeline.task.job_sensor", 200_000, 900_000, parent=0),
                 span(2, "etl.json_to_parquet", 100_000, 800_000, parent=0),
                 span(3, "graph.bfs", 850_000, 870_000, parent=1)]
        jobs = [{"submit_ms": 300}, {"submit_ms": 860}, {"submit_ms": 50},
                {"submit_ms": 2000}]
        got = {k: [j["submit_ms"] for j in v]
               for k, v in metrics.attribute(jobs, spans).items()}
        self.assertEqual(got, {2: [300], 3: [860], 0: [50]})


class BenchmarkFile(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_benchmark_json_is_valid(self):
        self.assertEqual(metrics.validate_benchmark(self.bench), [])

    def test_name_charset_and_caps_are_enforced(self):
        bad = json.loads(json.dumps(self.bench))
        bad["per_layer"].append({"name": "spark jobs", "unit": "count",
                                 "better": "lower"})
        bad["per_layer"].append(dict(bad["per_layer"][0]))
        errs = " ".join(metrics.validate_benchmark(bad))
        self.assertIn("bad name 'spark jobs'", errs)
        self.assertIn("duplicate name", errs)
        bad["per_layer"] = [{"name": f"m{i}", "unit": "s", "better": "lower"}
                            for i in range(metrics.MAX_PER_LAYER + 1)]
        bad["end_to_end"] = bad["end_to_end"] * 3
        errs = " ".join(metrics.validate_benchmark(bad))
        self.assertIn("per_layer metrics", errs)
        self.assertIn("end_to_end metrics", errs)
        self.assertTrue(metrics.NAME_RE.match("dedup.lsh_pairs"))
        self.assertFalse(metrics.NAME_RE.match("_leading"))
        self.assertFalse(metrics.NAME_RE.match("x" * 65))

    def test_every_per_layer_metric_has_a_mapping(self):
        layers = json.loads((BENCH / "layers.json").read_text())
        names = {m["name"] for m in self.bench["per_layer"]}
        self.assertEqual(names, set(layers))
        workloads = set(run.SCALE)
        self.assertTrue({w["name"] for w in self.bench["workloads"]} <= workloads)
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        for name, m in layers.items():
            self.assertTrue(set(m["moves"]) <= e2e | {"none"}, name)
            self.assertTrue(set(m["on"]) <= workloads | {"all"}, name)

    def test_end_to_end_includes_setup_with_largest_bound(self):
        e2e = {m["name"]: m for m in self.bench["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(e2e["setup_s"]["bound"],
                         max(m["bound"] for m in e2e.values()))


class Polarity(unittest.TestCase):
    """A corrupted reference must fail the check functions."""

    def record(self):
        fps = {"bfs": "1:2:3"}
        passes = [{"idx": i, "kind": "reference" if i == 0 else "timed",
                   "error": None, "mismatch": [], "fingerprints": dict(fps),
                   "checks": {"bfs_rows": 5, "sssp_rows": 5, "pagerank_rows": 5,
                              "lsh_recall": 1.0}}
                  for i in range(3)]
        return {"workload": "curation", "passes": passes, "references": {},
                "input_rows": 10}

    def args(self, perturb=None):
        return type("A", (), {"perturb": perturb})()

    def test_clean_record_passes(self):
        failed, problems = run.check_record(self.record(), self.args(), None, None)
        self.assertEqual((failed, problems), (set(), []))

    def test_perturbed_fingerprint_fails(self):
        failed, problems = run.check_record(self.record(), self.args("fingerprint"),
                                            None, None)
        self.assertEqual(failed, {1, 2})
        self.assertTrue(problems)

    def test_curation_empty_graph_output_fails(self):
        rec = self.record()
        rec["passes"][2]["checks"]["pagerank_rows"] = 0
        failed, problems = run.check_record(rec, self.args(), None, None)
        self.assertEqual(failed, {2})

    def test_curation_perturbed_recall_fails(self):
        failed, problems = run.check_record(self.record(), self.args("oracle"),
                                            None, None)
        self.assertIn(0, failed)

    def test_etl_perturbed_oracle_fails(self):
        rec = self.record()
        rec["workload"] = "etl_zones"
        rec["references"] = {"top100": "1:2:3", "oracle_sql": {}}
        rec["zip_rows"] = 10
        for p in rec["passes"]:
            p["fingerprints"] = {"table_top100": "1:2:3"}
            p["checks"] = {"landed_rows": 10, "table_rows": 100}
        work = Path(tempfile.mkdtemp())
        self.assertEqual(run.check_record(rec, self.args(), work, work)[1], [])
        failed, problems = run.check_record(rec, self.args("oracle"), work, work)
        self.assertIn(0, failed)

    def test_oracle_row_compare_sees_a_changed_value(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        self.assertEqual(run.rows_of(a), run.rows_of(b))
        b.loc[0, "v"] = 1.25
        self.assertNotEqual(run.rows_of(a), run.rows_of(b))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "set PERFBENCH_E2E=1 to run the command end to end")
class CommandPolarity(unittest.TestCase):
    def run_cmd(self, workload, perturb):
        cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
               "--seed", "3", "--seconds", "1", "--trace", "0"]
        if perturb:
            cmd += ["--perturb", perturb]
        return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=900)

    def test_perturbed_oracle_fails_the_command(self):
        r = self.run_cmd("etl_zones", "oracle")
        self.assertNotEqual(r.returncode, 0)
        self.assertFalse(json.loads(r.stdout.splitlines()[-1])["correct"])

    def test_perturbed_fingerprint_fails_the_command(self):
        r = self.run_cmd("etl_zones", "fingerprint")
        self.assertNotEqual(r.returncode, 0)
        self.assertFalse(json.loads(r.stdout.splitlines()[-1])["correct"])


if __name__ == "__main__":
    unittest.main()
