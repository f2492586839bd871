#!/usr/bin/env python3
"""The benchmark's own tests. From the root of a checkout:

    python3 perfbench/test_perfbench.py            # all, with one traced run per workload
    python3 perfbench/test_perfbench.py --quick    # without the traced runs

They fail loudly when a workload names a query missing from
`SparkEntry.queries` or one of the AQE-race queries, when a metric name
is outside [A-Za-z0-9_.-], and when a traced run's per-query job counts
drift from workloads.EXPECTED_JOBS.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import WorkloadError, validate  # noqa: E402

ROOT = os.path.dirname(HERE)
QUICK = "--quick" in sys.argv


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Validation(unittest.TestCase):
    def test_missing_query_fails(self):
        with self.assertRaisesRegex(WorkloadError, "missing from SparkEntry.queries"):
            validate({"w": {"queries": ["q_pagerank", "q_nope"]}},
                     registry={"q_pagerank"})

    def test_workloads_name_registry_queries(self):
        build.ensure(ROOT)
        validate(registry=set(run.registry(ROOT)["queries"]))

    def test_aqe_race_query_fails(self):
        for q in sorted(workloads.AQE_RACES):
            with self.assertRaisesRegex(WorkloadError, "AQE-race"):
                validate({"w": {"queries": ["q_pagerank", q]}})

    def test_metric_name_outside_charset_fails(self):
        for bad in ["wall s", "cpu/s", "_x", "a" * 65, "é"]:
            with self.assertRaisesRegex(WorkloadError, "outside"):
                validate(metric_names=["wall_s", bad])

    def test_a_failed_check_execution_counts_once(self):
        execs = [{"q": "q_a", "kind": "timed", "ok": True},
                 {"q": "q_a", "kind": "check", "ok": False},
                 {"q": "q_b", "kind": "check", "ok": True}]
        self.assertEqual(run.count_failed(execs, {"q_a": "error: no result", "q_b": "ok"}), 1)
        self.assertEqual(run.count_failed(execs, {"q_a": "error: no result", "q_b": "mismatch"}), 2)

    def test_declared_names_are_valid(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        validate(metric_names=names)
        self.assertEqual({w["name"] for w in s["workloads"]}, set(workloads.WORKLOADS))

    def test_job_drift_is_reported(self):
        self.assertEqual(workloads.job_drift({"q_hits": 45}, "sf0.1"), [])
        self.assertEqual(workloads.job_drift({"q_hits": 44}, "sf0.1"), [("q_hits", 44, 45)])

    def test_self_time_subtracts_covered_children(self):
        spans = [{"id": 0, "parent": -1, "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 1, "parent": 0, "start_ms": 1.0, "end_ms": 4.0},
                 {"id": 2, "parent": 0, "start_ms": 3.0, "end_ms": 6.0}]
        self.assertEqual([s["self_ms"] for s in run.self_times(spans)], [5.0, 3.0, 3.0])


@unittest.skipIf(QUICK, "--quick skips the traced runs")
class TracedJobs(unittest.TestCase):
    def test_traced_jobs_match_expected(self):
        scale = os.path.basename(os.path.normpath(workloads.data_dir()))
        for w in workloads.WORKLOADS:
            r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                                "--seed", "1", "--seconds", "1", "--trace", "1"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            self.assertEqual(r.returncode, 0, f"{w}: traced run failed")
            out = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertTrue(out["correct"], f"{w}: output check failed")
            path = os.path.join(ROOT, build.OUT, "runs", f"{w}_s1_t1", "result.json")
            with open(path) as f:
                jobs = {q: v["jobs"] for q, v in json.load(f)["per_query"].items()}
            self.assertEqual(workloads.job_drift(jobs, scale), [],
                             f"{w}: per-query jobs drift from EXPECTED_JOBS[{scale!r}]")


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--quick"])
