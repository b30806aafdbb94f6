"""Tests of the benchmark's own accounting.

    python3 perfbench/test_run.py            # fast tests
    PERFBENCH_E2E=1 python3 perfbench/test_run.py   # also one catalog run (~1 min)
"""

import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def raw_run(passes, errors=()):
    """A JVM record: `passes` is a list of [(name, seconds, ok)] per job."""
    return {
        "setups": [5.0, 0.1, 0.2, 0.3, 0.2],
        "input_rows": 1000.0,
        "heap_peak_mb": 100.0,
        "jobs": [{"out": f"job-{i}", "seconds": sum(s for _, s, _ in ops),
                  "checked_ok": True, "shuffle_write_mb": 1.0,
                  "ops": [list(o) for o in ops]} for i, ops in enumerate(passes)],
        "errors": list(errors),
        "trace": {},
        "oracles": {},
    }


class SummarizeTest(unittest.TestCase):
    def test_a_throwing_query_is_counted_and_not_timed(self):
        passes = [[("q_a", 2.0, True), ("q_bad", 100.0, False)]] + \
                 [[("q_a", 1.0, True), ("q_bad", 100.0, False)]] * 2
        correct, attempted, failed, e2e, _ = run.summarize(raw_run(passes))
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(e2e["first_job_s"], 2.0)
        self.assertEqual(e2e["job_s"], 1.0)
        self.assertEqual(e2e["query_p75_s"], 1.0)
        self.assertEqual(e2e["success_frac"], 0.5)

    def test_an_oracle_mismatch_fails_every_attempt_of_its_query(self):
        passes = [[("q_a", 1.0, True), ("q_b", 3.0, True)]] * 3
        correct, attempted, failed, e2e, _ = run.summarize(
            raw_run(passes), {"q_a": "", "q_b": "rows 1 vs 2"})
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(e2e["job_s"], 1.0)

    def test_a_failed_output_check_fails_the_job(self):
        r = raw_run([[("dist", 9.0, True)], [("dist", 5.0, True)], [("dist", 6.0, True)]],
                    errors=["job 1: tile span fingerprint differs"])
        r["jobs"][1]["checked_ok"] = False
        correct, attempted, failed, e2e, _ = run.summarize(r)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(e2e["job_s"], 6.0)

    def test_a_clean_run_is_correct(self):
        passes = [[("dist", 9.0, True)], [("dist", 5.0, True)], [("dist", 7.0, True)],
                  [("dist", 6.0, True)]]
        correct, attempted, failed, e2e, _ = run.summarize(raw_run(passes))
        self.assertTrue(correct)
        self.assertEqual((attempted, failed), (4, 0))
        self.assertEqual(e2e["job_s"], 6.0)
        self.assertEqual(e2e["setup_s"], 0.2)
        self.assertEqual(e2e["rows_per_s"], 1000.0 / 6.0)

    def test_benchmark_json_names_every_reported_metric(self):
        passes = [[("dist", 9.0, True)], [("dist", 5.0, True)], [("dist", 7.0, True)]]
        e2e = run.summarize(raw_run(passes))[3]
        self.assertEqual({m["name"] for m in run.declared_metrics(0)}, set(e2e))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1 to run the JVM")
class InjectedFailureTest(unittest.TestCase):
    def test_injected_query_is_counted_and_not_timed(self):
        out = subprocess.run(
            [sys.executable, str(Path(run.__file__)), "--workload", "catalog",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-failure"],
            capture_output=True, text=True, cwd=run.ROOT, timeout=300)
        d = json.loads(out.stdout.strip().splitlines()[-1])
        passes = 4  # the cold pass and three warm ones
        self.assertFalse(d["correct"])
        self.assertEqual(d["failed"], passes)
        queries = sum(m["name"].startswith("query.") for m in run.declared_metrics(1))
        self.assertEqual(d["attempted"], passes * (queries + 1))
        self.assertAlmostEqual(d["metrics"]["success_frac"]["value"],
                               queries / (queries + 1))


if __name__ == "__main__":
    unittest.main()
