"""Tests of run.py's bookkeeping (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def record(passes, law=()):
    return {"workload": "offline_eval", "law_failures": list(law), "passes": passes}


def a_pass(i, digests, failures=(), error=None, n_ops=3):
    return {"pass": i, "wall_s": 1.0, "traced": False, "steal_share": 0.0, "live_heap_mb": 1.0, "ops": [{"name": f"op{j}", "kind": "fit", "s": 1.0} for j in range(n_ops)],
            "digests": digests, "failures": [list(f) for f in failures], "error": error}


class CheckOutputsTest(unittest.TestCase):
    def test_clean_run_has_no_failures(self):
        rec = record([a_pass(1, {"a": "1:2"}), a_pass(2, {"a": "1:2"})])
        self.assertEqual(run.check_outputs(rec, {}, 1), (7, 0, []))

    def test_failed_check_counts_once_per_operation_and_pass(self):
        rec = record([a_pass(1, {}, failures=[("models.item_knn.predict", "a query has 11 recs > k=10"),
                                              ("models.item_knn.predict", "dup")]),
                      a_pass(2, {})])
        attempted, failed, msgs = run.check_outputs(rec, {}, 1)
        self.assertEqual((attempted, failed), (7, 1))
        self.assertIn("11 recs > k=10", msgs[0])

    def test_pinned_digest_mismatch_and_drift_fail(self):
        pins = {"offline_eval": {"1": {"a": "1:2"}}}
        rec = record([a_pass(1, {"a": "1:3", "b": "5:5"}), a_pass(2, {"a": "1:3", "b": "5:6"})])
        attempted, failed, _ = run.check_outputs(rec, pins, 1)
        self.assertEqual(failed, 3)  # a twice (pinned), b once (drift)
        self.assertEqual(run.check_outputs(rec, pins, 2)[1], 1)  # unpinned seed: drift only

    def test_law_failure_counts(self):
        rec = record([a_pass(1, {}), a_pass(2, {})], law=["rows differ"])
        self.assertEqual(run.check_outputs(rec, {}, 1)[1], 1)


class ContaminationTest(unittest.TestCase):
    def test_clean_run_is_not_flagged(self):
        self.assertEqual(run.contamination([10.0, 10.5], 0.0, 0.2, [10.2, 9.9, 10.4]), [])

    def test_warm_pass_spread_beyond_the_bound_flags_the_run(self):
        reasons = run.contamination([10.0, 12.5], 0.0, 0.2, [])
        self.assertEqual(len(reasons), 1)
        self.assertIn("spread 0.222", reasons[0])

    def test_single_warm_pass_off_earlier_runs_flags_the_run(self):
        self.assertEqual(run.contamination([13.0], 0.0, 0.2, [10.0, 10.2]), [])  # too few
        reasons = run.contamination([13.0], 0.0, 0.2, [10.0, 10.2, 9.8])
        self.assertEqual(len(reasons), 1)
        self.assertIn("earlier runs", reasons[0])

    def test_steal_flags_the_run(self):
        self.assertIn("steal", run.contamination([10.0], 0.2, 0.2, [])[0])


class SpecTest(unittest.TestCase):
    def setUp(self):
        with open(run.SPEC) as f:
            self.spec = json.load(f)

    def test_contract_shape(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)
        self.assertTrue(1 <= self.spec["run_seconds"] <= 60)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for k in ("end_to_end", "per_layer"):
            for m in self.spec[k]:
                self.assertRegex(m["name"], NAME)
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.spec["end_to_end"]))
        self.assertLessEqual(len(json.dumps(self.spec)), 64 * 1024)

    def test_pass_s_skips_contaminated_warm_passes(self):
        passes = [a_pass(1, {}), a_pass(2, {}), a_pass(3, {})]
        passes[1].update(wall_s=9.0, steal_share=0.3)
        passes[2].update(wall_s=2.0)
        rec = {"passes": passes, "peak_rss_mb": 1.0, "setup_s": 2.0}
        self.assertEqual(run.end_to_end(rec)[0]["pass_s"], 2.0)
        passes[2].update(steal_share=0.2)
        self.assertEqual(run.end_to_end(rec)[0]["pass_s"], 5.5)

    def test_end_to_end_names_are_computed(self):
        e2e, _ = run.end_to_end({"passes": [a_pass(1, {}), a_pass(2, {})], "peak_rss_mb": 1.0,
                                 "setup_s": 2.0})
        self.assertEqual({m["name"] for m in self.spec["end_to_end"]}, set(e2e))


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.abspath(__file__)))
    unittest.main()
