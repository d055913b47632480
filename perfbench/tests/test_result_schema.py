"""Schema checks of what perfbench/run.py emits.

    python3 -m unittest discover -s perfbench/tests

checks the result-line validator against hand-made lines. With
PERFBENCH_LIVE=1 it also runs the command once per workload, untraced and
traced, and checks the printed line and the trace file (about a minute per
run; it builds the program first when needed).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def line(bench, trace, **over):
    want = bench["per_layer" if trace else "end_to_end"]
    out = {"correct": True, "attempted": 8, "failed": 4,
           "metrics": {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in want}}
    out.update(over)
    return out


class ValidatorTest(unittest.TestCase):
    bench = run.spec()

    def test_well_formed_lines_pass(self):
        for trace in (False, True):
            self.assertEqual(run.validate(line(self.bench, trace), self.bench, trace), [])

    def test_missing_or_extra_metric_fails(self):
        r = line(self.bench, False)
        r["metrics"].pop("warm_s")
        self.assertTrue(run.validate(r, self.bench, False))
        r = line(self.bench, False)
        r["metrics"]["extra"] = {"value": 1.0, "unit": "s"}
        self.assertTrue(run.validate(r, self.bench, False))

    def test_bad_values_fail(self):
        for bad in (0.0, -1.0, float("nan"), None, "1", True):
            r = line(self.bench, False)
            r["metrics"]["cold_s"]["value"] = bad
            self.assertTrue(run.validate(r, self.bench, False), bad)

    def test_per_layer_zero_is_allowed(self):
        r = line(self.bench, True)
        r["metrics"]["memo.ledger_s"]["value"] = 0.0
        self.assertEqual(run.validate(r, self.bench, True), [])

    def test_counts_must_be_integers(self):
        self.assertTrue(run.validate(line(self.bench, False, attempted=2.0), self.bench, False))
        self.assertTrue(run.validate(line(self.bench, False, failed=True), self.bench, False))
        self.assertTrue(run.validate(line(self.bench, False, attempted=0), self.bench, False))

    def test_wrong_unit_or_key_fails(self):
        r = line(self.bench, False)
        r["metrics"]["cold_s"]["unit"] = "ms"
        self.assertTrue(run.validate(r, self.bench, False))
        r = line(self.bench, False)
        r["extra"] = 1
        self.assertTrue(run.validate(r, self.bench, False))

    def test_spec_fits_the_contract(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])
        bounds = [m["bound"] for m in b["end_to_end"]]
        self.assertTrue(all(0 < x <= 0.25 for x in bounds))
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(bounds))
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})


@unittest.skipUnless(os.environ.get("PERFBENCH_LIVE") == "1", "set PERFBENCH_LIVE=1")
class LiveRunTest(unittest.TestCase):
    bench = run.spec()

    def run_once(self, workload, trace):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            workload, "--seed", "7", "--seconds", "2", "--trace", str(trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(p.returncode, 0)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(run.validate(result, self.bench, bool(trace)), [])
        self.assertTrue(result["correct"])
        return result

    def test_every_workload_untraced_and_traced(self):
        for w in (w["name"] for w in self.bench["workloads"]):
            self.run_once(w, 0)
            traced = self.run_once(w, 1)
            with open(os.path.join(run.OUT, "traces", f"{w}-seed7.json")) as fh:
                t = json.load(fh)
            self.assertEqual(set(t["per_layer"]), set(traced["metrics"]))
            self.assertGreaterEqual(len(t["rounds"]), 3)
            for r in t["rounds"]:
                self.assertTrue({"round", "traced", "wall_s", "cpu_s", "ops"} <= set(r))
                for o in r["ops"]:
                    self.assertTrue({"name", "wall_s", "cpu_s", "ok", "layers"} <= set(o))


if __name__ == "__main__":
    unittest.main()
