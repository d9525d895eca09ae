"""Smoke tests of the pjbench benchmark.

    python3 -m unittest discover -s pjbench/tests -v

Each workload runs at tiny size, untraced and traced. The tests check that
every metric BENCHMARK.json names appears with its unit, that a perturbed
expectation fails the run, and that the benchmark refuses to run without
the repository's sources next to it. A full pass takes a few minutes.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# every workload the benchmark has, including any BENCHMARK.json leaves out
WORKLOADS = ["wide_open", "many_files", "dml_churn", "operator_floor"]


def run(*args, cwd=ROOT, script=BENCH / "run.py"):
    return subprocess.run([sys.executable, str(script), "--seed", "3", "--seconds", "1", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


class SmokeTest(unittest.TestCase):

    def check_metrics(self, res, spec):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(res["correct"], True)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_runs_print_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p = run("--workload", w, "--trace", "0", "--tiny")
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                res, named = result(p)
                self.check_metrics(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                self.assertGreater(named["calibration_s"], 0)
                self.assertIn("op_p50_ms", named["named"])
                self.assertTrue(all("unit" in v for v in named["named"].values()))

    def test_traced_runs_print_every_per_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p = run("--workload", w, "--trace", "1", "--tiny")
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                res, _ = result(p)
                self.check_metrics(res, SPEC["per_layer"])
                self.assertTrue((BENCH / "traces" / f"{w}-seed3.json").is_file())

    def test_wrong_expectation_fails_the_run(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p = run("--workload", w, "--trace", "0", "--tiny", "--wrong-expectation")
                self.assertNotEqual(p.returncode, 0)
                self.assertIn("WRONG RESULT", p.stderr)
                self.assertIs(json.loads(p.stdout.strip().splitlines()[-1])["correct"], False)

    def test_gate_row_counts_match_the_recorded_gate(self):
        gate = ROOT / "CORRECTNESS_r19.json"
        if not gate.is_file():
            self.skipTest("no recorded gate results in this checkout")
        recorded = json.loads(gate.read_text())
        src = (BENCH / "src/main/scala/pjbench/OperatorFloor.scala").read_text()
        block = src[src.index("val GateRows"):]
        pairs = re.findall(r'"(q\w+)" -> (\d+)L', block[:block.index("\n\n") if "\n\n" in block else None])
        self.assertTrue(pairs)
        for q, n in pairs:
            self.assertEqual(recorded[q]["spark_rows"], int(n), q)

    def test_refuses_to_run_without_the_repository(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / BENCH.name,
                            ignore=shutil.ignore_patterns("target", "work", "traces", "__pycache__"))
            p = run("--workload", WORKLOADS[0], "--trace", "0", cwd=d,
                    script=Path(d) / BENCH.name / "run.py")
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
