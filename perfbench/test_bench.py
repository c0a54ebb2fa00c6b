"""The benchmark's own tests: python3 -m unittest perfbench/test_bench.py

Each workload runs once untraced and once traced (about five minutes on
four cores). The tests check that the printed result follows
BENCHMARK.json, that every output passed the oracle, that cf_batch's
executed plan still holds the work a user's job does, and that a run
leaves the checkout as it found it.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def git_status():
    """`git status --ignored` of the checkout, or None outside git."""
    done = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain", "--ignored"],
                          capture_output=True, text=True)
    return done.stdout if done.returncode == 0 else None


def run(workload, trace, trace_file=None):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    if trace_file:
        cmd += ["--trace-file", trace_file]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if done.returncode != 0:
        raise AssertionError(f"{workload} failed:\n{done.stderr[-4000:]}")
    lines = done.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        subprocess.run([sys.executable, str(HERE / "build.py")], check=True,
                       capture_output=True)
        cls.status_before = git_status()
        cls.tmp = tempfile.TemporaryDirectory()
        cls.runs = {}
        for w in (w["name"] for w in SPEC["workloads"]):
            for trace in (0, 1):
                trace_file = str(Path(cls.tmp.name) / f"{w}.json") if trace else None
                cls.runs[w, trace] = run(w, trace, trace_file)
        cls.status_after = git_status()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_result_lists_the_metrics_of_benchmark_json(self):
        for (w, trace), (_, result) in self.runs.items():
            with self.subTest(workload=w, trace=trace):
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                spec = SPEC["per_layer" if trace else "end_to_end"]
                self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
                for m in spec:
                    self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
                if not trace:
                    for name, v in result["metrics"].items():
                        self.assertGreater(v["value"], 0, name)

    def test_every_output_matches_the_oracle(self):
        for (w, trace), (record, result) in self.runs.items():
            with self.subTest(workload=w, trace=trace):
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0, record["check"])
                self.assertTrue(all(p is None for p in record["check"].values()))

    def test_cf_plan_keeps_the_window_the_metrics_and_the_write(self):
        plan = json.loads((Path(self.tmp.name) / "cf_batch.json").read_text())["cf_plan"]
        self.assertIn("InsertIntoHadoopFsRelationCommand", plan)
        self.assertIn("Window [row_number()", plan)
        for metric in ("corr", "cos_sim", "reg_corr", "jaccard"):
            self.assertIn(f" AS {metric}#", plan)

    def test_cf_pair_counts(self):
        metrics = self.runs["cf_batch", 1][1]["metrics"]
        self.assertEqual(metrics["core.pair_rows_emitted"]["value"], 1292193)
        self.assertEqual(metrics["core.pair_rows"]["value"], 952853)

    def test_run_leaves_the_checkout_unchanged(self):
        if self.status_before is None:
            self.skipTest("not a git checkout")
        self.assertEqual(self.status_before, self.status_after)


if __name__ == "__main__":
    unittest.main()
