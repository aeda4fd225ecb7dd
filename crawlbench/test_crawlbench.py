"""Tests of the crawl benchmark itself, on tiny inputs (--smoke).

    python3 -m unittest discover -s crawlbench -p 'test_*.py'

Slow: every case starts Spark JVMs, and a crawl round costs seconds whatever
its size (about 20 minutes on a 4-core box).
"""
import json
import math
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# Counts the program makes. For one seed they must repeat exactly.
EXACT = [m["name"] for m in SPEC["per_layer"] if m["unit"] in ("count", "bytes")]


def run(workload, seed, trace, root=ROOT):
    """(exit code, result line, full JVM result or None) of one smoke run."""
    p = subprocess.run([sys.executable, str(root / "crawlbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", "1",
                        "--trace", str(trace), "--smoke"],
                       capture_output=True, text=True, cwd=root)
    lines = p.stdout.strip().splitlines()
    full = root / "crawlbench" / ".work" / "result.json"
    return (p.returncode, json.loads(lines[-1]) if lines else None,
            json.loads(full.read_text()) if full.is_file() else None)


class SmokeTest(unittest.TestCase):
    def test_every_declared_metric_is_emitted_finite_with_its_unit(self):
        for workload in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    code, res, _ = run(workload, 7, trace)
                    self.assertEqual(code, 0)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(res["failed"], 0)
                    self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC[key]})
                    for m in SPEC[key]:
                        got = res["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"], m["name"])
                        self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_counts_repeat_for_a_seed_and_inputs_follow_the_seed(self):
        for workload in WORKLOADS + ["deep_queue"]:
            with self.subTest(workload=workload):
                _, a, full_a = run(workload, 5, 1)
                _, b, full_b = run(workload, 5, 1)
                _, c, full_c = run(workload, 6, 1)
                self.assertTrue(a["correct"] and b["correct"] and c["correct"])
                for name in EXACT:
                    self.assertEqual(a["metrics"][name], b["metrics"][name], name)
                self.assertEqual(full_a["digest"], full_b["digest"])
                self.assertNotEqual(full_a["digest"], full_c["digest"])

    def test_without_the_engine_sources_it_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            root = Path(tmp)
            shutil.copy(ROOT / "BENCHMARK.json", root)
            shutil.copytree(HERE, root / "crawlbench",
                            ignore=shutil.ignore_patterns(".*", "__pycache__"))
            code, res, _ = run(WORKLOADS[0], 1, 0, root)
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main()
