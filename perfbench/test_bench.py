"""The benchmark's own tests: sf0.001 smoke runs of every workload, traced
and untraced, checked against the output contract.

    python3 -m unittest perfbench/test_bench.py     (from the checkout root)
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines, r.stderr


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(run.PER_LAYER))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_fixed_tables_match_their_sums(self):
        for sf in sorted(set(run.SCALE.values())):
            d, key = run.data_dir(sf)
            self.assertTrue(os.path.exists(os.path.join(d, "lineitem.parquet")), sf)
            self.assertEqual(len(key), 16)

    def test_fails_without_the_program_sources(self):
        tmp_root = os.path.join(build.build_dir(), "tmp")
        os.makedirs(tmp_root, exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=tmp_root)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, lines, _ = bench("--workload", "scan", "--seed", "1", "--seconds", "1",
                                 "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(lines and lines[-1].startswith('{"correct"'))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        rc, lines, err = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                               "--trace", str(trace), "--smoke")
        self.assertEqual(rc, 0, err[-3000:])
        res = json.loads(lines[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(list(res["metrics"]), list(want))
        for name, m in res["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
            self.assertGreater(m["value"], 0, name)
        self.assertIn('"provenance"', "\n".join(lines))
        if trace:
            report = "\n".join(lines)
            self.assertIn("self time by layer", report)
            self.assertIn("trace.overhead_pct", report)

    def test_scan(self):
        self.check("scan", 0)

    def test_scan_traced(self):
        self.check("scan", 1)

    def test_write(self):
        self.check("write", 0)

    def test_write_traced(self):
        self.check("write", 1)

    def test_pipeline(self):
        self.check("pipeline", 0)

    def test_pipeline_traced(self):
        self.check("pipeline", 1)


if __name__ == "__main__":
    unittest.main()
