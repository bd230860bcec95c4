"""Self-check of the benchmark. Run from the root of a checkout:

    python3 -m unittest perfbench/test_bench.py

Each workload runs once at its small size (--small: a few hundred records,
sf0.001 tables) with --trace 0, and once with --trace 1 --corrupt. The first
must pass its output checks and print every end-to-end metric with its unit;
the second must print every per-layer metric and report the deliberately
corrupted expected output as a failed operation, not as a pass.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

REGISTRY = json.load(open(os.path.join(HERE, "layers.json")))


def run(workload, *flags):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds",
                        "1", "--small", *flags], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout, json.loads(r.stdout.strip().splitlines()[-1])


class Registry(unittest.TestCase):
    def test_benchmark_json_lists_the_registry(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        for kind in ["end_to_end", "per_layer"]:
            self.assertEqual(
                [(m["name"], m["unit"], m["better"]) for m in b[kind]],
                [(m["name"], m["unit"], m["better"]) for m in REGISTRY[kind]])

    def test_msgpack_round_trip(self):
        recs = gen.events(3, 50) + [{"s": "x" * 40, "n": None, "b": True,
                                     "neg": -5, "big": 1 << 40, "xs": [1.5]}]
        buf = bytearray()
        for r in recs:
            gen.mp_encode(r, buf)
        self.assertEqual(gen.mp_decode_all(bytes(buf)), recs)


class Workloads(unittest.TestCase):
    def check(self, workload):
        text, res = run(workload, "--trace", "0")
        self.assertTrue(res["correct"], text)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assert_metrics(res, "end_to_end", text)
        text, res = run(workload, "--trace", "1", "--corrupt")
        self.assert_metrics(res, "per_layer", text)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("FAIL", text)
        return res["metrics"]

    def assert_metrics(self, res, kind, text):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        for m in REGISTRY[kind]:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
            if kind == "end_to_end":
                self.assertGreater(got["value"], 0.0, m["name"])
                self.assertIn(m["name"], text)

    def test_udl_bulk(self):
        m = self.check("udl_bulk")
        self.assertEqual(m["kernel.evals_per_record"]["value"], 2.0)
        self.assertGreater(m["file_rps.kernel"]["value"], 0.0)
        self.assertGreater(m["cli_run_p50_s"]["value"], 0.0)
        self.assertGreater(m["cli_compile_p50_s"]["value"], 0.0)
        self.assertGreater(m["lang.parse_ms"]["value"], 0.0)

    def test_pack_slice(self):
        m = self.check("pack_slice")
        self.assertGreater(m["stream.batches"]["value"], 0.0)
        self.assertGreater(m["chain.jobs"]["value"], 0.0)


class BareDirectory(unittest.TestCase):
    def test_refuses_without_sources(self):
        import shutil
        import tempfile
        d = tempfile.mkdtemp(dir=os.path.join(HERE, ".work")
                             if os.path.isdir(os.path.join(HERE, ".work")) else None)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "udl_bulk", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True,
                               text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
