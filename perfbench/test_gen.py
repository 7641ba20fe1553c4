"""Pins the benchmark's input determinism and its metric list.

    python3 perfbench/test_gen.py
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    """(relative path, sha256) of every file under ``root``."""
    out = []
    for dp, dns, fns in os.walk(root):
        dns.sort()
        for f in sorted(fns):
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out.append((os.path.relpath(p, root),
                            hashlib.sha256(fh.read()).hexdigest()))
    return out


class InputDeterminism(unittest.TestCase):

    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, d, seed, run.SIZES[workload])
            return tree_digest(d)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            first = self.generate(w, 7)
            self.assertTrue(first, w)
            self.assertEqual(first, self.generate(w, 7), w)

    def test_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(self.generate(w, 7), self.generate(w, 8), w)

    def test_request_rounds_cover_every_family(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "requests.txt")
            gen.requests(path, 3, 5000)
            with open(path) as fh:
                lines = fh.read().split("\n")[:-1]
        for r in range(0, len(lines), 18):
            families = sorted(int(line.split()[0].split("=")[1])
                              for line in lines[r:r + 18])
            self.assertEqual(families, list(range(1, 14)) + list(range(13, 18)))
            self.assertTrue(any("hops=" in line for line in lines[r:r + 18]))

    def test_terms_land_in_their_md5_class(self):
        with tempfile.TemporaryDirectory() as d:
            gen.tagged_terms(d, 3, 300)
            for k in range(3):
                cls = os.path.join(d, f"cls{k}", "batch")
                for f in os.listdir(cls):
                    with open(os.path.join(cls, f)) as fh:
                        for line in fh:
                            if line.startswith("{Keywords}: "):
                                for t in line[12:].strip().split("; "):
                                    self.assertEqual(gen.md5_class(t), k)


class MetricList(unittest.TestCase):

    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())


if __name__ == "__main__":
    unittest.main()
