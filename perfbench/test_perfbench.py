#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # all tests (~4 min: two real runs)
    python3 perfbench/test_perfbench.py -k corpus  # generator tests only (seconds)

Covers: the seeded generator (same seed -> byte-identical corpus, other
seed -> other corpus with the same stated properties), metric names, the
result line's documented JSON shape in both modes, and the refusal to run
without the engine sources.
"""
import json
import os
import re
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

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# properties fixed by a workload's shape, whatever the seed
FIXED = ("docs", "family_size", "families", "hot_families", "hot_family_size",
         "dup_share", "batch_size", "batches")


def corpus(workload, seed):
    cp = build.build()
    with tempfile.TemporaryDirectory() as tmp:
        out = subprocess.run(run.jvm_cmd(cp, ["--corpus", workload, "--seed", str(seed)], tmp),
                             capture_output=True, text=True, check=True, timeout=300).stdout
    return json.loads(out.strip().splitlines()[-1])


def bench(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                       capture_output=True, text=True, timeout=900, cwd=ROOT)
    return p.returncode, p.stdout.strip().splitlines()


class CorpusTest(unittest.TestCase):
    def test_corpus_same_seed_is_byte_identical(self):
        for w in WORKLOADS:
            self.assertEqual(corpus(w, 7), corpus(w, 7), w)

    def test_corpus_other_seed_differs_with_same_properties(self):
        for w in WORKLOADS:
            a, b = corpus(w, 7), corpus(w, 8)
            self.assertNotEqual(a["corpus_sha256"], b["corpus_sha256"], w)
            for k in FIXED:
                self.assertEqual(a[k], b[k], f"{w}.{k}")
            for k in ("mean_tokens_per_doc", "content_bytes"):
                self.assertAlmostEqual(a[k] / b[k], 1.0, delta=0.05, msg=f"{w}.{k}")
            for k in ("exact_dup_share", "containment_share"):
                self.assertAlmostEqual(a[k], b[k], delta=0.03, msg=f"{w}.{k}")


class SpecTest(unittest.TestCase):
    def test_metric_names(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + WORKLOADS
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)


class OutputTest(unittest.TestCase):
    def check(self, trace, group):
        rc, lines = bench(WORKLOADS[0], trace)
        self.assertEqual(rc, 0, lines[-3:])
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(res["correct"], True)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = {m["name"]: m["unit"] for m in SPEC[group]}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, m in res["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_output_metric_run(self):
        self.check(0, "end_to_end")

    def test_output_traced_run(self):
        self.check(1, "per_layer")

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".run", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               capture_output=True, text=True, timeout=180, cwd=tmp)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
