"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The end-to-end cases run every workload at ``--size smoke`` (a few seconds
each, plus one build of the program if its sources changed).
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
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def bench(workload, trace, cwd=ROOT, seed=3):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes_and_counts(self):
        shape = dict(n_features=30, n_samples=20, n_planted=4,
                     n_nan_features=3, n_inf_samples=2)
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            ga = gen.generate(a, "d", 7, **shape)
            gb = gen.generate(b, "d", 7, **shape)
            self.assertEqual(ga, gb)
            for f in (ga["molecules"], ga["clinical"]):
                with open(os.path.join(a, f), "rb") as x, \
                        open(os.path.join(b, f), "rb") as y:
                    self.assertEqual(x.read(), y.read())
            self.assertEqual(ga["kept_features"], 27)
            self.assertEqual(ga["kept_samples"], 18)
            self.assertEqual(len(ga["planted"]), 4)
            with open(os.path.join(a, ga["molecules"])) as fh:
                rows = [line.rstrip("\n").split("\t") for line in fh]
            self.assertEqual(len(rows), 31)
            nan_rows = [r for r in rows[1:] if "nan" in r]
            self.assertEqual(len(nan_rows), 3)
            self.assertFalse({r[0] for r in nan_rows} & set(ga["planted"]))

    def test_other_seed_other_inputs(self):
        shape = dict(n_features=10, n_samples=10, n_planted=2,
                     n_nan_features=1, n_inf_samples=1)
        with tempfile.TemporaryDirectory() as a:
            ga = gen.generate(a, "a", 1, **shape)
            gb = gen.generate(a, "b", 2, **shape)
            with open(os.path.join(a, ga["molecules"])) as x, \
                    open(os.path.join(a, gb["molecules"])) as y:
                self.assertNotEqual(x.read(), y.read())


class ContractTest(unittest.TestCase):

    def test_workloads_match_benchmark_json(self):
        names = [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(sorted(names), sorted(run.workloads("full")))
        self.assertEqual(sorted(names), sorted(run.workloads("smoke")))

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                ".work", "target", "__pycache__"))
            p = bench("exp_clustering_wide", 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class SmokeTest(unittest.TestCase):
    """Every workload, untraced and traced, at the smoke size."""

    def check(self, workload, trace):
        p = bench(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-4000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return out["metrics"]

    def test_exp_clustering_wide(self):
        self.check("exp_clustering_wide", 0)
        layers = self.check("exp_clustering_wide", 1)
        self.assertGreater(layers["fitness.compute_s.clustering"]["value"], 0)
        self.assertEqual(layers["fitness.compute_s.svm"]["value"], 0)

    def test_exp_cv_tall(self):
        self.check("exp_cv_tall", 0)
        layers = self.check("exp_cv_tall", 1)
        self.assertGreater(layers["fitness.compute_s.svm"]["value"], 0)
        self.assertGreater(layers["fitness.compute_s.rf"]["value"], 0)
        self.assertGreater(layers["surv.iters_per_fit"]["value"], 0)

    def test_service_small_jobs(self):
        self.check("service_small_jobs", 0)
        layers = self.check("service_small_jobs", 1)
        self.assertGreater(layers["api.job_run_s"]["value"], 0)
        self.assertEqual(layers["api.http_errors"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
