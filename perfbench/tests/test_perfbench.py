"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Each smoke run starts a Spark driver, so the whole file takes a few minutes.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def scratch():
    """A temporary directory inside the checkout's benchmark state."""
    os.makedirs(run.STATE, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.STATE)


def smoke(workload, trace, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace), "--scale", "0.02"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    return out.returncode, out.stdout.splitlines()


def generate(workload, seed, into):
    cp = run.build()
    subprocess.run(["java", "-cp", cp, "perfbench.Generate", "--workload", workload,
                    "--seed", str(seed), "--seconds", "4", "--scale", "0.05", "--out", into],
                   check=True, stdout=subprocess.DEVNULL, timeout=120)
    digests = {}
    for d, _, files in os.walk(into):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                digests[os.path.relpath(p, into)] = hashlib.sha256(f.read()).hexdigest()
    return digests


class BenchmarkSpec(unittest.TestCase):

    def test_workloads_match_run_py(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.WORKLOADS))

    def test_every_metric_has_a_unit(self):
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(m["unit"], m)
        self.assertIn("setup_s", [m["name"] for m in SPEC["end_to_end"]])


class SmokeRuns(unittest.TestCase):

    def check_run(self, workload, trace, listed, seconds=1):
        code, lines = smoke(workload, trace, seconds)
        self.assertEqual(code, 0, "\n".join(lines[-30:]))
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        units = {m["name"]: m["unit"] for m in SPEC[listed]}
        # every printed metric is in BENCHMARK.json with the same unit, and
        # every listed metric is printed
        self.assertEqual({n: v["unit"] for n, v in result["metrics"].items()}, units)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_cdc_serving(self):
        # a run as long as the benchmark's: its measured batches must run
        # both arms of the views' bulk gates and change the join's dim side
        self.check_run("cdc_serving", 0, "end_to_end", SPEC["run_seconds"])
        with open(os.path.join(run.STATE, "out", "run_cdc_serving.json")) as f:
            steps = json.load(f)["steps"]
        shares = [s["orders_buckets_changed_share"] for s in steps]
        self.assertTrue(any(x >= 0.5 for x in shares), steps)
        self.assertTrue(any(x < 0.5 for x in shares), steps)
        self.assertTrue(all(s["customers_changed"] for s in steps), steps)

    def test_llm_corpus(self):
        self.check_run("llm_corpus", 0, "end_to_end")

    def test_cdc_serving_traced(self):
        self.check_run("cdc_serving", 1, "per_layer")

    def test_llm_corpus_traced(self):
        self.check_run("llm_corpus", 1, "per_layer")


class Generators(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with scratch() as a, scratch() as b, scratch() as c:
                first, again, other = generate(w, 5, a), generate(w, 5, b), generate(w, 6, c)
                self.assertTrue(first)
                self.assertEqual(first, again, w)
                self.assertEqual(first.keys(), other.keys(), w)
                self.assertNotEqual(first, other, w)


class BareDirectory(unittest.TestCase):

    def test_fails_fast_without_the_engine_sources(self):
        with scratch() as d:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "llm_corpus", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60)
            self.assertNotEqual(out.returncode, 0)
            self.assertFalse(out.stdout.strip().startswith("{"))


if __name__ == "__main__":
    unittest.main()
