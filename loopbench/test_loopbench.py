"""The benchmark's own tests. Each case runs the benchmark end to end with
one-second timed phases (the first run builds the program), so the file
takes several minutes:

    python3 loopbench/test_loopbench.py
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED, OTHER_SEED = 7, 8
_runs = {}


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workloads():
    return [w["name"] for w in bench()["workloads"]]


def run(workload, seed, trace, replica=0):
    """(result, record) of one short run, memoized per argument tuple."""
    key = (workload, seed, trace, replica)
    if key not in _runs:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        if p.returncode != 0:
            raise AssertionError("run %s failed with %d:\n%s" % (key, p.returncode, p.stderr[-3000:]))
        result = json.loads(p.stdout.strip().splitlines()[-1])
        path = [l for l in p.stderr.splitlines() if l.startswith("run record: ")][-1]
        with open(os.path.join(ROOT, path.split(": ", 1)[1])) as f:
            _runs[key] = (result, json.load(f))
    return _runs[key]


def per_op(record):
    return [(o["kind"], o["spark.jobs"], o["spark.stages"], o["spark.tasks"], o["out_bytes"])
            for o in record["ops"] if o["phase"] == "timed"]


class TracedRunsRepeat(unittest.TestCase):
    def test_per_op_counts_and_output_bytes_repeat(self):
        for w in workloads():
            a = per_op(run(w, SEED, 1, 0)[1])
            b = per_op(run(w, SEED, 1, 1)[1])
            n = min(len(a), len(b))
            self.assertGreaterEqual(n, 4, w)
            self.assertEqual(a[:n], b[:n], w)


class SeedChangesInputs(unittest.TestCase):
    def test_other_seed_other_inputs_same_metric_names(self):
        for w in workloads():
            r1, rec1 = run(w, SEED, 0)
            r2, rec2 = run(w, OTHER_SEED, 0)
            self.assertNotEqual(rec1["input_digest"], rec2["input_digest"], w)
            self.assertEqual(rec1["input_digest"], run(w, SEED, 1)[1]["input_digest"], w)
            self.assertEqual(sorted(r1["metrics"]), sorted(r2["metrics"]), w)


class MetricsMatchBenchmarkJson(unittest.TestCase):
    def test_names_units_and_checks(self):
        b = bench()
        for w in workloads():
            for trace, declared in ((0, b["end_to_end"]), (1, b["per_layer"])):
                result, record = run(w, SEED, trace)
                want = {m["name"]: m["unit"] for m in declared}
                got = {k: m["unit"] for k, m in result["metrics"].items()}
                self.assertEqual(got, want, (w, trace))
                for k, m in result["metrics"].items():
                    self.assertTrue(math.isfinite(m["value"]), (w, trace, k))
                self.assertTrue(result["correct"], (w, trace))
                self.assertEqual(result["failed"], 0, (w, trace))
                self.assertEqual(result["attempted"], record["ops_attempted"], (w, trace))
        for m in b["end_to_end"]:
            for w in workloads():
                self.assertGreater(run(w, SEED, 0)[0]["metrics"][m["name"]]["value"], 0, (w, m))


class NoProgramNoResult(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        scratch = os.path.join(ROOT, ".loopbench")
        os.makedirs(scratch, exist_ok=True)
        d = tempfile.mkdtemp(dir=scratch)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "loopbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "loopbench/run.py", "--workload", workloads()[0],
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse([l for l in p.stdout.splitlines() if l.startswith("{")])
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
