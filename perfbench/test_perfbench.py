#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

They build the benchmark like run.py does, then run each workload on small
inputs (a few minutes in all).
"""
import filecmp
import json
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
SMALL = ["--seconds", "1", "--scale", "0.1"]


def bench(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)


def result(*args: str) -> dict:
    p = bench(*args)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SameSeedSameInputs(unittest.TestCase):
    def test_generated_files_are_byte_identical(self):
        tmp = Path(tempfile.mkdtemp(dir=ROOT / ".bench_build"))
        try:
            for w in WORKLOADS:
                dirs = []
                for run, seed in (("a", "5"), ("b", "5"), ("c", "6")):
                    d = tmp / f"{w}-{run}"
                    p = bench("--workload", w, "--seed", seed, "--trace", "0",
                              "--gen-only", str(d), *SMALL)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    dirs.append(d / "inputs")
                files = sorted(f.relative_to(dirs[0]) for f in dirs[0].rglob("*")
                               if f.is_file())
                self.assertTrue(files, w)
                for f in files:
                    self.assertTrue(filecmp.cmp(dirs[0] / f, dirs[1] / f, shallow=False),
                                    f"{w}: {f} differs between two runs of one seed")
                self.assertFalse(all((dirs[2] / f).is_file() and filecmp.cmp(
                    dirs[0] / f, dirs[2] / f, shallow=False) for f in files),
                    f"{w}: another seed gave the same inputs")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class CheckerCatchesCorruption(unittest.TestCase):
    def test_corrupted_output_fails_the_checks(self):
        for w in WORKLOADS:
            r = result("--workload", w, "--seed", "3", "--trace", "0",
                       "--corrupt", "1", *SMALL)
            self.assertFalse(r["correct"], w)
            self.assertGreaterEqual(r["failed"], 1, w)


class EveryMetricEmitted(unittest.TestCase):
    def check(self, trace: str, declared: list):
        for w in WORKLOADS:
            r = result("--workload", w, "--seed", "4", "--trace", trace, *SMALL)
            self.assertTrue(r["correct"], w)
            self.assertGreaterEqual(r["attempted"], 1, w)
            self.assertEqual(r["failed"], 0, w)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            self.assertEqual(got, {m["name"]: m["unit"] for m in declared}, w)
            for k, v in r["metrics"].items():
                self.assertIsInstance(v["value"], (int, float), f"{w} {k}")

    def test_end_to_end(self):
        self.check("0", SPEC["end_to_end"])

    def test_per_layer(self):
        self.check("1", SPEC["per_layer"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
