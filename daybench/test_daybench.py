#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 daybench/test_daybench.py

- the landing-zone generator is deterministic: one seed gives
  byte-identical files, another seed different ones;
- a seconds-long smoke configuration of each workload passes the
  correctness gate, untraced and traced;
- the result line carries exactly the metric names and units that
  BENCHMARK.json lists (end_to_end untraced, per_layer traced).
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402

with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for n in sorted(files):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class DayBenchTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.classes, cls.sha = build.ensure_built()
        cls.jars = build.spark_jars()
        cls.tmp = tempfile.mkdtemp(prefix="daybench-test-",
                                   dir=os.path.join(build.out_dir(),
                                                    "daybench"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def land(self, workload, seed, name):
        work = os.path.join(self.tmp, name)
        subprocess.run(run.jvm_command(self.classes, self.jars, self.sha,
                                       work, ["--gen-only", "1",
                                              "--workload", workload,
                                              "--seed", str(seed),
                                              "--smoke", "1"]),
                       check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        return tree_digest(work)

    def test_generator_is_deterministic(self):
        for w in run.WORKLOADS:
            a = self.land(w, 11, w + "-a")
            self.assertEqual(a, self.land(w, 11, w + "-b"), w)
            self.assertNotEqual(a, self.land(w, 12, w + "-c"), w)

    def result(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", workload, "--seed", "5", "--seconds", "5",
             "--trace", str(trace), "--smoke", "1"],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        return json.loads(out.strip().splitlines()[-1])

    def check(self, workload, trace):
        res = self.result(workload, trace)
        self.assertEqual(sorted(res), ["attempted", "correct", "failed",
                                       "metrics"])
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = {m["name"]: m["unit"]
                for m in SPEC["per_layer" if trace else "end_to_end"]}
        got = {n: m["unit"] for n, m in res["metrics"].items()}
        self.assertEqual(got, want)
        for n, m in res["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), n)
        return res["metrics"]

    def test_daily_3c_smoke(self):
        m = self.check("daily_3c", 0)
        self.assertGreater(m["day_s"]["value"], 0)

    def test_backfill_wide_smoke(self):
        self.check("backfill_wide", 0)

    def test_daily_3c_traced_smoke(self):
        m = self.check("daily_3c", 1)
        self.assertGreaterEqual(m["trace.coverage"]["value"], 0.95)
        record = os.path.join(build.out_dir(), "daybench", "records",
                              "daily_3c-seed5-trace1-smoke.json")
        with open(record) as f:
            self.assertEqual(json.load(f)["compaction_runs"], "0.0")

    def test_backfill_wide_traced_smoke(self):
        m = self.check("backfill_wide", 1)
        self.assertGreater(m["ingest.quarantined"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
