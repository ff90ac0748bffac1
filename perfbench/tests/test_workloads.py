"""Smoke test of each workload at tiny size, then one negative test per
output check: each corrupts one artifact the smoke run left behind and
expects the check to fail. Runs the JVM twice (about two minutes).

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import gzip
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def smoke(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny", "--keep"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    with open(os.path.join(run.WORK, workload, "state.json")) as f:
        return p, json.loads(p.stdout.strip().splitlines()[-1]), json.load(f)


class Workload(unittest.TestCase):
    workload, trace = None, 0

    @classmethod
    def setUpClass(cls):
        cls.proc, cls.last, cls.state = smoke(cls.workload, cls.trace)

    def setUp(self):
        # every test starts from the smoke run's untouched artifacts
        self.state = json.loads(json.dumps(type(self).state))
        self.backups = []

    def tearDown(self):
        for orig, copy in self.backups:
            shutil.rmtree(orig)
            shutil.move(copy, orig)

    def keep(self, d):
        copy = d.rstrip("/") + ".orig"
        shutil.copytree(d, copy)
        self.backups.append((d, copy))

    def failures(self):
        return run.evaluate(self.state)[1]

    def test_run_is_correct_and_prints_every_metric(self):
        self.assertEqual(self.proc.returncode, 0, self.proc.stdout[-2000:])
        self.assertTrue(self.last["correct"])
        self.assertEqual(self.last["failed"], 0)
        self.assertGreater(self.last["attempted"], 0)
        kind = "per_layer" if self.trace else "end_to_end"
        self.assertEqual(set(self.last["metrics"]), {m["name"] for m in SPEC[kind]})
        n_checks, fails, _, e2e = run.evaluate(self.state)
        self.assertEqual(fails, [])
        self.assertEqual(set(e2e) | {"setup_s"}, {m["name"] for m in SPEC["end_to_end"]})


class SmallfileCompact(Workload):
    workload, trace = "smallfile_compact", 1

    def cycle(self):
        return self.state["result"]["cycles"][0]

    def test_a_missing_bundle_file_fails(self):
        d = self.cycle()["bundles_dir"]
        self.keep(d)
        os.remove(checks.data_files(d, ".parquet")[0])
        self.assertTrue(any("in no bundle" in f for f in self.failures()))

    def test_a_rebundled_file_fails(self):
        d = self.cycle()["bundles_dir"]
        self.keep(d)
        files = checks.data_files(d, ".parquet")
        shutil.copy(files[0], os.path.join(os.path.dirname(files[-1]), "part-copy.parquet"))
        self.assertTrue(any("more than once" in f for f in self.failures()))

    def test_a_pass_that_misses_a_file_fails(self):
        self.cycle()["incremental"][0]["files"] -= 1
        self.assertTrue(any("bundled" in f and "landed" in f for f in self.failures()))

    def test_a_noop_pass_that_bundles_fails(self):
        self.cycle()["noop_files"] = 1
        self.assertTrue(any("no-op pass" in f for f in self.failures()))

    def test_a_text_bundle_missing_from_the_lake_fails(self):
        d = self.cycle()["lake_dir"]
        self.keep(d)
        path = max(checks.data_files(d, ".parquet"), key=os.path.getsize)
        t = pq.read_table(path)
        pq.write_table(t.slice(1), path)
        self.assertTrue(any("flushed 0 times" in f for f in self.failures()))

    def test_a_text_bundle_flushed_with_other_content_fails(self):
        d = self.cycle()["text_dir"]
        self.keep(d)
        path = checks.data_files(d, ".gz")[0]
        with open(path, "wb") as f:
            f.write(gzip.compress(b"not what was flushed"))
        self.assertTrue(any("different content" in f for f in self.failures()))


class DayLoop(Workload):
    workload, trace = "day_loop", 0

    def test_maintain_rewriting_an_old_partition_fails(self):
        self.state["result"]["days"][0]["rewritten"].append("date=2026-09-01")
        self.assertTrue(any("maintain rewrote" in f for f in self.failures()))

    def test_a_lookup_without_exactly_one_row_fails(self):
        self.state["result"]["days"][-1]["lookups"][0]["rows"] = 2
        self.assertTrue(any("returned 2 rows" in f for f in self.failures()))

    def test_curated_output_unlike_the_monolithic_run_fails(self):
        d = self.state["result"]["last_curated"]
        self.keep(d)
        path = max(glob.glob(os.path.join(d, "*.parquet")), key=os.path.getsize)
        t = pq.read_table(path)
        pq.write_table(t.slice(1), path)
        self.assertTrue(any("differ" in f for f in self.failures()))


del Workload

if __name__ == "__main__":
    unittest.main()
