#!/usr/bin/env python3
"""The benchmark's own tests: every workload with its checks at tiny
sizes, traced and untraced, and negative cases that must fail.

Run from the repository root (builds on first use, a few minutes):

    python3 perfbench/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

E2E = ["setup_s", "work_per_s_norm", "op_p50_ms_norm", "bytes_per_row"]


def bench(workload, trace=0, *extra, cwd=ROOT, script=None):
    """Run one tiny workload; returns (exit code, last stdout line, stderr)."""
    p = subprocess.run(
        [sys.executable, script or os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


class Workloads(unittest.TestCase):

    def check_run(self, workload, trace):
        rc, last, err = bench(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        d = json.loads(last)
        self.assertEqual(sorted(d), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(d["correct"], err[-3000:])
        self.assertGreater(d["attempted"], 0)
        self.assertEqual(d["failed"], 0)
        return d["metrics"]

    def test_untraced_runs_report_every_end_to_end_metric(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                m = self.check_run(w, 0)
                self.assertEqual(sorted(m), sorted(E2E))
                for k in E2E:
                    self.assertGreater(m[k]["value"], 0, k)

    def test_traced_runs_report_the_per_layer_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        layers = [x["name"] for x in b["per_layer"]]
        gated = [x["name"] for x in b["workloads"]]
        main_layer = {"initial_sync": "schema.infer_s", "change_backlog": "stream.add_batch_ms",
                      "reads_with_writes": "sql.exec_ms",
                      "iterative_queries": "query.text_bpe_merges.jobs"}
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                m = self.check_run(w, 1)
                if w in gated:
                    self.assertEqual(sorted(m), sorted(layers))
                else:
                    # change_backlog adds its streaming metrics
                    self.assertLessEqual(set(layers), set(m))
                self.assertGreater(m["spark.jobs"]["value"], 0)
                self.assertGreater(m[main_layer[w]]["value"], 0)


class NegativeChecks(unittest.TestCase):

    def test_an_event_dropped_from_the_log_fails_the_check(self):
        rc, last, err = bench("change_backlog", 0, "--inject", "drop-event")
        self.assertEqual(rc, 1, err[-3000:])
        self.assertFalse(json.loads(last)["correct"])
        self.assertIn("change_backlog digest", err)

    def test_a_changed_oracle_row_fails_the_compare(self):
        rc, last, err = bench("iterative_queries", 0, "--inject", "oracle-row")
        self.assertEqual(rc, 1, err[-3000:])
        self.assertFalse(json.loads(last)["correct"])
        self.assertIn("hash differs", err)

    def test_without_the_program_it_exits_nonzero_and_prints_no_result(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "results", "__pycache__"))
            rc, last, _ = bench("initial_sync", 0, cwd=d,
                                script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertEqual(last, "")
        finally:
            shutil.rmtree(d)


class ChangeLog(unittest.TestCase):

    def test_log_files_have_increasing_modification_times(self):
        before = set(os.listdir(run.BUILD))
        rc, _, err = bench("change_backlog", 0, "--keep")
        self.assertEqual(rc, 0, err[-3000:])
        kept = [x for x in set(os.listdir(run.BUILD)) - before if x.startswith("run-")]
        self.assertEqual(len(kept), 1)
        try:
            log = os.path.join(run.BUILD, kept[0], "source", "shop", "orders.changes")
            files = sorted(os.listdir(log))
            times = [os.stat(os.path.join(log, f)).st_mtime for f in files]
            self.assertGreater(len(files), 10)
            self.assertEqual(times, sorted(set(times)))
        finally:
            shutil.rmtree(os.path.join(run.BUILD, kept[0]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
