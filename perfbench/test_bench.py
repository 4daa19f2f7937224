#!/usr/bin/env python3
"""The benchmark's own tests: a broken output never reads as a clean timing.

    python3 perfbench/test_bench.py            # all (~5 min on 4 cores)
    python3 perfbench/test_bench.py -k relay   # a subset

Each fault is injected through run.py's test-only --inject flag: a wrong
expected count or hash, an undelivered message, a failed Spark task and
a damaged input file. Every one must end in a non-zero exit with no
result line (or, for a task retried to success, a non-zero `failed`).
The last tests check the result shape against BENCHMARK.json and that
the benchmark refuses to run without the program's sources.
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
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args, cwd=ROOT, timeout=400):
    p = subprocess.run(BENCH["command"] + list(args), cwd=cwd, capture_output=True,
                       text=True, timeout=timeout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class FaultsNeverTimeClean(unittest.TestCase):
    def assertRejected(self, code, result, err):
        if code == 0:
            # the only acceptable clean exit is one that counts the failure
            self.assertIsNotNone(result, err[-2000:])
            self.assertGreater(result["failed"], 0, err[-2000:])
        else:
            self.assertIsNone(result, "a failed run must print no result")

    def test_wordcount_wrong_expected_count(self):
        code, result, err = run("--workload", "wordcount_mem", "--seed", "3",
                                "--seconds", "4", "--trace", "0", "--inject", "wrong-expected")
        self.assertNotEqual(code, 0)
        self.assertIn("wrong count", err)
        self.assertRejected(code, result, err)

    def test_relay_wrong_expected_topic(self):
        code, result, err = run("--workload", "relay_tcp", "--seed", "3",
                                "--seconds", "4", "--trace", "0", "--inject", "wrong-expected")
        self.assertNotEqual(code, 0)
        self.assertIn("arrived as", err)
        self.assertRejected(code, result, err)

    def test_relay_undelivered_message(self):
        code, result, err = run("--workload", "relay_tcp", "--seed", "4", "--seconds", "4",
                                "--trace", "0", "--inject", "drop-message", "--deadline-s", "3")
        self.assertNotEqual(code, 0)
        self.assertIn("never arrived", err)
        self.assertRejected(code, result, err)

    def test_relay_failed_task(self):
        code, result, err = run("--workload", "relay_tcp", "--seed", "5", "--seconds", "4",
                                "--trace", "0", "--inject", "fail-task", "--deadline-s", "5")
        self.assertIn("injected task failure", err)
        self.assertRejected(code, result, err)

    def test_corpus_wrong_expected_hash(self):
        code, result, err = run("--workload", "corpus_batch", "--seed", "6",
                                "--seconds", "5", "--trace", "0", "--inject", "wrong-expected")
        self.assertNotEqual(code, 0)
        self.assertIn("expected", err)
        self.assertRejected(code, result, err)

    def test_corpus_failed_query(self):
        code, result, err = run("--workload", "corpus_batch", "--seed", "6",
                                "--seconds", "5", "--trace", "0", "--inject", "corrupt-input")
        self.assertNotEqual(code, 0)
        self.assertRejected(code, result, err)


class ResultShape(unittest.TestCase):
    def traced(self, workload, seed, seconds):
        code, result, err = run("--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "1")
        self.assertEqual(code, 0, err[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for ext in ("spans.jsonl", "selftime.tsv"):
            path = os.path.join(ROOT, ".bench_build", "traces", f"{workload}-seed{seed}.{ext}")
            self.assertGreater(os.path.getsize(path), 0)
        return {k: v["value"] for k, v in result["metrics"].items()}

    def test_traced_relay_reports_every_per_layer_metric(self):
        m = self.traced("relay_tcp", 7, 4)
        # the wire path is loaded; no state store on a stateless relay
        self.assertGreater(m["sources.broker.proxy_requests_per_batch"], 0)
        self.assertGreater(m["sources.broker.server_cpu_ms_per_kmsg"], 0)
        self.assertGreater(m["streaming.batches"], 0)
        self.assertEqual(m["streaming.state_rows"], 0)
        self.assertEqual(m["operators.pipeline_full.exec_ms"], 0)

    def test_traced_corpus_reports_every_per_layer_metric(self):
        m = self.traced("corpus_batch", 9, 20)
        # every query ran jobs; the per-file split covers the pipeline's CPU
        for q in ("pipeline_full", "sim_join_lsh"):
            self.assertGreater(m[f"operators.{q}.jobs"], 0)
            self.assertGreater(m[f"operators.{q}.task_cpu_ms"], 0)
        files = sum(m[f"operators.pipeline_full.{f}.cpu_ms"]
                    for f in ("CorpusOps", "Dedup", "Clusters", "Pipeline", "Lineage"))
        self.assertGreater(files, 0)
        self.assertLessEqual(files, m["operators.pipeline_full.task_cpu_ms"] * 1.001)
        self.assertEqual(m["streaming.batches"], 0)

    def test_untraced_run_reports_every_end_to_end_metric(self):
        code, result, err = run("--workload", "relay_tcp", "--seed", "8",
                                "--seconds", "4", "--trace", "0")
        self.assertEqual(code, 0, err[-3000:])
        want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()))
        self.assertEqual(result["failed"], 0)

    def test_refuses_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/target",
                                                          "project/project", "__pycache__"))
            code, result, err = run("--workload", "relay_tcp", "--seed", "1",
                                    "--seconds", "10", "--trace", "0", cwd=d, timeout=170)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main(argv=[sys.argv[0], "-v"] + sys.argv[1:])
