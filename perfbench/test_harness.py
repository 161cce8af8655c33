#!/usr/bin/env python3
"""Tests of the benchmark harness.

    python3 perfbench/test_harness.py            # fast checks
    PERFBENCH_SLOW=1 python3 perfbench/test_harness.py   # + one run per workload and the self-tests

Run from the checkout root. The slow tests build the program and run
every workload once with a 1-second window (a few minutes).
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
SLOW = os.environ.get("PERFBENCH_SLOW") == "1"


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Generators(unittest.TestCase):
    def digest(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            fn(d, seed)
            return gen.tree_digest(d)

    def check(self, fn):
        self.assertEqual(self.digest(fn, 7), self.digest(fn, 7))
        self.assertNotEqual(self.digest(fn, 7), self.digest(fn, 8))

    def test_gdc_tree(self):
        self.check(gen.gdc_tree)

    def test_tables(self):
        self.check(gen.tables)

    def test_landing(self):
        self.check(gen.landing)

    def test_seeded_orders(self):
        self.assertEqual(run.seeded(run.QUERY_SUBSET, 3), run.seeded(run.QUERY_SUBSET, 3))
        self.assertNotEqual(run.seeded(run.QUERY_SUBSET, 3), run.seeded(run.QUERY_SUBSET, 4))
        self.assertEqual(sorted(run.seeded(run.QUERY_SUBSET, 3)), sorted(run.QUERY_SUBSET))


class Metrics(unittest.TestCase):
    def test_names(self):
        b = benchmark_json()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_declared_match_harness(self):
        b = benchmark_json()
        self.assertEqual([m["name"] for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in b["per_layer"]], run.per_layer_names())
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        for m in b["end_to_end"]:
            self.assertEqual(m["unit"], run.UNITS[m["name"]])
        for m in b["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]))

    def test_families(self):
        self.assertEqual({run.family(q) for q in run.QUERY_SUBSET} - set(run.FAMILIES), set())
        self.assertEqual(run.family("q92_bm25_indexed"), "retrieval")
        self.assertEqual(run.family("q133_vocab_growth"), "store")
        self.assertEqual(run.family("q71_wide_pivot"), "xena")
        self.assertEqual(run.family("q18_ngram_jaccard"), "dedup")
        self.assertEqual(run.family("q21_text_stats"), "text")
        self.assertEqual(len(run.FAMILIES), len(run.QUERY_SUBSET))

    def test_reference_covers_the_runs(self):
        ref = run.load_reference()
        for q in run.QUERY_SUBSET:
            self.assertIn(q, ref["queries"])
        for p in run.PROBES:
            self.assertIn(ref["probe_gate"][p], ref["queries"])
        self.assertEqual(ref["probe_mismatch"], [])


class UntracedTwin(unittest.TestCase):
    """A traced run may take its overhead only against an untraced run
    of the same workload, seed, window and code."""

    def test_match(self):
        args = run.argparse.Namespace(workload="query_suite", seed=5, seconds=2.0)
        want = {"workload": "query_suite", "seed": 5, "seconds": 2.0, "trace": 0, "code": "c1",
                "result": {"correct": True}, "e2e_s": 1.0}
        records = {"a-1": want, "a-2": dict(want, e2e_s=2.0), "b": dict(want, seed=6),
                   "c": dict(want, seconds=3.0), "d": dict(want, trace=1), "e": dict(want, code="c0"),
                   "f": dict(want, result={"correct": False}), "g": dict(want, workload="store_cycle")}
        root, digest = run.ROOT, run.code_digest
        with tempfile.TemporaryDirectory() as d:
            for rid, rec in records.items():
                os.makedirs(os.path.join(d, ".bench_runs", rid))
                with open(os.path.join(d, ".bench_runs", rid, "record.json"), "w") as f:
                    json.dump(dict(rec, run_id=rid), f)
            run.ROOT, run.code_digest = d, lambda: "c1"
            try:
                self.assertEqual(run.untraced_twin(args)["run_id"], "a-2")
                self.assertIsNone(run.untraced_twin(run.argparse.Namespace(**dict(vars(args), seed=7))))
            finally:
                run.ROOT, run.code_digest = root, digest


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args), cwd=ROOT,
                       stdout=subprocess.PIPE, universal_newlines=True)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@unittest.skipUnless(SLOW, "set PERFBENCH_SLOW=1")
class Runs(unittest.TestCase):
    def test_every_end_to_end_metric_on_every_workload(self):
        for w in run.WORKLOADS:
            rc, res = bench("--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0")
            self.assertEqual(rc, 0, w)
            self.assertTrue(res["correct"], w)
            self.assertEqual(sorted(res["metrics"]), sorted(run.END_TO_END), w)
            for k, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, (w, k))

    def test_planted_wrong_cell_fails(self):
        rc, res = bench("--workload", "xena_pipeline", "--seed", "1", "--seconds", "1", "--plant", "cell")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_planted_wrong_result_fails(self):
        rc, res = bench("--workload", "query_suite", "--seed", "1", "--seconds", "1", "--plant", "result")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
