#!/usr/bin/env python3
"""Tests of the benchmark itself, on the tiny input size of every workload:

    python3 -m unittest perfbench/test_perfbench.py

- an untraced run prints every end-to-end metric of BENCHMARK.json with its
  unit, and passes the oracle gate;
- a traced run prints every per-layer metric with its unit, and its spans
  nest: each span lies inside its parent and carries its parent's
  micro-batch id;
- a directory holding only BENCHMARK.json and the benchmark fails without
  printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TMP = os.path.join(build.build_dir(), "test")
# listener and failpoint times are whole milliseconds on some sources
SLACK_MS = 2.0


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "10", "--trace", str(trace), "--size", "tiny",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class Workloads(unittest.TestCase):
    def check_result(self, r, declared):
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})

    def test_untraced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], 0)
                self.check_result(r, SPEC["end_to_end"])
                for k, v in r["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_traced_spans_nest(self):
        os.makedirs(TMP, exist_ok=True)
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                spans_file = os.path.join(TMP, f"spans-{w['name']}.jsonl")
                r = run(w["name"], 1, ["--trace-out", spans_file])
                self.check_result(r, SPEC["per_layer"])
                with open(spans_file) as f:
                    spans = [json.loads(line) for line in f]
                by_id = {s["id"]: s for s in spans}
                self.assertEqual(len(by_id), len(spans), "span ids are unique")
                batches = {s["batch"] for s in spans if s["name"] == "pipeline.micro_batch"}
                self.assertGreaterEqual(len(batches), 2)
                nested = 0
                for s in spans:
                    self.assertLessEqual(s["start"], s["end"] + SLACK_MS, s["id"])
                    if s["parent"] == "run":
                        continue
                    p = by_id[s["parent"]]
                    self.assertEqual(s["batch"], p["batch"], s["id"])
                    self.assertGreaterEqual(s["start"], p["start"] - SLACK_MS, s["id"])
                    self.assertLessEqual(s["end"], p["end"] + SLACK_MS, s["id"])
                    nested += 1
                for kind in ("pipeline.add_batch", "phase.apply", "spark.job",
                             "spark.stage.state_store", "lake.meta_commit"):
                    self.assertTrue(any(s["name"] == kind for s in spans), kind)
                self.assertGreater(nested, 0)


class Contract(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        bare = os.path.join(TMP, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        cmd = SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                 "--seed", "1", "--seconds", "1", "--trace", "0"]
        env = dict(os.environ)
        env.pop("CARGO_TARGET_DIR", None)
        p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True,
                           timeout=180, env=env)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
