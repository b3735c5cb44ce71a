#!/usr/bin/env python3
"""Tests of the benchmark itself.

  python3 benchmark/test_benchmark.py            # everything (~5 min)
  python3 benchmark/test_benchmark.py Fast       # spec and helper checks only

The smoke tests run every workload with --smoke, untraced and traced, and
check that the result line names every metric of BENCHMARK.json with its
unit and that every output check passed.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

NAME_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-")
UNIT_CHARS = NAME_CHARS | set("/%")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(workload, trace, cwd=ROOT, extra=("--smoke",)):
    cmd = spec()["command"] + ["--workload", workload, "--seed", "7",
                               "--seconds", "5", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class Fast(unittest.TestCase):
    def test_spec_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in s["workloads"]],
                         ["sql_mix", "curate_batch", "stream_curate"])
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertTrue(set(m["name"]) <= NAME_CHARS and len(m["name"]) <= 64, m)
            self.assertTrue(set(m["unit"]) <= UNIT_CHARS and len(m["unit"]) <= 16, m)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        for w in s["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)

    def test_tail_keeps_ten_samples_above(self):
        v, pct, n = run.tail(list(range(100)))
        self.assertEqual((v, n), (89, 100))
        self.assertEqual(sum(x > v for x in range(100)), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(run.tail(list(range(19)))[0], None)

    def test_self_time_subtracts_children(self):
        path = os.path.join(build.build_dir(), "test-spans.json")
        os.makedirs(build.build_dir(), exist_ok=True)
        spans = [{"id": 0, "name": "query", "start_ms": 0, "end_ms": 1000, "parent": -1},
                 {"id": 1, "name": "exec.action", "start_ms": 100, "end_ms": 900, "parent": 0},
                 {"id": 2, "name": "exec.job", "start_ms": 200, "end_ms": 500, "parent": 1},
                 {"id": 3, "name": "exec.job", "start_ms": 400, "end_ms": 600, "parent": 1}]
        with open(path, "w") as f:
            json.dump(spans, f)
        self_t, n = run.span_self_times(path)
        os.remove(path)
        self.assertEqual(n, 4)
        self.assertAlmostEqual(self_t["query"], 0.2)
        self.assertAlmostEqual(self_t["exec.action"], 0.4)
        self.assertAlmostEqual(self_t["exec.job"], 0.5)

    def test_generated_documents_match_the_fixture_rates(self):
        import pyarrow.parquet as pq
        out = os.path.join(build.build_dir(), "test-tables")
        shutil.rmtree(out, ignore_errors=True)
        run.gen_tables.generate(0.001, out, seed=42)
        texts = pq.read_table(os.path.join(out, "documents.parquet"))["text"].to_pylist()
        shutil.rmtree(out, ignore_errors=True)
        toks = [t.split(" ") for t in texts]
        self.assertEqual(len(texts), 500)
        self.assertEqual({w for ts in toks for w in ts}, set(run.gen_tables.VOCAB) | {"dup"})
        self.assertTrue(all(10 <= len(ts) <= 100 for ts in toks))
        # the fixture: 25 of 500 texts end in " dup"; overwrites may drop a few
        self.assertTrue(20 <= sum(t.endswith(" dup") for t in texts) <= 25)
        self.assertGreaterEqual(len(texts) - len(set(texts)), 1)

    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(build.build_dir(), "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec()["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        r = bench("sql_mix", 0, cwd=bare, extra=())
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = bench(workload, trace)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        want = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        for m in want:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        if not trace:
            for m in want:
                self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])
        return out

    def test_sql_mix(self):
        self.check("sql_mix", 0)

    def test_sql_mix_traced(self):
        out = self.check("sql_mix", 1)["metrics"]
        self.assertGreater(out["exec.jobs"]["value"], 0)
        self.assertGreater(out["catalyst.exchanges"]["value"], 0)

    def test_curate_batch(self):
        self.check("curate_batch", 0)

    def test_curate_batch_traced(self):
        out = self.check("curate_batch", 1)["metrics"]
        for b in ("dedup", "audit", "curation", "ann", "gram", "semdedup"):
            self.assertGreater(out[f"standing.build_s.{b}"]["value"], 0, b)
        self.assertGreater(out["operators.eager_jobs"]["value"], 0)

    def test_stream_curate(self):
        self.check("stream_curate", 0)

    def test_stream_curate_traced(self):
        out = self.check("stream_curate", 1)["metrics"]
        self.assertGreater(out["streaming.add_batch_s"]["value"], 0)
        self.assertGreater(out["streaming.docs_per_s_local1"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
