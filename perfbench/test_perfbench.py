"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The smoke tests run each workload for a short window and take a few
minutes in all; the first one builds the engine if needed.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


class SpecTest(unittest.TestCase):
    def test_names_units_and_bounds(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
        for m in SPEC["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in SPEC["end_to_end"]))
        self.assertLessEqual(len(SPEC["per_layer"]), 128)


class SeededInputsTest(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed, other inputs."""

    def inputs(self, seed):
        out = json.loads(run("--workload", "product", "--seed", str(seed), "--seconds", "1",
                             "--gen-only")[-1])
        d = Path(out["run_dir"])
        return (d / "ingest_delta.csv").read_bytes(), (d / "event_tape.jsonl").read_bytes()

    def test_seed_determines_inputs(self):
        a, b, c = self.inputs(5), self.inputs(5), self.inputs(6)
        self.assertGreater(len(a[0]), 0)
        self.assertGreater(len(a[1]), 0)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[1], c[1])


class SmokeTest(unittest.TestCase):
    """Each workload, traced, for a short window: outputs check out, no
    operation fails, and every declared metric is reported.
    """

    def smoke(self, workload):
        lines = run("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "1")
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], "\n".join(lines))
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(set(last["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        res = json.loads((ROOT / ".bench_build" / "runs" / f"{workload}-seed3-trace1" /
                          "result.json").read_text())
        for m in SPEC["end_to_end"]:
            self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
        spans = (ROOT / ".bench_build" / "runs" / f"{workload}-seed3-trace1" /
                 "spans.jsonl").read_text().splitlines()
        self.assertTrue(spans)
        self.assertTrue(all(re.search(r'"trace_id":.*"parent_id":', s) for s in spans))
        return res

    def test_product(self):
        m = self.smoke("product")["metrics"]
        self.assertGreater(m["pipeline.train_export_s"]["value"], 0)
        self.assertGreater(m["stream.batch_ms_p50"]["value"], 0)
        self.assertEqual(m["q.q14_part_pairs.s"]["value"], 0)

    def test_analytics(self):
        m = self.smoke("analytics")["metrics"]
        self.assertGreater(m["q.q284_grid_dbscan.jobs"]["value"], 0)
        self.assertEqual(m["pipeline.train_export_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
