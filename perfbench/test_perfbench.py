"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The reproducibility tests make three short traced runs of every workload
(about twelve minutes on 4 cores). `--seconds 1` gives every traced run the
same number of rounds (the traced minimum of four), so the count-type
metrics must repeat exactly for a fixed seed, and a second seed must change
the generated inputs.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_chain", "lakehouse_rw", "corpus_dedup")

# Count-type metrics: a seed must reproduce them exactly.
COUNTS = {
    "medallion_chain": ["medallion.silver.input_passes", "medallion.gold.input_passes",
                        "medallion.wide.silver.input_passes",
                        "medallion.silver.files_written"],
    "lakehouse_rw": ["catalog.write_amp", "catalog.files_per_commit",
                     "catalog.live_files", "catalog.delete_entries", "space_amp"],
    "corpus_dedup": ["api.candidate_pairs", "api.verified_pairs", "in_pair_docs"],
}


def traced_run(workload, seed):
    """(result line, report line) of one short traced run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    report = next(l for l in lines if l.startswith("perfbench-report "))
    return json.loads(lines[-1]), json.loads(report[len("perfbench-report "):])


def counts(workload, result, report):
    got = {}
    for name in COUNTS[workload]:
        if name in result["metrics"]:
            got[name] = result["metrics"][name]["value"]
        else:
            got[name] = report[name]
    return got


class BenchmarkJsonTest(unittest.TestCase):
    def test_per_layer_names_match_the_program(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Layers.scala")) as fh:
            src = fh.read()
        declared = re.findall(r'\b(?:ms|s|count|ratio|mb|M)\("([a-z0-9_.]+)"', src)
        self.assertEqual([m["name"] for m in spec["per_layer"]], declared)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))


class ReproducibilityTest(unittest.TestCase):
    def test_seed_reproduces_counts_and_a_second_seed_changes_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r1, rep1 = traced_run(w, 11)
                r2, rep2 = traced_run(w, 11)
                r3, rep3 = traced_run(w, 12)
                for r in (r1, r2, r3):
                    self.assertTrue(r["correct"], r)
                    self.assertEqual(r["failed"], 0)
                c1, c2 = counts(w, r1, rep1), counts(w, r2, rep2)
                self.assertEqual(c1, c2)
                self.assertTrue(all(v > 0 for v in c1.values()), c1)
                self.assertEqual(rep1["input_fingerprint"], rep2["input_fingerprint"])
                self.assertNotEqual(rep1["input_fingerprint"], rep3["input_fingerprint"])


if __name__ == "__main__":
    unittest.main()
