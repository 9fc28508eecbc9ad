"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The generator tests take seconds. The real-build tests compile the engine
(once per source tree) and run tiny builds in fresh JVMs: a few minutes.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(build.BUILD_DIR, "tests")


def scratch_dir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


def tree(d):
    return sorted(os.path.relpath(os.path.join(p, n), d)
                  for p, _, names in os.walk(d) for n in names)


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_files(self):
        for w in gen.WORKLOADS:
            a, b = scratch_dir(), scratch_dir()
            gen.generate(w, 7, a, 0.1)
            gen.generate(w, 7, b, 0.1)
            self.assertEqual(tree(a), tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            shutil.rmtree(a)
            shutil.rmtree(b)

    def test_other_seed_gives_other_inputs(self):
        a, b = scratch_dir(), scratch_dir()
        ea = gen.generate("build-wide", 7, a, 0.1)
        eb = gen.generate("build-wide", 8, b, 0.1)
        self.assertNotEqual(ea["corpus"]["edge_hash"], eb["corpus"]["edge_hash"])
        shutil.rmtree(a)
        shutil.rmtree(b)

    def test_workload_dimensions(self):
        d = scratch_dir()
        wide = gen.generate("build-wide", 1, d, 1.0)["dims"]
        deep = gen.generate("build-deep", 1, d, 1.0)["dims"]
        self.assertEqual(wide["formats"], ["jsonl", "kgx", "sssom", "tsv"])
        self.assertEqual(deep["formats"], ["jsonl", "kgx", "sssom", "tsv"])
        # wide: many props, shallow cliques; deep: few props, long chains
        # and one hot clique holding the stated share of all ids
        self.assertGreater(wide["props_per_record"], 10)
        self.assertLessEqual(wide["clique_size_p99"], 3)
        self.assertLess(deep["props_per_record"], 3)
        self.assertGreaterEqual(deep["chain_len_p50"], 4)
        self.assertAlmostEqual(deep["hot_clique_share"],
                               gen.WORKLOADS["build-deep"]["hot_share"], delta=0.01)
        shutil.rmtree(d)

    def test_canonical_pick_matches_engine_rule(self):
        # Ids.idScore: more letters win among CURIEs; ties go to the smaller id
        self.assertEqual(gen.pick_canonical(["DIS:0000009", "GENE:0000005"]), "GENE:0000005")
        self.assertEqual(gen.pick_canonical(["PROT:0000001", "CHEM:0000002"]), "CHEM:0000002")


class BenchmarkFileTest(unittest.TestCase):

    def test_metric_lists_match_benchmark_json(self):
        b = bench_json()
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(gen.WORKLOADS))

    def test_refuses_without_engine_sources(self):
        d = scratch_dir()
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        b = bench_json()
        r = subprocess.run(b["command"] + ["--workload", "build-wide", "--seed", "1",
                                           "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")
        shutil.rmtree(d)


@unittest.skipUnless(shutil.which("java"), "needs a JVM")
class TinyBuildTest(unittest.TestCase):
    """The closed-form expectations match real builds, and every metric
    name the benchmark prints is in BENCHMARK.json."""

    def bench(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", workload, "--seed", "5", "--seconds", "0",
                            "--trace", str(trace), "--scale", "0.05"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"], r.stdout[-2000:])
        self.assertEqual(out["failed"], 0)
        return out

    def test_untraced_builds_check_out(self):
        names = [m["name"] for m in bench_json()["end_to_end"]]
        for w in gen.WORKLOADS:
            out = self.bench(w, 0)
            self.assertEqual(list(out["metrics"]), names)
            self.assertTrue(all(m["value"] > 0 for m in out["metrics"].values()))

    def test_traced_runs_check_out(self):
        names = [m["name"] for m in bench_json()["per_layer"]]
        serve = {"incremental.update", "incremental.refresh_kv", "kv.lookup", "query.search"}
        for w in gen.WORKLOADS:
            out = self.bench(w, 1)
            self.assertEqual(list(out["metrics"]), names)
            # build-wide's traced run calls all 13 layers, build-deep's the
            # nine build layers
            for layer in run.LAYERS:
                jobs = out["metrics"][layer + ".jobs"]["value"]
                if w == "build-wide" or layer not in serve:
                    self.assertGreater(jobs, 0, (w, layer))
                else:
                    self.assertEqual(jobs, 0, (w, layer))


if __name__ == "__main__":
    unittest.main()
