"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

They write only under the build dir (BUILD_DIR/perfbench/tests).
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
ROOT = os.path.dirname(PKG)
sys.path.insert(0, PKG)

import build  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["corpus_ingest", "search_serve"]


def scratch(name):
    d = os.path.join(build.build_dir(), "perfbench", "tests", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def tree_digest(root):
    """{relative path: sha256} of every file under root"""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_inputs(self):
        d = scratch("same_seed")
        for w in WORKLOADS:
            gen.generate(w, 7, os.path.join(d, "a", w))
            gen.generate(w, 7, os.path.join(d, "b", w))
            a, b = tree_digest(os.path.join(d, "a", w)), tree_digest(os.path.join(d, "b", w))
            self.assertTrue(a)
            self.assertEqual(a, b, w)

    def test_two_seeds_differ(self):
        d = scratch("two_seeds")
        for w in WORKLOADS:
            gen.generate(w, 7, os.path.join(d, "a", w))
            gen.generate(w, 8, os.path.join(d, "b", w))
            a, b = tree_digest(os.path.join(d, "a", w)), tree_digest(os.path.join(d, "b", w))
            # landing metadata names the stem; every payload is the
            # seed's (a few fixed hostile payloads aside)
            payloads = [p for p in a if not (p.startswith("landing") and p.endswith(".json"))]
            same = [p for p in payloads if b.get(p) == a[p]]
            self.assertLess(len(same), len(payloads) // 20 + 1, (w, same[:5]))

    def test_ingest_truth_records_what_the_checks_need(self):
        d = scratch("truth")
        t = gen.generate("corpus_ingest", 3, d)
        docs = t["docs"]
        kinds = {x["kind"] for x in docs}
        self.assertEqual(kinds, {"fresh", "dup", "redelivery", "hostile"})
        for x in docs:
            if x["kind"] == "fresh":
                for k in ("lang", "outcome", "n_citations", "group", "fmt"):
                    self.assertIn(k, x)
                self.assertEqual(x["lower_court"] is None, x["lang"] != "de")
        # every redelivery repeats an earlier stem; every dup shares a group
        seen = {}
        for x in sorted(docs, key=lambda x: x["wave"]):
            if x["kind"] == "redelivery":
                self.assertLess(seen[x["stem"]], x["wave"])
            seen.setdefault(x["stem"], x["wave"])
        fresh_groups = {x["group"] for x in docs if x["kind"] == "fresh"}
        self.assertEqual(len(fresh_groups), len([x for x in docs if x["kind"] == "fresh"]))
        fmts = {x["fmt"] for x in docs if x["kind"] == "fresh"}
        self.assertEqual(fmts, {"html", "pdf_plain", "pdf_flate", "pdf_rc4"})

    def test_rulings_clear_the_reference_ingest_gate(self):
        import random
        rng = random.Random(1)
        for lang in ("de", "fr", "it"):
            paras, _ = gen.make_ruling(rng, lang, 170)
            self.assertGreaterEqual(len("\n".join(paras)), 1000, lang)


class ChecksTest(unittest.TestCase):

    def test_checks_reject_corrupted_results(self):
        classes = build.build()
        cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
        p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertIn("ok: corpus rejects an admitted duplicate", p.stdout)
        self.assertIn("ok: bm25 rejects a changed score", p.stdout)
        self.assertIn("ok: ann rejects a wrong score", p.stdout)
        self.assertIn("ok: ivf rejects an answer missing a generation", p.stdout)
        self.assertIn("ok: ivf rejects hits from unprobed cells", p.stdout)
        self.assertIn("ok: export rejects a changed count", p.stdout)


class CompareTest(unittest.TestCase):

    def test_verdicts(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        self.assertEqual(compare.verdict(base, base, 0.2, True)[0], "unchanged")
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base], 0.2, True)[0],
                         "regressed")
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], 0.2, True)[0],
                         "improved")
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base], 0.2, False)[0],
                         "improved")
        self.assertEqual(compare.verdict(base, [x * 1.12 for x in base], 0.2, True)[0],
                         "unresolved")

    def test_failed_runs_and_ops_regress(self):
        def run(correct=True, failed=0, attempted=10):
            return {"workload": "w", "result": {"correct": correct, "failed": failed,
                                                "attempted": attempted, "metrics": {}}}
        good = [run() for _ in range(4)]
        before = compare.health(good, "w")
        self.assertIsNone(compare.health_regressed(before, before))
        for after in ([run(), run(), run(), {"workload": "w", "result": None}],
                      [run(), run(), run(), run(correct=False)],
                      [run(), run(), run(), run(failed=1)],
                      []):
            self.assertIsNotNone(compare.health_regressed(before, compare.health(after, "w")))
        self.assertIsNone(compare.health_regressed(
            compare.health([run(failed=1)] * 4, "w"), compare.health(good, "w")))


class ContractTest(unittest.TestCase):

    def test_fails_without_the_program(self):
        """in a dir holding only BENCHMARK.json and the benchmark, the
        command exits non-zero without printing a result"""
        d = scratch("bare")
        shutil.copyfile(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(d, "BENCHMARK.json"))
        shutil.copytree(PKG, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
        p = subprocess.run(bench["command"] + ["--workload", bench["workloads"][0]["name"],
                                               "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
