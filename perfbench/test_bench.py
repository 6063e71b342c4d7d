#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py            # fast checks (no JVM)
    PERFBENCH_E2E=1 python3 perfbench/test_bench.py   # plus five real runs (~6 min)

Run from the root of a checkout.
"""
import hashlib
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
import gen_corpus  # noqa: E402
import gen_omim  # noqa: E402
import run  # noqa: E402

E2E = os.environ.get("PERFBENCH_E2E") == "1"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def harness_result(ops, warm=True, threw=None):
    """A synthetic harness result with plausible samples."""
    times = {o: 1.0 + i for i, o in enumerate(ops)}
    threw = threw or {}
    ran = {o: t for o, t in times.items() if o not in threw}
    passes = [{"pass_s": sum(ran.values()) + 0.01 * k, "ops": dict(ran)} for k in range(3)]
    return {"ops": ops, "setup_s": 3.0,
            "cold": {"pass_s": sum(ran.values()) * 2, "ops": {o: 2 * t for o, t in ran.items()}},
            "warm": passes if warm else [],
            "attempted": {o: 4 if warm else 1 for o in ops},
            "threw": {o: (4 if warm else 1) for o in threw},
            "peak_heap_mb": 512.5, "layers": {}}


def dir_digest(path):
    h = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        h.update(f.encode())
        with open(os.path.join(path, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class SpecTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertEqual(sorted(w["name"] for w in s["workloads"]),
                         ["iterative_sf01", "omim_release"])
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + \
            [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_printed_end_to_end_metrics_are_named(self):
        s = spec()
        for warm in (True, False):
            m, layers, att, failed, _ = run.aggregate(
                harness_result(["a", "b"], warm), {"a": True, "b": True}, [])
            line = json.loads(run.result_line(s, 0, m, layers, att, failed, True))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(line["metrics"]), [x["name"] for x in s["end_to_end"]])
            for v in line["metrics"].values():
                self.assertIsInstance(v["value"], float)
                self.assertGreater(v["value"], 0)

    def test_harness_emits_every_per_layer_metric(self):
        """Every per-layer name is one the harness or run.py produces."""
        src = ""
        for f in ("Layers.scala", "Harness.scala"):
            with open(os.path.join(HERE, "harness", "src", "main", "scala", "org", "apache",
                                   "spark", "perfbench", f)) as fh:
                src += fh.read()
        produced = set(re.findall(r'"([a-z]+\.[A-Za-z0-9_.]+)"', src)) | {"host.calib_s"}
        for m in spec()["per_layer"]:
            self.assertIn(m["name"], produced)


class CalibrationTest(unittest.TestCase):
    def test_compare_prints_host_calib_s_per_side(self):
        s = spec()
        with tempfile.TemporaryDirectory() as d:
            for side, calib in (("p", 0.5), ("c", 0.7)):
                os.makedirs(os.path.join(d, side))
                for seed in range(3):
                    rec = {"workload": "omim_release", "seed": seed, "trace": 0,
                           "correct": True, "host.calib_s": calib + 0.01 * seed,
                           "metrics": {m["name"]: 1.0 + 0.01 * seed for m in s["end_to_end"]}}
                    with open(os.path.join(d, side, f"r{seed}.json"), "w") as f:
                        json.dump(rec, f)
            p = subprocess.run([sys.executable, os.path.join(HERE, "compare.py"),
                                os.path.join(d, "p"), os.path.join(d, "c")],
                               stdout=subprocess.PIPE, text=True, check=True)
        self.assertRegex(p.stdout, r"host\.calib_s .*parent med 0\.51 \| change med 0\.71")


class FailureTest(unittest.TestCase):
    def test_thrown_op_counts_as_failed_and_is_never_timed(self):
        res = harness_result(["a", "b"], threw={"b": True})
        m, _, att, failed, detail = run.aggregate(res, {"a": True, "b": True}, [])
        self.assertEqual((att, failed), (8, 4))
        self.assertNotIn("b", detail["ops"])
        self.assertNotEqual(m["pass_s"], m["pass_s"])  # no full pass: NaN, never a time

    def test_check_failure_fails_every_attempt_of_the_op(self):
        res = harness_result(["a", "b"])
        m, _, att, failed, detail = run.aggregate(res, {"a": True, "b": False}, [])
        self.assertEqual(failed, 4)
        self.assertEqual(list(detail["ops"]), ["a"])
        self.assertNotEqual(m["pass_s"], m["pass_s"])


class GeneratorTest(unittest.TestCase):
    def test_same_variant_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for gen, kw in ((gen_corpus.generate, {}), (gen_omim.generate, {})):
                a, b = os.path.join(d, "a"), os.path.join(d, "b")
                ia, ib = gen(3, a, **kw), gen(3, b, **kw)
                self.assertEqual(ia, ib)
                self.assertEqual(dir_digest(a), dir_digest(b))
                c = os.path.join(d, "c")
                gen(4, c)
                self.assertNotEqual(dir_digest(a), dir_digest(c))
                for p in (a, b, c):
                    for f in os.listdir(p):
                        os.remove(os.path.join(p, f))

    def test_release_sizes(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen_omim.generate(0, d)
        self.assertGreaterEqual(info["rows"]["mimTitles"], 27000)
        self.assertGreaterEqual(info["rows"]["obsolete"], 1300)
        self.assertEqual(info["rows"]["mappings"], 29507)
        self.assertEqual(info["rows"]["pubmed"], 29507)
        self.assertEqual((info["rows"]["protected"], info["rows"]["exclusions"],
                          info["rows"]["capitalizations"]), (576, 15, 35))


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    record = re.findall(r"run record (\S+\.json)", p.stderr)[-1]
    with open(record) as f:
        return line, json.load(f)


@unittest.skipUnless(E2E, "set PERFBENCH_E2E=1 for real runs")
class EndToEndTest(unittest.TestCase):
    def test_injected_throw_lands_in_failed_and_never_in_timings(self):
        line, rec = bench("--workload", "iterative_sf01", "--seed", "5", "--seconds", "1",
                          "--trace", "0", "--inject-fail", "q112b_pagerank_dangling")
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], line["attempted"])
        self.assertNotIn("q112b_pagerank_dangling", rec["detail"]["ops"])
        for p in [rec["harness"]["cold"]] + rec["harness"]["warm"]:
            self.assertNotIn("q112b_pagerank_dangling", p["ops"])
        for m in ("cold_pass_s", "pass_s", "job_s.geomean"):  # no fast time
            self.assertIsNone(line["metrics"][m]["value"])
        self.assertGreater(rec["host.calib_s"], 0)  # untraced runs carry it too

    def test_traced_and_untraced_outputs_have_identical_digests(self):
        for w in ("iterative_sf01", "omim_release"):
            digests = []
            for trace in ("0", "1"):
                line, rec = bench("--workload", w, "--seed", "6", "--seconds", "1",
                                  "--trace", trace)
                self.assertTrue(line["correct"])
                self.assertEqual(list(line["metrics"]),
                                 [m["name"] for m in
                                  spec()["per_layer" if trace == "1" else "end_to_end"]])
                digests.append({k: v["got"] for k, v in rec["checks"].items()})
            self.assertEqual(digests[0], digests[1], w)


if __name__ == "__main__":
    unittest.main()
