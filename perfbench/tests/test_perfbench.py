"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. They build the harness the way run.py
does. The oracle cross-check runs graft.Verify over the bundled tables
and the DuckDB oracle (tools/check.py) and takes a few minutes; set
PERFBENCH_SKIP_ORACLE=1 to leave it out.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def java(classes, jars, main, *args, env=None, cwd=None):
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx2g", f"-Djava.io.tmpdir={cwd or tempfile.gettempdir()}",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", main, *args]
    return subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=cwd, timeout=900)


class Harness(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jars = run.spark_jars()
        cls.classes, _ = run.build(cls.jars)
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="test-", dir=os.path.join(ROOT, ".bench_work"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def digest(self, seed, tag):
        out = os.path.join(self.tmp, f"dicom-{seed}-{tag}")
        r = java(self.classes, self.jars, "perfbench.GenTool", str(seed), out, "4")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return r.stdout.strip().splitlines()[-1]

    def test_generators_are_seeded(self):
        a, b, c = self.digest(7, "a"), self.digest(7, "b"), self.digest(8, "c")
        self.assertEqual(a, b, "same seed, different bytes")
        self.assertNotEqual(a, c, "different seeds, same bytes")

    @unittest.skipIf(os.environ.get("PERFBENCH_SKIP_ORACLE"), "oracle cross-check skipped")
    def test_recorded_checksums_match_the_oracle(self):
        """The checksums query_mix checks against are those of results the
        DuckDB oracle accepts."""
        data = os.path.join(BENCH, "data", "sf0.01")
        out = os.path.join(self.tmp, "verify")
        env = dict(os.environ, SPARK_GRAFT_CPUS="4",
                   GRAFT_STAGE_DIR=os.path.join(self.tmp, "stage"))
        r = java(self.classes, self.jars, "graft.Verify", data, out, env=env, cwd=self.tmp)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, out],
                           capture_output=True, text=True, env=env, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        got = os.path.join(self.tmp, "verify.tsv")
        r = java(self.classes, self.jars, "perfbench.QueryMixTool", "dirs", out, got,
                 env=env, cwd=self.tmp)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        def table(path):
            with open(path) as f:
                return dict(l.split("\t", 1) for l in f.read().splitlines())
        recorded = table(os.path.join(BENCH, "data", "query_mix_checksums.tsv"))
        verified = table(got)
        self.assertEqual(sorted(verified), sorted(recorded))
        diff = [n for n in recorded if recorded[n] != verified[n]]
        self.assertEqual(diff, [], "recorded checksums differ from oracle-checked results")


class Contract(unittest.TestCase):
    def test_benchmark_json(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual(sorted(spec), sorted(["command", "paths", "run_seconds", "workloads",
                                               "end_to_end", "per_layer"]))
        self.assertTrue(1 <= spec["run_seconds"] <= 60)
        self.assertTrue(2 <= len(spec["workloads"]) <= 8)
        for w in spec["workloads"]:
            self.assertEqual(sorted(w), ["name", "why"])
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        for m in spec["end_to_end"]:
            self.assertEqual(sorted(m), ["better", "bound", "name", "unit"])
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(sorted(m), ["better", "name", "unit"])
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_fails_without_the_sources(self):
        """In a directory holding only the benchmark, the command exits
        non-zero without printing a result."""
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, env=env, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
