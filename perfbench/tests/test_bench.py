"""Self-tests of the benchmark. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The JVM tests build the benchmark first (perfbench/build.py) and take a few
minutes: they generate inputs and run each pipeline once.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)

    def test_workloads_are_the_launchers(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))


def jvm(main, *args):
    classes, modules, jars = build.build(ROOT, os.path.join(ROOT, ".bench_build"))
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData"] +
           [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + list(args))
    return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)


class JvmSelfTest(unittest.TestCase):
    def test_generators_and_checkers(self):
        work = os.path.join(ROOT, ".bench_build", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        r = jvm("graftbench.SelfTest", "--work", work, "--bench", BENCH_DIR)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)


class LauncherTest(unittest.TestCase):
    def test_refuses_without_the_library(self):
        """A directory with only BENCHMARK.json and the benchmark cannot
        build the program: the run exits non-zero and prints no result."""
        d = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH_DIR, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "permits_etl", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=180)
        shutil.rmtree(d, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn("correct", r.stdout)


if __name__ == "__main__":
    unittest.main()
