#!/usr/bin/env python3
"""Tests of the benchmark itself (not of the program under test).

    python3 perfbench/test_perfbench.py      # from the repository root

They build the harness if needed (see build.py) and start the JVM only in
its no-Spark modes, so they take seconds once the build exists.
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def harness(*args):
    classpath, _ = build.build()
    out = subprocess.run(["java", "-cp", classpath, "perfbench.PerfBench", *args],
                         capture_output=True, text=True, timeout=120, check=True)
    return out.stdout


def input_checksum(workload, seed):
    return json.loads(harness("--inputs-only", "--workload", workload, "--seed", str(seed)))[
        "input_checksum"]


def listed_metrics(trace):
    lines = harness("--list-metrics", "--trace", str(trace)).splitlines()
    return dict(line.split("\t") for line in lines)


class BenchmarkTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open("BENCHMARK.json") as fh:
            cls.spec = json.load(fh)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"]):
                a = input_checksum(w["name"], 7)
                self.assertEqual(a, input_checksum(w["name"], 7))
                self.assertNotEqual(a, input_checksum(w["name"], 8))

    def test_emitted_metrics_match_benchmark_json(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            with self.subTest(section=key):
                declared = {m["name"]: m["unit"] for m in self.spec[key]}
                self.assertEqual(listed_metrics(trace), declared)

    def test_benchmark_json_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in s[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        for p in s["paths"]:
            self.assertTrue(os.path.isdir(p), p)

    def test_a_wrong_or_failed_call_makes_the_run_incorrect(self):
        self.assertEqual(json.loads(harness("--self-check")), {
            "same_checksums": True,
            "measured_checksum_differs": False,
            "warmup_checksum_differs": False,
            "measured_call_threw": False,
            "warmup_call_threw": False,
        })

    def test_workload_names_are_known_to_the_harness(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"]):
                input_checksum(w["name"], 1)  # raises on an unknown workload


if __name__ == "__main__":
    unittest.main()
