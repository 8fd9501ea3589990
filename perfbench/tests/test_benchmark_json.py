"""Schema checks for BENCHMARK.json and perfbench/layers.json.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""

import json
import re
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        cls.layers = json.loads((ROOT / "perfbench/layers.json").read_text())
        cls.workloads = {w["name"] for w in cls.spec["workloads"]}
        cls.e2e = {m["name"] for m in cls.spec["end_to_end"]}

    def test_top_level_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertLessEqual(len((ROOT / "BENCHMARK.json").read_bytes()), 64 * 1024)
        self.assertTrue(1 <= len(s["command"]) <= 32)
        for arg in s["command"]:
            self.assertLessEqual(len(arg), 200)
            self.assertFalse(arg.startswith("/") or ".." in arg.split("/"), arg)
        self.assertTrue(1 <= len(s["paths"]) <= 16)
        for p in s["paths"]:
            self.assertRegex(p, PATH)
            self.assertTrue((ROOT / p).is_dir(), p)
        self.assertIsInstance(s["run_seconds"], int)
        self.assertTrue(1 <= s["run_seconds"] <= 60)

    def test_workloads(self):
        ws = self.spec["workloads"]
        self.assertTrue(2 <= len(ws) <= 8)
        for w in ws:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"], w["name"])

    def test_metrics(self):
        e2e, pl = self.spec["end_to_end"], self.spec["per_layer"]
        self.assertTrue(1 <= len(e2e) <= 16)
        self.assertTrue(1 <= len(pl) <= 128)
        names = [m["name"] for m in e2e + pl] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for m in e2e:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m["name"])
        for m in pl:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in e2e + pl:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = next(m for m in e2e if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in e2e))

    def test_every_per_layer_metric_names_what_it_moves(self):
        declared = {m["name"] for m in self.spec["per_layer"]}
        self.assertEqual(declared, set(self.layers["per_layer"]))
        for section in ("per_layer", "spans"):
            for name, entry in self.layers[section].items():
                self.assertIn(entry["moves"], self.e2e, f"{section} {name}")
                self.assertTrue(entry["workloads"], f"{section} {name}")
                for w in entry["workloads"]:
                    self.assertIn(w, self.workloads, f"{section} {name}")


if __name__ == "__main__":
    unittest.main()
