"""Metric-output format of the engine benchmark (no JVM needed).

    python3 -m unittest discover -s enginebench/tests
"""
import io
import json
import math
import sys
import unittest
from contextlib import redirect_stdout
from pathlib import Path
from unittest import mock

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402

DECLARED = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def payload(trace, **overrides):
    metrics = {k: {"value": 1.5, "unit": u} for k, u in run.expected_metrics(trace).items()}
    raw = {"correct": True, "attempted": 4, "failed": 0, "metrics": metrics}
    raw.update(overrides)
    return raw


class DeclarationTest(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            declared = {m["name"]: m["unit"] for m in DECLARED[key]}
            self.assertEqual(declared, table, key)

    def test_declared_workloads_are_runnable(self):
        declared = [w["name"] for w in DECLARED["workloads"]]
        self.assertTrue(set(declared) <= set(run.WORKLOADS), declared)

    def test_setup_metric_declared(self):
        setup = [m for m in DECLARED["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")


class ResultLineTest(unittest.TestCase):
    def test_exact_keys_and_metric_set(self):
        for trace in (False, True):
            res = run.result_line(payload(trace), trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(res["metrics"]), set(run.expected_metrics(trace)))
            self.assertTrue(res["correct"])
            for name, m in res["metrics"].items():
                self.assertEqual(set(m), {"value", "unit"})
                self.assertEqual(m["unit"], run.expected_metrics(trace)[name])
                self.assertIsInstance(m["value"], float)

    def test_extra_metrics_are_dropped(self):
        raw = payload(False)
        raw["metrics"]["not_declared"] = {"value": 3.0, "unit": "s"}
        self.assertNotIn("not_declared", run.result_line(raw, False)["metrics"])

    def test_missing_metric_is_incorrect(self):
        raw = payload(False)
        del raw["metrics"]["files_per_s"]
        self.assertFalse(run.result_line(raw, False)["correct"])

    def test_non_finite_metric_is_incorrect(self):
        raw = payload(True)
        raw["metrics"]["kernel.cpu_s"]["value"] = None  # NaN arrives as null
        res = run.result_line(raw, True)
        self.assertFalse(res["correct"])
        self.assertTrue(all(math.isfinite(m["value"]) for m in res["metrics"].values()))

    def test_gate_failure_propagates(self):
        res = run.result_line(payload(False, correct=False, failed=1), False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_zero_attempts_is_incorrect(self):
        res = run.result_line(payload(False, attempted=0), False)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)

    def test_metric_line_carries_unit(self):
        self.assertEqual(run.format_metric("setup_s", 0.8127, "s"), "setup_s = 0.8127 s")

    def test_last_stdout_line_is_the_json_result(self):
        """main() relays the harness, then ends with the one-line result."""
        raw = payload(False)
        with mock.patch.object(run.build, "build", return_value=Path("classes")), \
                mock.patch.object(run.build, "spark_jars", return_value=Path("jars")), \
                mock.patch.object(run, "run_jvm", return_value=(0, raw)):
            buf = io.StringIO()
            with redirect_stdout(buf):
                code = run.main(["--workload", "staged_long", "--seed", "3", "--seconds", "1",
                                 "--trace", "0"])
        self.assertEqual(code, 0)
        lines = buf.getvalue().strip().splitlines()
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        for name, unit in run.END_TO_END.items():
            self.assertIn(f"{name} = 1.5 {unit}", lines)


if __name__ == "__main__":
    unittest.main()
