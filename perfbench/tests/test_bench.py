"""Self-tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, "expected", "digests.json")) as f:
    EXPECTED = json.load(f)
UNIVERSE = {n: q["object"] for n, q in EXPECTED["queries"].items()}
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertTrue(metrics.tail_supported(100, 0.9))
        self.assertFalse(metrics.tail_supported(99, 0.9))
        self.assertTrue(metrics.tail_supported(20, 0.5))
        self.assertFalse(metrics.tail_supported(19, 0.5))

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.quantile([5], 0.9), 5)


class HostSpeedScaling(unittest.TestCase):
    def test_cpu_is_scaled_by_the_kernel(self):
        ops = [{"name": "a", "extra": {"cpu_ms": 100.0}},
               {"name": "b", "extra": {"cpu_ms": 400.0}}]
        rec = {"setup_cpu_ms": 20000.0, "ops": ops,
               "kernel_setup_ns": metrics.REF_KERNEL_NS,
               "kernel_timed_ns": 2 * metrics.REF_KERNEL_NS}
        e2e = metrics.end_to_end(rec)
        self.assertAlmostEqual(e2e["setup_s"], 20.0)
        self.assertAlmostEqual(e2e["op_cpu_ms"], 100.0)  # geomean 200, host at half speed


class MetricNames(unittest.TestCase):
    def test_charset_and_units(self):
        names = metrics.END_TO_END + metrics.per_layer_names(UNIVERSE)
        for name, unit in names:
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(unit, metrics.UNIT_RE)
        self.assertEqual(len(names), len({n for n, _ in names}))
        self.assertFalse(metrics.NAME_RE.match("_leading"))
        self.assertFalse(metrics.NAME_RE.match("a" * 65))
        self.assertFalse(metrics.NAME_RE.match("bad name"))

    def test_spec_lists_every_metric(self):
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["per_layer"]],
                         metrics.per_layer_names(UNIVERSE))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_lake_stream(self):
        self.assertEqual(workloads.lake_input(7), workloads.lake_input(7))
        self.assertNotEqual(workloads.lake_input(7)["ops"],
                            workloads.lake_input(8)["ops"])

    def test_same_seed_same_query_order(self):
        a = workloads.olap_input(3)
        self.assertEqual(a, workloads.olap_input(3))
        self.assertNotEqual(a["queries"], workloads.olap_input(4)["queries"])

    def test_one_query_per_family(self):
        key = lambda n: (UNIVERSE[n], workloads.family(n))
        fams = {key(n) for n in UNIVERSE if not n.startswith("l")}
        picked = [key(n) for n in workloads.OLAP_QUERIES]
        self.assertEqual(sorted(picked), sorted(fams))

    def test_blocks_have_a_fixed_mix(self):
        inp = workloads.lake_input(5)
        n = inp["cycle"]
        kinds = lambda ops: sorted(o["op"] for o in ops)
        self.assertEqual(kinds(inp["ops"][:n]), kinds(inp["ops"][n:2 * n]))
        self.assertEqual(kinds(inp["ops"][:n]), kinds(inp["warmup_ops"]))


class Checker(unittest.TestCase):
    ROWS = [(1, 2.5, "a", decimal.Decimal("1.20")), (2, None, "b", decimal.Decimal("3.00"))]
    COLS = ["k", "x", "s", "d"]

    def test_corrupted_row_is_caught(self):
        good = canon.digest(self.COLS, self.ROWS)
        bad = [self.ROWS[0], (2, None, "b", decimal.Decimal("3.01"))]
        self.assertNotEqual(good, canon.digest(self.COLS, bad))
        self.assertNotEqual(good, canon.digest(self.COLS, self.ROWS[:1]))
        # column order is canonical, types are not conflated
        cols = ["s", "x", "k", "d"]
        rows = [(r[2], r[1], r[0], r[3]) for r in self.ROWS]
        self.assertEqual(good, canon.digest(cols, rows))
        self.assertNotEqual(canon.value(1), canon.value(1.0))

    def test_wrong_lake_state_fails_its_writes(self):
        inp = workloads.lake_input(2)
        done = 2 * inp["cycle"]
        model = workloads.LakeModel()
        for op in inp["setup_ops"] + inp["warmup_ops"] + inp["ops"][:done]:
            model.apply(op)
        state = dict(model.state(), ops_done=[done])
        failed, bad = workloads.lake_failures(inp, {"state": state})
        self.assertEqual((failed, bad), (set(), set()))
        state["dim"] = [state["dim"][0], state["dim"][1] + 1]
        failed, bad = workloads.lake_failures(inp, {"state": state})
        self.assertEqual(bad, {"dim"})
        self.assertTrue(failed)
        self.assertTrue(all(workloads.WRITES[inp["ops"][i]["op"]] == "dim"
                            for i in failed))


if __name__ == "__main__":
    unittest.main()
