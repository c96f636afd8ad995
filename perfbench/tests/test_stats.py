"""Tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench/tests   (from the repository root)

The generator test compiles the benchmark (perfbench/build.py) and runs
its JVM self-test, which needs no Spark session.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import stats  # noqa: E402


def op(dur, ok=True, items=1.0, fn="knn_topk", layer="knn", phase="loop", h="a", arg=""):
    return {"layer": layer, "fn": fn, "arg": arg, "phase": phase, "dur_s": dur, "ok": ok,
            "items": items, "rows": 1, "hash": h if ok else "", "span": 0}


def record(ops, setup=None, extra=None):
    return {"ops": ops, "setup": setup or [{"generate_s": 1.0}], "extra": extra or {},
            "trace": False, "spans": []}


class TailRule(unittest.TestCase):
    def test_few_samples_fall_back_to_the_median(self):
        xs = list(range(1, 20))  # 19 samples: no percentile above p50 has 10 beyond
        self.assertEqual(stats.tail(xs), (10, 50.0))

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct = stats.tail(xs)
        self.assertEqual(value, 20)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class FailureAsMiss(unittest.TestCase):
    def test_a_failure_is_slower_than_every_success(self):
        ops = [op(1.0), op(2.0), op(0.001, ok=False)]
        lat = stats.latencies(ops)
        self.assertGreater(lat[2], max(lat[:2]))

    def test_a_failure_never_lowers_the_median(self):
        fast_fail = record([op(1.0), op(2.0), op(3.0), op(0.001, ok=False)])
        _, detail = stats.end_to_end(fast_fail)
        self.assertEqual(detail["p50_s"], 2.5)
        self.assertEqual(detail["failed"], 1)

    def test_a_failure_completes_no_items_but_takes_time(self):
        values, _ = stats.end_to_end(record([op(1.0, items=10), op(1.0, ok=False, items=10)]))
        self.assertEqual(values["items_per_s"], 10 / 2.0)

    def test_calls_that_complete_no_items_stay_out_of_throughput(self):
        values, _ = stats.end_to_end(record([op(1.0, items=10), op(5.0, items=0, fn="write")]))
        self.assertEqual(values["items_per_s"], 10.0)

    def test_failed_fraction_per_layer(self):
        out = stats.per_layer(record([op(1.0), op(1.0, ok=False)]))
        self.assertEqual(out["ops.failed_frac"], 0.5)


class EndToEnd(unittest.TestCase):
    def test_warmup_calls_stay_out_of_the_samples(self):
        values, detail = stats.end_to_end(record([op(100.0, phase="warmup"), op(1.0)]))
        self.assertEqual(values["items_per_s"], 1.0)
        self.assertEqual(detail["ops"], 1)

    def test_setup_is_the_median_rep_plus_the_warmup(self):
        raw = record([op(1.0)], setup=[{"generate_s": 1.0, "store_build_s": 2.0},
                                       {"generate_s": 0.5, "store_build_s": 1.0},
                                       {"generate_s": 4.0, "store_build_s": 4.0}],
                     extra={"setup.warmup_s": 10.0})
        self.assertEqual(stats.end_to_end(raw)[0]["setup_s"], 13.0)


class Hashes(unittest.TestCase):
    def test_same_input_must_give_the_same_hash(self):
        checks = stats.hash_checks(record([op(1.0, h="x"), op(1.0, h="y")]))
        self.assertEqual([c["ok"] for c in checks], [False])

    def test_different_arguments_are_different_inputs(self):
        checks = stats.hash_checks(record([op(1.0, h="x", arg="qid=1"), op(1.0, h="y", arg="qid=2")]))
        self.assertTrue(all(c["ok"] for c in checks))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)], 0, 10), 7)

    def test_children_are_clipped_to_the_parent(self):
        span = {"start_us": 10, "end_us": 20}
        self.assertEqual(stats.self_time(span, [{"start_us": 0, "end_us": 15}]), 5)


class Spec(unittest.TestCase):
    def test_benchmark_json_names_what_the_benchmark_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         stats.per_layer_spec())
        with open(os.path.join(BENCH, "workloads.json")) as f:
            workloads = json.load(f)
        for w in spec["workloads"]:
            self.assertEqual(w["why"], workloads[w["name"]]["why"])


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        sys.path.insert(0, BENCH)
        import build
        cwd = os.getcwd()
        os.chdir(ROOT)
        try:
            classes = os.path.abspath(build.build())
            cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
            res = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "--selftest"],
                                 capture_output=True, text=True, timeout=300)
        finally:
            os.chdir(cwd)
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr)
        self.assertEqual(res.stdout.count(" ok"), 3, res.stdout)


if __name__ == "__main__":
    unittest.main()
