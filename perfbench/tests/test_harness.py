"""Self-tests of the benchmark harness. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import subprocess
import sys
import tempfile
import unittest
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
sys.path.insert(0, str(BENCH))

import compare  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(harness.tail_percentile(19))
        self.assertEqual(harness.tail_percentile(40), 75.0)
        self.assertEqual(harness.tail_percentile(100), 90.0)
        self.assertEqual(harness.tail_percentile(200), 95.0)
        self.assertEqual(harness.tail_percentile(10000), 99.9)

    def test_p99_suppressed_below_1000_samples(self):
        self.assertNotEqual(harness.tail_percentile(999), 99.0)
        self.assertNotIn("p99", harness.summarize(list(range(999))))
        self.assertEqual(harness.tail_percentile(1000), 99.0)
        s = harness.summarize(list(range(1, 1001)))
        self.assertEqual(s["n"], 1000)
        self.assertEqual(s["p99"], 990)
        self.assertEqual(s["p50"], 500.5)

    def test_nearest_rank(self):
        self.assertEqual(harness.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(harness.percentile([1, 2, 3, 4], 75), 3)
        self.assertEqual(harness.percentile([7], 99), 7)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(harness.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_clipped_to_parent(self):
        self.assertEqual(harness.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_nested_and_disjoint(self):
        self.assertEqual(harness.self_time((0, 10), [(2, 8), (3, 4)]), 4)
        self.assertEqual(harness.self_time((0, 10), []), 10)

    def test_attribution_sums_to_union(self):
        ivs = [(0, 6), (2, 4), (5, 9)]
        shares = harness.attribute(ivs)
        self.assertEqual(shares, [3, 2, 4])
        self.assertAlmostEqual(sum(shares), harness.union_length(ivs))

    def test_build_spans_accounts_job_wall(self):
        raw = {"spans": [
            {"id": 1, "parent": 0, "kind": "workload", "name": "w", "start_ns": 0,
             "end_ns": 10_000_000_000},
            {"id": 2, "parent": 1, "kind": "job", "name": "TopK.tokensArray",
             "start_ns": 1_000_000_000, "end_ns": 5_000_000_000}],
            "measured": {"iterations": []},
            "spark_jobs": [{"job_id": 0, "group": "2", "start_ms": 1100, "end_ms": 4800,
                            "stages": [
                                {"stage_id": 0, "name": "scan", "start_ms": 1200, "end_ms": 3000},
                                {"stage_id": 1, "name": "merge", "start_ms": 2500,
                                 "end_ms": 4500}]}]}
        spans = {s["id"]: s for s in harness.build_spans(raw)}
        self.assertAlmostEqual(spans[2]["self"], 0.3)
        self.assertAlmostEqual(spans[1]["self"], 6.0)
        [b] = harness.job_breakdown(raw)
        self.assertAlmostEqual(sum(b["stage_shares_s"]) + b["driver_s"], b["wall_s"])
        self.assertAlmostEqual(b["driver_s"], 0.7)


class Names(unittest.TestCase):
    def test_pattern(self):
        for ok in ("setup_s", "operators.task_skew", "p99", "a-b.c_d", "x" * 64):
            self.assertTrue(harness.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "latency(ms)", "x" * 65, "é"):
            self.assertFalse(harness.valid_name(bad), bad)

    def test_every_metric_name_and_unit_is_valid(self):
        every = dict(harness.PER_LAYER, **harness.DEDUP_LAYER, **harness.END_TO_END)
        for name in every:
            self.assertTrue(harness.valid_name(name), name)
        for unit in every.values():
            self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_matches_harness(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, harness.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, harness.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], [w for w in run.WORKLOADS if w != "docs_minhash"])


class Backlog(unittest.TestCase):
    def test_steady_sawtooth_does_not_grow(self):
        # the rate source releases one second of rows at a time
        series = [(t / 2, 1000 * ((t % 2) + 0.5)) for t in range(20)]
        self.assertFalse(harness.backlog_grows(series, 1000))

    def test_linear_growth_grows(self):
        series = [(t, 600.0 * t) for t in range(10)]
        self.assertTrue(harness.backlog_grows(series, 1000))

    def test_too_few_batches_counts_as_growth(self):
        self.assertTrue(harness.backlog_grows([(0, 0), (5, 0)], 1000))

    def test_backlog_series_from_batches(self):
        rung = {"created_ms": 1000, "rate": 100, "batches": [
            {"batch": 1, "start_ms": 3000, "rows": 100, "durations": {"triggerExecution": 500}},
            {"batch": 0, "start_ms": 2000, "rows": 100, "durations": {"triggerExecution": 500}}]}
        self.assertEqual(harness.backlog_series(rung), [(1.5, 50.0), (2.5, 50.0)])

    def test_delivered_rate(self):
        def b(i, start_ms, rows, ms):
            return {"batch": i, "start_ms": start_ms, "rows": rows,
                    "durations": {"triggerExecution": ms}}
        # 1,000 rows/s from t=0: batches right after each one-second release
        rung = {"created_ms": 0, "batches": [b(1, 2000, 1000, 500), b(0, 1000, 1000, 1500),
                                              b(2, 3000, 1000, 400)]}
        self.assertEqual(harness.delivered_rate(rung), 3000 / 3.4)
        # a slower engine delivers less of the same offered rate
        rung["batches"][2]["durations"]["triggerExecution"] = 1600
        self.assertLess(harness.delivered_rate(rung), 3000 / 3.4)
        self.assertEqual(harness.delivered_rate({"created_ms": 0, "batches": []}), 0.0)

    def test_sustained_eps(self):
        rungs = [{"rate": 1000, "grows": False, "tail_ms": 2000},
                 {"rate": 4000, "grows": False, "tail_ms": 3900},
                 {"rate": 16000, "grows": True, "tail_ms": 2500}]
        self.assertEqual(harness.sustained_eps(rungs), 4000)
        rungs[1]["tail_ms"] = 4100
        self.assertEqual(harness.sustained_eps(rungs), 1000)
        self.assertEqual(harness.sustained_eps([{"rate": 5, "grows": False, "tail_ms": None}]), 0)


class StreamVerdict(unittest.TestCase):
    # 1,000 rows/s, 1 s ticks: batch i takes the 1,000 rows of second i
    RATE = 1000

    def rung(self, n_batches, emitted_through, keys=("a", "b")):
        """Data in ticks 0..n_batches-1 for every key, emissions (all good,
        recall 1) for ticks 0..emitted_through; each key's window spans
        four ticks, so its last data tick keeps windows with data to +3."""
        batches = [{"batch": i, "rows": self.RATE} for i in range(n_batches)]
        key_ticks = []
        for _ in keys:
            for t in range(n_batches + 3):
                emitted = t <= emitted_through
                key_ticks.append([t, int(emitted), 0, 1.0 if emitted else 0.0])
        return {"rate": self.RATE, "tick_ms": 1000, "batches": batches,
                "verdict": {"dupes": 0, "key_ticks": key_ticks, "notes": []}}

    def test_last_complete_tick_from_the_batches_before_the_last(self):
        batches = [{"batch": i, "rows": 1000} for i in range(6)]
        # the last batch runs with the watermark at row 4,999: 4,999 ms
        self.assertEqual(harness.last_complete_tick(batches, 1000, 1000), 3)
        self.assertEqual(harness.last_complete_tick(batches[:1], 1000, 1000), None)
        self.assertEqual(harness.last_complete_tick(list(reversed(batches)), 1000, 1000), 3)
        # at 8,000 rows/s the same row counts cover an eighth of the time
        self.assertEqual(harness.last_complete_tick(batches, 8000, 1000), -1)

    def test_complete_emission_passes(self):
        v = harness.stream_verdict(self.rung(6, 3))
        self.assertEqual((v["attempted"], v["failed"], v["recall"]), (8, 0, 1.0))

    def test_truncated_emission_fails_every_due_tick(self):
        # emission stalls after tick 1 while the watermark completed tick 3
        v = harness.stream_verdict(self.rung(6, 1))
        self.assertEqual((v["attempted"], v["failed"]), (8, 4))
        self.assertAlmostEqual(v["recall"], 0.5)
        self.assertIn("never emitted", v["notes"][-1])

    def test_rung_with_no_emission_fails(self):
        v = harness.stream_verdict(self.rung(6, -1))
        self.assertEqual((v["attempted"], v["failed"], v["recall"]), (8, 8, 0.0))
        v = harness.stream_verdict(self.rung(1, -1))
        self.assertEqual((v["attempted"], v["failed"]), (1, 1))

    def test_bad_and_duplicate_emissions_fail(self):
        r = self.rung(6, 3)
        r["verdict"]["key_ticks"][0][2] = 1
        r["verdict"]["dupes"] = 2
        v = harness.stream_verdict(r)
        self.assertEqual((v["attempted"], v["failed"]), (8, 3))
        self.assertAlmostEqual(v["recall"], 7 / 8)

    def test_emission_beyond_the_due_ticks_is_judged(self):
        r = self.rung(6, 4)
        r["verdict"]["key_ticks"][4][2] = 1
        v = harness.stream_verdict(r)
        self.assertEqual((v["attempted"], v["failed"]), (10, 1))


class Seeds(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in run.WORKLOADS:
            self.assertEqual(harness.derive_seed(7, w), harness.derive_seed(7, w))

    def test_seed_and_workload_change_the_input_seed(self):
        seeds = {harness.derive_seed(s, w) for s in range(20) for w in run.WORKLOADS}
        self.assertEqual(len(seeds), 20 * len(run.WORKLOADS))
        self.assertTrue(all(0 <= s < 2 ** 62 for s in seeds))

    def test_seed_reaches_the_jvm_arguments(self):
        args = run.parse_args(["--workload", "docs_minhash", "--seed", "11", "--seconds", "3"])
        cmd = run.jvm_args(args, "w", "o.json")
        self.assertIn("docs_minhash:%d" % harness.derive_seed(11, "docs_minhash"), cmd)
        self.assertEqual(cmd[cmd.index("--seconds") + 1], "3.0")
        other = run.jvm_args(run.parse_args(["--workload", "docs_minhash", "--seed", "12"]),
                             "w", "o.json")
        self.assertNotEqual(cmd[1], other[1])

    def test_options_are_workload_seed_seconds_trace(self):
        args = run.parse_args(["--workload", "tokens_topk", "--seed", "3", "--seconds", "2",
                               "--trace", "1"])
        self.assertEqual(sorted(vars(args)), ["seconds", "seed", "trace", "workload"])


class Build(unittest.TestCase):
    def test_reused_classes_are_copies(self):
        with tempfile.TemporaryDirectory() as d:
            root = Path(d).resolve()
            classes = root / "target" / "classes"
            classes.mkdir(parents=True)
            (classes / "A.class").write_text("v1")
            jar = "/elsewhere/spark-core.jar"
            cp = run.snapshot_classes([str(classes), jar, ""], root / "build" / "classes", root)
            self.assertEqual(cp[1], jar)
            self.assertEqual(len(cp), 2)
            self.assertTrue(cp[0].endswith(".jar"))
            # a later compile into target/ does not reach the snapshot
            (classes / "A.class").write_text("v2")
            with zipfile.ZipFile(cp[0]) as z:
                self.assertEqual(z.read("A.class"), b"v1")


class HostKeying(unittest.TestCase):
    def record(self, nproc, master="local[4]"):
        return {"host": {"nproc": nproc, "master": master, "seed": 1}, "workload": "w",
                "trace": 0, "input": {"fingerprint": "ab", "rows": 3},
                "metrics": {"setup_s": {"value": 1.0, "unit": "s"}}}

    def test_refuses_a_baseline_from_another_cpu_count(self):
        with self.assertRaises(compare.Refused):
            compare.check_comparable(self.record(32, "local[32]"), self.record(4))
        with self.assertRaises(compare.Refused):
            compare.check_comparable(self.record(4, "local[2]"), self.record(4))
        compare.check_comparable(self.record(4), self.record(4))

    def test_command_line_refusal(self):
        with tempfile.TemporaryDirectory() as d:
            base, new = Path(d, "base.jsonl"), Path(d, "new.jsonl")
            base.write_text(json.dumps(self.record(32, "local[32]")) + "\n")
            new.write_text(json.dumps(self.record(4)) + "\n")
            r = subprocess.run([sys.executable, str(BENCH / "compare.py"), str(base), str(new)],
                               capture_output=True, text=True)
            self.assertEqual(r.returncode, 2, r.stdout + r.stderr)
            self.assertIn("cpu", r.stderr)
            r = subprocess.run([sys.executable, str(BENCH / "compare.py"), str(new), str(new)],
                               capture_output=True, text=True)
            self.assertEqual(r.returncode, 0, r.stderr)
            self.assertIn("setup_s", r.stdout)


if __name__ == "__main__":
    unittest.main()
