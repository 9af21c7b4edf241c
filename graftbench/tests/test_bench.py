"""Tests of the benchmark's own logic. Run from the checkout root:

    python3 -m unittest discover -s graftbench/tests
"""
import datetime
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def fake_raw(workload: str, traced: bool) -> dict:
    """A minimal raw sample set of the shape harness/Main.scala writes."""
    kinds = {"relational_warm": ["pass", "pass"], "pipeline_dag": ["cold", "steady", "steady", "steady"],
             "sensor_stream": ["block", "block"]}[workload]
    module = {"relational_warm": "operators.Retail", "pipeline_dag": "pipeline.Dedup",
              "sensor_stream": "streaming.SensorStreams"}[workload]
    units = [{"unit": i, "kind": k, "traced": traced and (k == "cold" or i % 2 == 1)}
             for i, k in enumerate(kinds)]
    ops = [{"unit": u["unit"], "name": f"q{j}", "module": module, "ms": 10.0 + j, "construct_ms": 1.0,
            "cpu_s": 0.02, "builds": 1 if u["kind"] == "cold" else 0, "ok": True,
            "commit_ms": [9.0, 10.0, 11.0], "events": 500,
            "layers": {"jobs": 2, "busy_ms": 30, "input_bytes": 1000} if u["traced"] else {}}
           for u in units for j in range(10)]
    return {"workload": workload, "traced": traced, "cpus": 4, "units": units, "ops": ops,
            "setups": [{"total_s": 5.0, "session_ms": 900.0}, {"total_s": 1.0, "session_ms": 300.0},
                       {"total_s": 1.1, "session_ms": 310.0}],
            "jvm": {"jit_s": 4.0, "gc_s": 0.2, "peak_rss_mb": 900.0, "warmup_s": 6.0},
            "stream": {"batches": [
                {"query": "sensor_per_key", "rows": 500, "durations": {"addBatch": 200},
                 "state_rows": 5, "state_bytes": 1000, "dropped_late": 0}]}
            if workload == "sensor_stream" else {},
            "probe": {k: 3.0 for k in stats.KERNELS} if traced else {},
            "attempted": len(ops), "failed": 0}


class PercentileRule(unittest.TestCase):
    def test_highest_with_ten_beyond(self):
        self.assertIsNone(stats.highest_supported(19))
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(99), 75)
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(200), 95)
        self.assertEqual(stats.highest_supported(1000), 99)

    def test_samples_needed(self):
        self.assertEqual(stats.min_samples(50), 20)
        self.assertEqual(stats.min_samples(90), 100)
        for p in stats.LADDER:
            n = stats.min_samples(p)
            self.assertGreaterEqual(stats.beyond(n, p), stats.MIN_BEYOND)
            self.assertLess(stats.beyond(n - 1, p), stats.MIN_BEYOND)

    def test_tail_refuses_thin_samples(self):
        self.assertEqual(stats.tail(list(range(1, 101)), 90), 90)
        with self.assertRaises(ValueError):
            stats.tail(list(range(99)), 90)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            base = gen.base_root(ROOT)
            a = gen.generate(11, f"{d}/a", base)
            b = gen.generate(11, f"{d}/b", base)
            c = gen.generate(12, f"{d}/c", base)
            for sub in ("tables", "drops"):
                names = sorted(os.listdir(f"{a}/{sub}"))
                self.assertEqual(names, sorted(os.listdir(f"{b}/{sub}")))
                _, mismatch, errors = filecmp.cmpfiles(f"{a}/{sub}", f"{b}/{sub}", names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), sub)
            self.assertFalse(filecmp.cmp(f"{a}/tables/lineitem.parquet",
                                         f"{c}/tables/lineitem.parquet", shallow=False))
            self.assertFalse(filecmp.cmp(f"{a}/drops/drop_00001.json",
                                         f"{c}/drops/drop_00001.json", shallow=False))

    def test_drops_deliver_the_events_table(self):
        with tempfile.TemporaryDirectory() as d:
            data = gen.generate(5, f"{d}/s", gen.base_root(ROOT))
            m = json.load(open(f"{data}/drops/manifest.json"))
            files = sorted(f for f in os.listdir(f"{data}/drops") if f.startswith("drop_"))
            drops = [[json.loads(x) for x in open(f"{data}/drops/{f}")] for f in files]
            self.assertEqual([len(x) for x in drops], m["rows"])
            got = sorted((e["event_id"], e["user_id"], e["event_type"]) for x in drops for e in x)
            want = sorted(duckdb.sql(f"SELECT event_id, user_id, event_type FROM "
                                     f"'{data}/tables/events.parquet'").fetchall())
            self.assertEqual(got, want)
            # every late row arrives LATE_DELAY drops after its own, behind the
            # end of every window that holds it plus the watermark delay, as
            # measured on the drops up to its own (the batch before's watermark)
            when = {e["event_id"]: k for k, x in enumerate(drops) for e in x}
            own = {e["event_id"]: i // gen.EVENTS_PER_DROP for i, e in
                   enumerate(sorted((e for x in drops for e in x), key=lambda e: e["event_id"]))}
            t = {e["event_id"]: datetime.datetime.fromisoformat(e["ts"]).timestamp()
                 for x in drops for e in x}
            for eid in m["late_ids"]:
                k = when[eid]
                self.assertEqual(k, own[eid] + gen.LATE_DELAY)
                seen = max(t[e["event_id"]] for x in drops[:own[eid] + 1] for e in x)
                self.assertLess(t[eid] + gen.WINDOW_S, seen - gen.WATERMARK_S)
            self.assertAlmostEqual(m["late_share"], gen.LATE_SHARE, delta=0.01)
            self.assertGreater(m["out_of_order_share"], 0)
            why = next(w["why"] for w in SPEC["workloads"] if w["name"] == "sensor_stream")
            self.assertIn(f"{gen.EVENTS_PER_DROP}-event drops", why)
            self.assertIn(f"{gen.LATE_SHARE:.0%} late", why)


class MetricNames(unittest.TestCase):
    def test_spec_names_are_well_formed(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + \
                [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, stats.NAME_RE)

    def test_every_workload_reports_exactly_the_spec(self):
        e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for w in (x["name"] for x in SPEC["workloads"]):
            got = stats.end_to_end(fake_raw(w, traced=False))
            self.assertEqual({k: u for k, (_, u) in got.items()}, e2e, w)
            got = stats.per_layer(fake_raw(w, traced=True))
            self.assertEqual({k: u for k, (_, u) in got.items()}, layer, w)


class FailureCounting(unittest.TestCase):
    def test_failures_count_against_attempts(self):
        self.assertEqual(stats.count_ops({"attempted": 120, "failed": 3}), (120, 3))
        self.assertEqual(stats.count_ops({"attempted": 120, "failed": 500}), (120, 120))
        self.assertEqual(stats.count_ops({"attempted": 0, "failed": 0}), (1, 1))


class DigestCanon(unittest.TestCase):
    def test_numbers_render_by_value_not_type(self):
        import decimal
        self.assertEqual(oracle.canon(3), oracle.canon(3.0))
        self.assertEqual(oracle.canon(decimal.Decimal("3.00")), oracle.canon(3))
        self.assertEqual(oracle.canon(decimal.Decimal("0.1")), oracle.canon(0.1))
        self.assertNotEqual(oracle.canon("3"), oracle.canon(3))
        self.assertEqual(oracle.canon(-0.0), oracle.canon(0))

    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["a", "b"], [("y", 2), ("x", 2)]))


if __name__ == "__main__":
    unittest.main()
