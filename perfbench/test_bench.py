"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import bench_lib as B
import run


class SeededInputs(unittest.TestCase):
    def test_olap_sequence_is_a_function_of_the_seed(self):
        self.assertEqual(B.olap_sequence(7, 30), B.olap_sequence(7, 30))
        self.assertNotEqual(B.olap_sequence(7, 30), B.olap_sequence(8, 30))

    def test_olap_rounds_hold_the_same_mix(self):
        seq = B.olap_sequence(3, 20)
        self.assertEqual(len(seq), 20 * B.ROUND)
        for r in range(20):
            rnd = seq[r * B.ROUND:(r + 1) * B.ROUND]
            self.assertEqual(sorted(k for c, k in rnd if c == "read"), sorted(B.OLAP_READ_POOL))
            self.assertEqual(sorted(k for c, k in rnd if c == "write"), sorted(B.WRITES_PER_ROUND))
            for i in range(0, B.ROUND, B.WRITE_EVERY):
                self.assertEqual(sum(c == "write" for c, _ in rnd[i:i + B.WRITE_EVERY]), 1)
        self.assertFalse({k for _, k in seq} & set(B.HEAVY_KEYS))

    def test_ingest_events_are_a_function_of_the_seed(self):
        self.assertEqual(B.ingest_events(5, keys=200), B.ingest_events(5, keys=200))
        self.assertNotEqual(B.ingest_events(5, keys=200), B.ingest_events(6, keys=200))

    def test_ingest_events_arrive_in_event_time_order_per_key(self):
        ev = B.ingest_events(1)
        self.assertEqual(len({k for _, k, _, _ in ev}), B.INGEST_KEYS)
        last = {}
        for _, k, ts, _ in ev:
            self.assertGreater(ts, last.get(k, -1))
            last[k] = ts

    def test_reference_rates_apply_the_reset_rule(self):
        ev = [(0, 7, 0, 10.0), (1, 7, 60_000, 70.0), (2, 7, 120_000, 130.0),
              (3, 7, 180_000, 10.0)]
        rates = [r for _, _, r in B.reference_rates(ev)]
        self.assertEqual(rates, [1.0, 1.0, 10.0 / 60])

    def test_a_longer_stream_starts_with_the_shorter_one(self):
        short = B.ingest_events(5, keys=200, rounds=2)
        long = B.ingest_events(5, keys=200, rounds=6)
        self.assertEqual(long[:len(short)], short)
        self.assertEqual(B.before_round(B.reference_rates(long), 2), B.reference_rates(short))

    def test_rows_digest_ignores_order(self):
        rows = [(1, 2, 0.5), (0, 1, 1.5)]
        self.assertEqual(B.rows_digest(rows), B.rows_digest(rows[::-1]))
        self.assertNotEqual(B.rows_digest(rows), B.rows_digest(rows[:1]))


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(B.percentile(vals, 0.5), 50)
        self.assertEqual(B.percentile(vals, 0.9), 90)
        self.assertEqual(B.percentile([3.0], 0.99), 3.0)

    def test_ten_samples_beyond_rule(self):
        self.assertIsNone(B.tail_percentile(19))
        self.assertEqual(B.tail_percentile(20), 0.5)
        self.assertEqual(B.tail_percentile(39), 0.5)
        self.assertEqual(B.tail_percentile(40), 0.75)
        self.assertEqual(B.tail_percentile(99), 0.75)
        self.assertEqual(B.tail_percentile(100), 0.9)
        self.assertEqual(B.tail_percentile(999), 0.9)
        self.assertEqual(B.tail_percentile(1000), 0.99)
        self.assertEqual(B.tail_percentile(10_000), 0.99)


class SustainedRate(unittest.TestCase):
    def test_flat_oscillating_backlog_is_not_growing(self):
        flat = [(i % 10) * 100 for i in range(200)]
        self.assertFalse(B.backlog_growing(flat, rate=1000))

    def test_linearly_growing_backlog_is_growing(self):
        grow = [i * 50 for i in range(200)]
        self.assertTrue(B.backlog_growing(grow, rate=1000))

    def test_growth_within_the_slack_is_flat(self):
        creep = [1000 + i * 0.5 for i in range(200)]
        self.assertFalse(B.backlog_growing(creep, rate=1000))

    def test_burst_drain_rate_is_the_median_past_the_first_quarter(self):
        bursts = [(100, 10.0), (100, 5.0), (100, 1.0), (100, 2.0), (100, 0.5),
                  (100, 1.0), (100, 1.0), (100, 4.0)]
        self.assertEqual(B.burst_drain_rate(bursts), 100.0)

    def test_highest_kept_rate_or_drain_rate(self):
        self.assertEqual(B.sustained_rate([(100, False), (200, False)], 300), 300)
        self.assertEqual(B.sustained_rate([(100, False), (200, False)], 150), 200)
        self.assertEqual(B.sustained_rate([(100, False), (200, True)], 150), 150)


class Posture(unittest.TestCase):
    BASE = {"workload": "olap_mix", "nproc": 4, "master": "local[4]",
            "shuffle_partitions": "4", "initial_partition_num": "256", "xmx": "3g",
            "jdk": "openjdk 17", "seconds": 10, "fixture": "sf0.01", "seed": 1,
            "commit": "a"}

    def test_same_posture_other_seed_and_commit_is_comparable(self):
        B.check_comparable(self.BASE, dict(self.BASE, seed=2, commit="b"))

    def test_core_count_mismatch_is_refused(self):
        with self.assertRaises(B.PostureMismatch) as e:
            B.check_comparable(self.BASE, dict(self.BASE, nproc=32, master="local[32]"))
        self.assertIn("nproc", str(e.exception))

    def test_compare_command_refuses(self):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, p in enumerate((self.BASE, dict(self.BASE, xmx="8g"))):
                paths.append(os.path.join(d, f"{i}.json"))
                with open(paths[-1], "w") as fh:
                    json.dump({"posture": p, "e2e": dict.fromkeys(run.E2E, 1.0)}, fh)
            self.assertEqual(run.compare(paths), 3)


class TraceReducer(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "kind": "op", "start_s": 0.0, "end_s": 1.0},
                 {"id": 1, "parent": 0, "kind": "build", "start_s": 0.0, "end_s": 0.25},
                 {"id": 2, "parent": 0, "kind": "exec", "start_s": 0.25, "end_s": 0.75}]
        self.assertEqual(B.self_times(spans), {"op": 0.25, "build": 0.25, "exec": 0.5})

    def test_reconcile_reports_the_gap_outside_the_spans(self):
        ops = [{"wall_s": 1.0, "build_s": 0.25, "plan_s": 0.25, "exec_s": 0.25}]
        self.assertEqual(B.reconcile(ops), (1, 0.25))

    def test_counters_exclude_the_check_phase(self):
        row = dict.fromkeys(B.COUNTER_FIELDS, 1)
        counters = [dict(row, group="o1/build"), dict(row, group="o1/exec"),
                    dict(row, group="o1/check"), dict(row, group="stream-run-id")]
        self.assertEqual(B.op_counters(counters), {"o1": dict.fromkeys(B.COUNTER_FIELDS, 2)})


if __name__ == "__main__":
    unittest.main()
