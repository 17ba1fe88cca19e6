"""Tests of the benchmark's own checks: python3 perfbench/test_checks.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import metrics  # noqa: E402
from stats import percentile  # noqa: E402

GROUPS = ("myGroup", "replay0", "replay1", "replay2")
EXPECTED = {"q1": {"rows": 4, "checksum": "00000000000000aa"}}


def check(rows=4, checksum="00000000000000aa", error=None):
    return {"t": "check", "key": "q1", "rows": rows, "checksum": checksum, "error": error}


def eventlog_run(delivered_offsets):
    """Two produced messages on partition 0, delivered to every group at
    the given offsets; committed positions match the high-water-mark."""
    records = [{"t": "produce", "first": 0, "n": 2}, {"t": "poll"},
               {"t": "topic", "hwm": {"0": 1},
                "committed": {g: {"0": 1} for g in GROUPS}}]
    delivered = [(g, 0, off, i) for g in GROUPS
                 for i, off in enumerate(delivered_offsets)]
    return records, delivered


class KeyChecks(unittest.TestCase):
    def test_matching_result_passes(self):
        self.assertEqual(checks.check_keys([check()], EXPECTED), (1, 0, []))

    def test_corrupted_checksum_is_a_failed_op(self):
        attempted, failed, problems = checks.check_keys([check(checksum="00000000000000ab")],
                                                        EXPECTED)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("checksum", problems[0])

    def test_wrong_row_count_and_error_are_failed_ops(self):
        op = {"t": "op", "key": "q1", "rows": 5, "error": None}
        self.assertEqual(checks.check_keys([op, check(error="boom")], EXPECTED)[:2], (2, 2))


class EventLogChecks(unittest.TestCase):
    def test_complete_delivery_passes(self):
        self.assertEqual(checks.check_eventlog(*eventlog_run([0, 1]))[1], 0)

    def test_missing_offset_is_a_failed_op(self):
        records, delivered = eventlog_run([0, 2])
        attempted, failed, problems = checks.check_eventlog(records, delivered)
        self.assertEqual((attempted, failed), (14, 4))  # one gap in each group
        self.assertTrue(all("misses 1 offsets" in p for p in problems))

    def test_repeated_offset_is_a_failed_op(self):
        # both messages arrive once each, but at the same offset
        records, delivered = eventlog_run([0, 0])
        attempted, failed, problems = checks.check_eventlog(records, delivered)
        self.assertEqual(failed, 4)
        self.assertTrue(all("repeats 1 offsets" in p for p in problems))

    def test_undelivered_message_and_final_lag_fail(self):
        records, delivered = eventlog_run([0, 1])
        records[-1]["committed"]["replay0"] = {"0": 0}
        delivered = [d for d in delivered if not (d[0] == "replay0" and d[3] == 1)]
        self.assertEqual(checks.check_eventlog(records, delivered)[1], 2)

    def test_failed_never_exceeds_attempted(self):
        records, _ = eventlog_run([0, 1])
        records[-1]["committed"] = {}
        attempted, failed, _ = checks.check_eventlog(records, [])
        self.assertEqual(failed, 8)  # delivery and lag, per group
        self.assertLessEqual(failed, attempted)


def span(sid, name, parent, start, end, layer="eventlog"):
    return {"t": "span", "id": sid, "name": name, "layer": layer, "parent": parent,
            "start": start * 10**9, "end": end * 10**9}


class EventLogMetrics(unittest.TestCase):
    def test_every_timed_produce_counts_and_warm_ones_do_not(self):
        # produce 4 ran on the producer thread, nested under `measure` by
        # Trace.within; produce 2 ran during set-up
        records = [
            span(1, "session", 0, 0, 1, "core"), span(7, "table_touch", 0, 1, 1, "core"),
            span(2, "produce", 3, 1, 2),
            span(3, "warm", 0, 1, 3, "harness"), span(5, "measure", 0, 3, 10, "harness"),
            span(6, "produce", 5, 3, 4), span(4, "produce", 5, 5, 8),
            {"t": "job", "id": 0, "span": 4, "start_ms": 5500, "end_ms": 5600,
             "tasks": 1, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0},
            {"t": "produce", "due": 0, "start": 0, "end": 0, "n": 2},
            {"t": "poll", "group": "myGroup", "n": 0},
            {"t": "replay", "start": 8 * 10**9, "end": 10 * 10**9},
            {"t": "topic", "files": 16}, {"t": "rss", "peak_mb": 1.0}]
        out = metrics.per_layer("eventlog", metrics.by_kind(records), [])
        self.assertEqual(out["eventlog.produce_mean_s"], 2.0)  # (1 s + 3 s) / 2
        self.assertEqual(out["eventlog.jobs_per_produce"], 0.5)


    def test_backlog_is_taken_as_each_append_completes(self):
        produced = [{"end": 10, "n": 2}, {"end": 20, "n": 2}]
        delivered = [("myGroup", 0, 0, 0, 0, 12), ("myGroup", 0, 1, 1, 0, 22),
                     ("myGroup", 0, 2, 2, 0, 25), ("myGroup", 0, 3, 3, 0, 25),
                     ("replay0", 0, 0, 0, 0, 1)]
        # at 10: 2 appended, none delivered; at 20: 4 appended, 1 delivered
        self.assertEqual(metrics.backlog_max(produced, delivered), 3)


class Latency(unittest.TestCase):
    def test_geometric_mean_of_each_kinds_median(self):
        kinds = {"fast": [1.0, 1.0, 9.0], "slow": [4.0, 3.0, 4.0, 5.0]}
        self.assertAlmostEqual(metrics.latency(kinds), 2.0)  # sqrt(1 * 4)

    def test_many_samples_take_the_nearest_rank_median(self):
        # the plain median of 1..20 would be 10.5
        self.assertAlmostEqual(metrics.latency({"deliver": [float(x) for x in range(1, 21)]}), 10.0)


class IngestChecks(unittest.TestCase):
    def test_growth_must_equal_the_slice(self):
        batch = {"t": "batch", "ingest": "mv", "slice": 0, "progress_batches": 1, "growth": 10}
        self.assertEqual(checks.check_ingest([batch], {"mv": {"0": 10}})[1], 0)
        self.assertEqual(checks.check_ingest([batch], {"mv": {"0": 11}})[1], 1)


class Percentile(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            percentile(range(19), 0.5)  # rank 10 of 19: 9 beyond
        with self.assertRaises(ValueError):
            percentile(range(99), 0.9)

    def test_nearest_rank(self):
        self.assertEqual(percentile(range(1, 21), 0.5), 10)
        self.assertEqual(percentile(range(1, 101), 0.9), 90)


if __name__ == "__main__":
    unittest.main()
