"""Self-tests of the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.percentile(xs, 50), 30)
        self.assertEqual(stats.percentile(xs, 75), 40)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(39), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)


class SpanSelfTime(unittest.TestCase):
    def span(self, layer, s, e):
        return {"name": layer, "layer": layer, "start_ms": s, "end_ms": e, "request": "r"}

    def test_children_are_subtracted_once(self):
        spans = [self.span("cdc", 0, 100),
                 self.span("spark", 10, 40), self.span("spark", 30, 60),
                 self.span("spark", 80, 90)]
        selfs = stats.self_times(spans)
        # children cover 10..60 and 80..90 of the parent
        self.assertAlmostEqual(selfs["cdc"], 40)
        self.assertAlmostEqual(selfs["spark"], 30 + 30 + 10)

    def test_innermost_container_is_the_parent(self):
        spans = [self.span("streaming", 0, 100), self.span("cdc", 10, 90),
                 self.span("spark", 20, 30)]
        stats.assign_parents(spans)
        self.assertIsNone(spans[0]["parent"])
        self.assertEqual(spans[1]["parent"], 0)
        self.assertEqual(spans[2]["parent"], 1)
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs["streaming"], 20)
        self.assertAlmostEqual(selfs["cdc"], 70)
        self.assertAlmostEqual(selfs["spark"], 10)

    def test_disjoint_spans_have_no_parent(self):
        spans = [self.span("table", 0, 10), self.span("table", 20, 30)]
        stats.assign_parents(spans)
        self.assertEqual([s["parent"] for s in spans], [None, None])

    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_ms([]), 0)
        self.assertEqual(stats.clip((0, 10), (5, 20)), (5, 10))
        self.assertIsNone(stats.clip((0, 5), (5, 20)))


class FailureAccounting(unittest.TestCase):
    def test_clean_run(self):
        self.assertEqual(stats.account(50, 0, [{"ok": True}]), (True, 50, 0))

    def test_failed_operations_make_the_run_incorrect(self):
        self.assertEqual(stats.account(50, 2, [{"ok": True}]), (False, 50, 2))

    def test_a_failed_check_fails_every_operation(self):
        self.assertEqual(stats.account(50, 1, [{"ok": True}, {"ok": False}]),
                         (False, 50, 50))


class DueTimeLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        # chunk 1 was due at 100 but sent late at 400
        deliveries = [(0, 0), (100, 400), (200, 410)]
        epochs = [(5, 150), (10, 800)]
        lat, missing = stats.freshness(deliveries, [5, 5, 5], epochs)
        self.assertEqual(lat, [150, 700, 600])
        self.assertEqual(missing, 0)
        self.assertEqual(stats.lateness(deliveries), [0, 300, 210])

    def test_a_chunk_commits_with_the_epoch_holding_its_last_row(self):
        # epochs of 3 and 7 rows over chunks of 5 and 5 rows
        self.assertEqual(stats.chunk_commits([5, 5], [(3, 10), (7, 20)]), [20, 20])
        # two epochs needed for one chunk, then the next is already in
        self.assertEqual(stats.chunk_commits([5, 2], [(2, 10), (5, 30)]), [30, 30])

    def test_uncommitted_chunks_are_counted(self):
        lat, missing = stats.freshness([(0, 0), (100, 100)], [5, 5], [(5, 20)])
        self.assertEqual((lat, missing), ([20], 1))

    def test_epochs_join_lineage_rows_to_trigger_ends(self):
        lineage = [{"epoch": 9, "rows_in": 4}, {"epoch": 8, "rows_in": 6}]
        progress = [{"batch": 8, "start_ms": 100, "durations": {"triggerExecution": 50}},
                    {"batch": 9, "start_ms": 200, "durations": {"triggerExecution": 70}}]
        self.assertEqual(stats.epoch_commits(lineage, progress), [(6, 150), (4, 270)])

    def test_backlog_counts_chunks_sent_but_not_committed(self):
        deliveries = [(0, 0), (100, 100), (200, 200), (300, 300)]
        epochs = [(2, 250), (2, 400)]
        # at t=200 three sent, none committed; at t=300 four sent, two done
        self.assertEqual(stats.max_backlog(deliveries, [1, 1, 1, 1], epochs), 3)


class CounterDeltas(unittest.TestCase):
    def test_delta_per_key(self):
        before = {"list": 10, "open": 3}
        after = {"list": 25, "open": 3, "create": 4}
        self.assertEqual(stats.delta(before, after), {"list": 15, "open": 0, "create": 4})

    def test_untraced_runs_have_no_counters(self):
        self.assertEqual(stats.delta({}, {}), {})


if __name__ == "__main__":
    unittest.main()
