"""Tests of the benchmark's own arithmetic on fixture spans and samples.

Run from the repository root: python3 -m unittest perfbench/test_metrics.py
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def op(t0, t1, ok=True, rows=0, name="q", traced=False, cycle=1, **kw):
    return dict(t0=t0, t1=t1, ok=ok, rows=rows, name=name, traced=traced,
                cycle=cycle, t0_ms=int(t0 * 1000), t1_ms=int(t1 * 1000),
                **kw)


def span(id, parent, name, start, end):
    return dict(id=id, parent=parent, trace="op-0", name=name, start=start,
                end=end, start_ms=int(start * 1000), end_ms=int(end * 1000),
                attrs={})


def job(group, start_ms, run_s=0.0, cpu_s=0.0, tasks=1):
    return dict(group=group, start_ms=start_ms, run_s=run_s, cpu_s=cpu_s,
                tasks=tasks, failed_tasks=0, shuffle_write_bytes=0,
                spill_bytes=0, records_read=0)


class Percentiles(unittest.TestCase):

    def test_nearest_rank_with_counts(self):
        xs = list(range(1, 201))  # 200 samples
        v, n, beyond = metrics.percentile(xs, 0.95)
        self.assertEqual((v, n, beyond), (190, 200, 10))

    def test_too_few_samples_report_few_beyond(self):
        v, n, beyond = metrics.percentile([3.0, 1.0, 2.0], 0.95)
        self.assertEqual((v, n, beyond), (3.0, 3, 0))

    def test_median_of_even_count(self):
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_failed_op_misses_every_bound(self):
        lat = metrics.latencies([op(0, 1), op(1, 3, ok=False), op(3, 3.5)])
        self.assertEqual(lat[1], math.inf)
        v, _, _ = metrics.percentile(lat, 0.95)
        self.assertEqual(v, math.inf)

    def test_failed_op_costs_time_but_delivers_no_rows(self):
        ops = [op(0, 1, rows=100), op(1, 2, ok=False, rows=100)]
        self.assertEqual(metrics.throughput(ops), 50.0)


class SelfTime(unittest.TestCase):

    def test_overlapping_children_subtract_their_union(self):
        # parent 0..10; two children run at once (as under Overlap.both)
        # over 2..6 and 4..8, a third over 9..12 sticks out of the parent
        spans = [span(1, 0, "dedup.a", 0, 10),
                 span(2, 1, "dedup.b", 2, 6),
                 span(3, 1, "dedup.c", 4, 8),
                 span(4, 1, "bench.count", 9, 12)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - 6 - 1)
        self.assertAlmostEqual(st[2], 4)
        self.assertAlmostEqual(st[3], 4)

    def test_nested_children_count_once(self):
        spans = [span(1, 0, "text.a", 0, 10), span(2, 1, "text.b", 1, 9),
                 span(3, 2, "text.c", 2, 3)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 2)
        self.assertAlmostEqual(st[2], 7)

    def test_layer_busy_time_sums_self_times(self):
        spans = [span(1, 0, "dedup.a", 0, 10), span(2, 1, "dedup.b", 2, 6)]
        out = metrics.layer_stats(spans, [], cores=4)
        self.assertAlmostEqual(out["dedup.busy_s"], 6 + 4)
        self.assertEqual(out["dedup.calls"], 2)


class Attribution(unittest.TestCase):

    def test_jobs_of_closed_or_unknown_groups_are_unattributed(self):
        spans = [span(1, 0, "dedup.a", 0, 10)]
        jobs = [job("pb-1", 5000), job("pb-1", 11000), job("pb-7", 5000),
                job(None, 5000)]
        owned, loose = metrics.attribute_jobs(spans, jobs)
        self.assertEqual(len(owned[1]), 1)
        self.assertEqual(len(loose), 3)
        out = metrics.layer_stats(spans, jobs, cores=4)
        self.assertEqual(out["dedup.jobs"], 1)

    def test_unattributed_counts_only_inside_traced_ops(self):
        ops = [op(0, 10, traced=True), op(20, 30)]
        jobs = [job(None, 5000), job(None, 25000)]
        self.assertEqual(len(metrics.in_traced_ops(jobs, ops)), 1)


class IdleCore(unittest.TestCase):

    def test_idle_is_core_time_minus_executor_run_time(self):
        self.assertAlmostEqual(
            metrics.idle_core_s(2.0, 4, [job("pb-1", 0, run_s=3.0),
                                         job("pb-1", 0, run_s=1.5)]), 3.5)

    def test_layer_idle_uses_self_time(self):
        spans = [span(1, 0, "analytics.q", 0, 3),
                 span(2, 1, "bench.count", 1, 2)]
        jobs = [job("pb-1", 500, run_s=4.0)]
        out = metrics.layer_stats(spans, jobs, cores=4)
        self.assertAlmostEqual(out["analytics.idle_core_s"], 2 * 4 - 4.0)


class Recall(unittest.TestCase):

    def test_recall_at_10(self):
        exact = list(range(10))
        found = [0, 1, 2, 3, 4, 5, 6, 97, 98, 99]
        self.assertAlmostEqual(metrics.recall_at_k(found, exact, 10), 0.7)

    def test_exact_top_k_rounds_and_breaks_ties_by_id(self):
        ids = [5, 3, 9]
        vecs = [[1.0, 0.0], [1.0, 0.00001], [0.0, 1.0]]
        got_ids, got_cos = metrics.exact_top_k(ids, vecs, [1.0, 0.0], 2)
        self.assertEqual(got_ids, [3, 5])  # equal after rounding
        self.assertEqual(got_cos, [1.0, 1.0])

    def test_reference_ivf_searches_only_the_probed_cells(self):
        # cells 0 (x axis) and 1 (y axis); the query leans to cell 0
        ids = [1, 2, 3, 4]
        vecs = [[1.0, 0.0], [0.9, 0.1], [0.6, 0.8], [0.0, 1.0]]
        cells = [0, 0, 1, 1]
        cents = [[1.0, 0.0], [0.0, 1.0]]
        q = [0.8, 0.6]
        got, _ = metrics.ivf_top_k(ids, vecs, cells, [0, 1], cents, q, 2, 1)
        self.assertEqual(got, [2, 1])
        exact, _ = metrics.exact_top_k(ids, vecs, q, 2)
        self.assertEqual(exact, [3, 2])  # id 3 sits in the unprobed cell
        self.assertAlmostEqual(metrics.recall_at_k(got, exact, 2), 0.5)
        both, _ = metrics.ivf_top_k(ids, vecs, cells, [0, 1], cents, q, 2, 2)
        self.assertEqual(both, exact)


class WriteAmp(unittest.TestCase):

    def test_bytes_written_per_input_byte(self):
        self.assertAlmostEqual(metrics.write_amp(3_000, 1_200), 2.5)

    def test_no_input_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.write_amp(10, 0)


class TracingOverhead(unittest.TestCase):

    def test_per_name_median_difference(self):
        ops = [op(0, 1, name="a"), op(1, 3, name="a", traced=True),
               op(3, 4, name="b"), op(4, 4.5, name="b", traced=True),
               op(5, 9, name="c", traced=True)]  # no untraced twin
        self.assertAlmostEqual(metrics.tracing_overhead(ops),
                               ((2 - 1) + (0.5 - 1)) / 2)

    def test_cold_first_cycle_is_left_out(self):
        ops = [op(0, 30, cycle=0), op(30, 42, traced=True, cycle=1),
               op(42, 52, cycle=2)]
        self.assertAlmostEqual(metrics.tracing_overhead(ops), 2.0)


if __name__ == "__main__":
    unittest.main()
