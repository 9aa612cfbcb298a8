"""Tests of the benchmark's own arithmetic and checks (no Spark needed):

    python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from pb import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_value_with_ten_beyond(self):
        xs = list(range(30, 0, -1))  # 1..30, unsorted
        v, pct = stats.tail(xs)
        self.assertEqual(v, 20)  # 21..30 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100 * 19 / 29)

    def test_exactly_eleven_samples_gives_the_minimum(self):
        self.assertEqual(stats.tail(range(11))[0], 0)

    def test_too_few_samples_falls_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0))


class SelfTime(unittest.TestCase):
    S = 1_000_000_000

    def span(self, sid, parent, layer, t0, t1):
        return (sid, parent, layer, sid, t0 * self.S, t1 * self.S)

    def test_overlapping_and_spilling_children_are_counted_once(self):
        spans = [
            self.span("q", "", "query", 0, 10),
            self.span("j1", "q", "job", 1, 4),
            self.span("j2", "q", "job", 3, 6),    # overlaps j1
            self.span("j3", "q", "job", 9, 12),   # runs past the parent
            self.span("s1", "j1", "stage", 2, 3),
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["query"], 10 - 5 - 1)
        self.assertAlmostEqual(got["job"], (3 - 1) + 3 + 3)
        self.assertAlmostEqual(got["stage"], 1)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span("k", "", "kernel", 2, 5)]),
                         {"kernel": 3.0})


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time_through_a_generator_stall(self):
        arrivals = [("f0", 1000.0, 1000.0),
                    ("f1", 2000.0, 3500.0)]  # written 1.5 s late
        consumed = {"a": {"f0": 1500.0, "f1": 4000.0},
                    "b": {"f0": 1800.0, "f1": 3900.0}}
        lat, missing = stats.file_latencies(arrivals, consumed)
        self.assertEqual(lat, [0.8, 2.0])  # the later query, from due
        self.assertEqual(missing, [])

    def test_a_file_one_query_never_consumed_is_missing(self):
        lat, missing = stats.file_latencies(
            [("f0", 0.0, 0.0)], {"a": {"f0": 5.0}, "b": {}})
        self.assertEqual((lat, missing), ([], ["f0"]))

    def test_files_map_to_query_batches_past_a_watermark_only_batch(self):
        # source batches 0, 1, 2; query batch 1 read no new file (its
        # counter stays 0), so source batch 1 is query batch 2, and so on
        source = {"f0": "0", "f1": "1", "f2": "1", "f3": "2"}
        offsets = {"0": "0", "1": "0", "2": "1", "3": "2"}
        self.assertEqual(stats.file_batches(source, offsets),
                         {"f0": 0, "f1": 2, "f2": 2, "f3": 3})

    def test_a_file_no_batch_reached_is_left_out(self):
        self.assertEqual(stats.file_batches({"f0": "0", "f1": "1"}, {"0": "0"}),
                         {"f0": 0})

    def test_backlog_counts_arrived_but_unconsumed_files(self):
        arrivals = [("f0", 0, 0), ("f1", 10, 10), ("f2", 20, 20)]
        consumed = {"a": {"f0": 25, "f1": 25, "f2": 30}}
        self.assertEqual(stats.backlog_max(arrivals, consumed), 3)


class OracleCheck(unittest.TestCase):
    def test_planted_wrong_row_is_caught_against_the_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        root = os.path.dirname(HERE)
        with tempfile.TemporaryDirectory() as res:
            sql = "SELECT r_name, r_regionkey FROM region ORDER BY r_regionkey"
            good = pq.read_table(os.path.join(HERE, "data", "sf0.01", "region.parquet"),
                                 columns=["r_regionkey", "r_name"]).sort_by("r_regionkey")
            names = good.column("r_name").to_pylist()
            planted = good.set_column(1, "r_name", pa.array(names[:1] + ["X"] + names[2:]))
            for name, t in (("good", good), ("planted", planted)):
                os.makedirs(os.path.join(res, name))
                pq.write_table(t, os.path.join(res, name, "part-0.parquet"))
            with open(os.path.join(res, "oracle_sql.json"), "w") as f:
                json.dump({"good": sql, "planted": sql}, f)
            raw = {"tier_dir": os.path.join(HERE, "data", "sf0.01"),
                   "results_dir": res, "check_errors": {},
                   "queries": ["good", "planted"]}
            self.assertEqual(list(run.check_batch(root, raw)), ["planted"])


if __name__ == "__main__":
    unittest.main()
