"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s freshbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def progress(batch_id, start_iso, trigger_ms, lo, hi, input_rows, **phases):
    d = {"triggerExecution": trigger_ms, "addBatch": phases.pop("addBatch", 0)}
    d.update(phases)
    return {"received_ms": 0, "progress": {
        "batchId": batch_id, "timestamp": start_iso, "numInputRows": input_rows,
        "durationMs": d,
        "sources": [{"startOffset": None if lo is None else str(lo),
                     "endOffset": str(hi)}]}}


# three batches on a synthetic clock: starts at 00:00:01, :02, :03 UTC
LOG = [
    progress(0, "1970-01-01T00:00:01.000Z", 200, None, -1, 0),
    progress(1, "1970-01-01T00:00:02.000Z", 500, -1, 99, 200),
    progress(2, "1970-01-01T00:00:03.000Z", 250, 99, 299, 400),
    # an idle report repeats batch 2 without durations of a new batch
    {"received_ms": 0, "progress": {"batchId": 2, "timestamp": "1970-01-01T00:00:09.000Z",
                                    "numInputRows": 0, "durationMs": {"latestOffset": 3},
                                    "sources": [{"startOffset": "299", "endOffset": "299"}]}},
]


class ProgressLog(unittest.TestCase):
    def test_batches_commit_times_and_ranges(self):
        bs = metrics.batches(LOG)
        self.assertEqual([b["id"] for b in bs], [0, 1, 2])
        self.assertEqual([b["commit"] for b in bs], [1200.0, 2500.0, 3250.0])
        self.assertEqual([(b["lo"], b["hi"], b["rows"]) for b in bs],
                         [(-1, -1, 0), (-1, 99, 100), (99, 299, 200)])

    def test_read_amplification(self):
        self.assertEqual(metrics.read_amplification(metrics.batches(LOG)), 2.0)
        self.assertEqual(metrics.read_amplification([]), 0.0)

    def test_latency_maps_events_to_batches_by_end_offset(self):
        bs = metrics.batches(LOG)
        # event i is due at 1000 + 10 i ms; ids 0..99 commit at 2500, 100..299 at 3250
        pairs, missing = metrics.latency_pairs(bs, lambda i: 1000.0 + 10 * i, 0, 300)
        self.assertEqual(missing, 0)
        lat = dict((i, v) for i, (v, _) in enumerate(pairs))
        self.assertEqual(lat[0], 1500.0)
        self.assertEqual(lat[99], 2500.0 - 1990.0)
        self.assertEqual(lat[100], 3250.0 - 2000.0)
        self.assertEqual(lat[299], 3250.0 - 3990.0)

    def test_latency_counts_events_no_batch_holds(self):
        bs = metrics.batches(LOG)
        pairs, missing = metrics.latency_pairs(bs, 0.0, 50, 400)
        self.assertEqual(missing, 100)
        self.assertEqual(pairs, [(2500.0, 50), (3250.0, 200)])

    def test_segments_spanned(self):
        self.assertEqual(metrics.segments_spanned(-1, 199, 200), 1)
        self.assertEqual(metrics.segments_spanned(199, 599, 200), 2)
        self.assertEqual(metrics.segments_spanned(150, 250, 200), 2)
        self.assertEqual(metrics.segments_spanned(5, 5, 200), 0)


class Staleness(unittest.TestCase):
    def test_step_function_integral(self):
        bs = metrics.batches(LOG)

        def ts(i):
            return 1000.0 + 10 * i   # event time of offset i

        # window [2000, 4000]: uptodate = ts(-1) = 990 until 2500,
        # ts(99) = 1990 until 3250, then ts(299) = 3990.
        #   [2000, 2500): mean (2250 - 990) = 1260  x 500
        #   [2500, 3250): mean (2875 - 1990) = 885  x 750
        #   [3250, 4000]: mean (3625 - 3990) = -365 x 750
        want = (1260 * 500 + 885 * 750 - 365 * 750) / 2000.0
        self.assertAlmostEqual(metrics.staleness_mean(bs, ts, 2000, 4000, ts(-1)), want)

    def test_commits_before_the_window_set_the_start_level(self):
        bs = metrics.batches(LOG)
        # window [3000, 3250]: batch 1 committed at 2500 -> uptodate 1990
        got = metrics.staleness_mean(bs, lambda i: 1000.0 + 10 * i, 3000, 3250, 0.0)
        self.assertAlmostEqual(got, 3125.0 - 1990.0)

    def test_constant_lag_integrates_to_itself(self):
        # a commit every 100 ms that always brings uptodate to t - 50:
        # the sawtooth t - uptodate runs 50..150, mean 100
        bs = [{"commit": 100.0 * k, "rows": 1, "hi": k} for k in range(1, 50)]
        got = metrics.staleness_mean(bs, lambda i: 100.0 * i - 50, 1000, 4000, 0.0)
        self.assertAlmostEqual(got, 100.0)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(metrics.percentile(v, 50), 50)
        self.assertEqual(metrics.percentile(v, 99), 99)
        self.assertEqual(metrics.percentile(v, 100), 100)

    def test_weighted_matches_expanded(self):
        pairs = [(5.0, 3), (1.0, 2), (9.0, 5)]
        flat = [v for v, c in pairs for _ in range(c)]
        for p in (1, 20, 50, 51, 90, 99, 100):
            self.assertEqual(metrics.weighted_percentile(pairs, p),
                             metrics.percentile(flat, p))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(1000, 99), 10)
        self.assertEqual(metrics.highest_supported_percentile(1000), 99)
        self.assertEqual(metrics.highest_supported_percentile(999), 95)
        self.assertEqual(metrics.highest_supported_percentile(10000), 99.9)
        self.assertEqual(metrics.highest_supported_percentile(200), 95)
        self.assertEqual(metrics.highest_supported_percentile(20), 50)
        self.assertIsNone(metrics.highest_supported_percentile(19))


class Spans(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        sp = [
            {"name": "trigger", "id": "t", "parent": None, "start": 0, "end": 100},
            {"name": "a", "id": "a", "parent": "t", "start": 10, "end": 40},
            {"name": "b", "id": "b", "parent": "t", "start": 30, "end": 60},
            {"name": "c", "id": "c", "parent": "t", "start": 90, "end": 120},
        ]
        st = metrics.self_times(sp)
        self.assertEqual(st["trigger"], 100 - 50 - 10)
        self.assertEqual(st["a"], 30)
        self.assertEqual(st["c"], 30)

    def test_trigger_phases_tile_the_trigger(self):
        log = [progress(1, "1970-01-01T00:00:02.000Z", 100, -1, 9, 20,
                        latestOffset=10, walCommit=5, getBatch=0,
                        queryPlanning=15, addBatch=60, commitOffsets=10)]
        sp = metrics.spans(metrics.batches(log), {}, "q")
        st = metrics.self_times(sp)
        self.assertEqual(st["trigger"], 0)
        self.assertEqual(st["addBatch"], 60)
        add = [s for s in sp if s["name"] == "addBatch"][0]
        self.assertEqual((add["start"], add["end"]), (2030.0, 2090.0))

    def test_jobs_nest_under_the_plan_that_ran_them(self):
        log = [progress(1, "1970-01-01T00:00:02.000Z", 100, -1, 9, 20,
                        latestOffset=10, walCommit=5, getBatch=0,
                        queryPlanning=15, addBatch=60, commitOffsets=10)]
        trace = {
            # optimization 2032-2035, planning 2035-2037, runs until 2087
            "plans": [{"func": "command", "duration_ns": 55e6,
                       "phases": {"analysis": [1990, 1990],
                                  "optimization": [2032, 2035],
                                  "planning": [2035, 2037]}}],
            "jobs": [{"job": 4, "batch_id": "1", "query_id": "q", "stages": [7],
                      "start_ms": 2040, "end_ms": 2080},
                     # another query's batch 1 (a set-up run) is not this one's
                     {"job": 5, "batch_id": "1", "query_id": "setup", "stages": [],
                      "start_ms": 2040, "end_ms": 2080}],
            "stages": [{"stage": 7, "start_ms": 2041, "end_ms": 2079}],
        }
        sp = {s["id"]: s for s in metrics.spans(metrics.batches(log), trace, "q")}
        self.assertNotIn("j5", sp)
        self.assertEqual((sp["p0"]["start"], sp["p0"]["end"]), (2032, 2087.0))
        self.assertEqual(sp["p0"]["parent"], "t1.addBatch")
        self.assertEqual(sp["j4"]["parent"], "p0")
        self.assertEqual(sp["s7"]["parent"], "j4")
        st = metrics.self_times(list(sp.values()))
        self.assertEqual(st["plan"], 55 - 3 - 2 - 40)
        self.assertEqual(st["addBatch"], 60 - 55)


if __name__ == "__main__":
    unittest.main()
