"""Tests of the benchmark's own logic: input generation, the tail-percentile
rule and the self-time arithmetic. Run with

    python3 perfbench/test_perfbench.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, names in os.walk(root):
        dirnames.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def pipeline_digest(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.pipeline(seed, os.path.join(d, "in"))
            gen.stream(seed, os.path.join(d, "stream.tsv"))
            return tree_digest(d)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.pipeline_digest(7), self.pipeline_digest(7))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(self.pipeline_digest(7), self.pipeline_digest(8))

    def test_stream_records_differ_by_seed_and_keep_event_times_unique(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a.tsv"), os.path.join(d, "b.tsv")
            gen.stream(1, a)
            gen.stream(2, b)
            with open(a) as fa, open(b) as fb:
                la, lb = fa.read().splitlines(), fb.read().splitlines()
        self.assertEqual(len(la), gen.STREAM_BATCHES * gen.STREAM_BATCH_EVENTS)
        self.assertNotEqual(la, lb)
        seen = set()
        for line in la:
            _, sym, value = line.split("\t")
            t = value.split('"time":')[1].split(",")[0]
            self.assertNotIn((sym, t), seen)
            seen.add((sym, t))

    def test_late_records_stay_inside_the_watermark(self):
        # A record of batch k must be later than the watermark the stream
        # holds after batch k - 1: the previous batch's latest event time
        # minus two minutes.
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "s.tsv")
            gen.stream(3, p)
            with open(p) as f:
                rows = [l.split("\t") for l in f.read().splitlines()]
        latest = {}
        for k, _, value in rows:
            t = int(value.split('"time":')[1].split(",")[0])
            latest.setdefault(int(k), []).append(t)
        for k in range(1, gen.STREAM_BATCHES):
            self.assertGreater(min(latest[k]), max(latest[k - 1]) - 120_000)

    def test_expected_state_is_last_write_wins(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.pipeline(5, d)
            n_days = gen.PIPELINE_DAYS + gen.PIPELINE_REINGESTS
            self.assertEqual(info["expected_candles"],
                             len(gen.PIPELINE_SYMBOLS) * n_days * 24 * 60 // gen.KLINE_STEP_MIN)
            self.assertEqual(info["expected_trades"], n_days * sum(gen.TRADES_PER_DAY.values()))
            # Every batch after the first re-sends a day the warehouse holds.
            self.assertEqual(len(info["batches"]), 1 + gen.PIPELINE_REINGESTS)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))          # 100 samples: p90 leaves 10 above
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, stats.percentile(xs, 90))
        self.assertEqual(stats.tail(list(range(28)))[0], 64.0)    # 28 * 0.36 = 10.08
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)  # capped at p99
        self.assertEqual(stats.tail(list(range(999)))[0], 98.0)   # p99 would leave 9.99

    def test_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(stats.tail([float(x) for x in range(19)]), (100.0, 18.0))  # p47 < p50

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end}

    def test_self_time_subtracts_direct_children_once(self):
        spans = [
            self.span(1, None, "op", 0.0, 10.0),
            self.span(2, 1, "build", 1.0, 4.0),
            self.span(3, 1, "action", 3.0, 6.0),   # overlaps build by 1 s
            self.span(4, 3, "inner", 3.5, 4.5),    # grandchild: not op's business
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["op"], 10.0 - 5.0)
        self.assertAlmostEqual(got["build"], 3.0)
        self.assertAlmostEqual(got["action"], 3.0 - 1.0)
        self.assertAlmostEqual(got["inner"], 1.0)

    def test_self_times_sum_over_spans_of_one_name(self):
        spans = [self.span(1, None, "op", 0.0, 2.0), self.span(2, None, "op", 5.0, 6.5),
                 self.span(3, 2, "plan", 5.0, 5.5)]
        self.assertAlmostEqual(stats.self_times(spans)["op"], 2.0 + 1.0)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [self.span(1, None, "op", 0.0, 2.0), self.span(2, 1, "late", 1.5, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)["op"], 1.5)


if __name__ == "__main__":
    unittest.main()
