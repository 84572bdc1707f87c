"""Tests for the benchmark's own arithmetic (metrics.py).

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 99), 99)
        self.assertEqual(M.percentile(xs, 100), 100)
        self.assertEqual(M.percentile([7], 50), 7)

    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(10000), 99.9)
        self.assertEqual(M.tail_percentile(1000), 99.0)
        self.assertEqual(M.tail_percentile(999), 95.0)
        self.assertEqual(M.tail_percentile(200), 95.0)
        self.assertEqual(M.tail_percentile(199), 90.0)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(20), 50.0)
        self.assertIsNone(M.tail_percentile(19))

    def test_every_pick_has_ten_beyond_and_the_next_would_not(self):
        for n in range(20, 3000, 37):
            p = M.tail_percentile(n)
            xs = list(range(1, n + 1))
            self.assertGreaterEqual(sum(1 for x in xs if x > M.percentile(xs, p)),
                                    M.MIN_BEYOND, (n, p))
            higher = [q for q in M.PERCENTILES if q > p]
            if higher:
                q = min(higher)
                self.assertLess(sum(1 for x in xs if x > M.percentile(xs, q)),
                                M.MIN_BEYOND, (n, q))


RUNG = {"name": "lo", "rate": 100.0, "first": 50, "rows": 100,
        "start_ns": 1_000_000_000, "end_ns": 2_000_000_000}


class Freshness(unittest.TestCase):
    def test_due_time_follows_the_schedule(self):
        self.assertEqual(M.due_ns(RUNG, 50), 1_000_000_000)
        self.assertEqual(M.due_ns(RUNG, 60), 1_100_000_000)

    def test_freshness_is_measured_from_due_not_send(self):
        # row 60 is due at 1.1 s; the generator only sent it at 1.5 s and the
        # upsert returned at 1.7 s: fresh after 600 ms, not 200 ms
        legs = [(60, 1_700_000_000)]
        self.assertEqual(M.freshness_ms(legs, [RUNG], "lo"), [600.0])

    def test_legs_are_assigned_to_the_rung_of_their_last_row(self):
        hi = dict(RUNG, name="hi", first=150, rows=10, start_ns=2_000_000_000)
        legs = [(49, 5), (50, 1_000_000_000), (149, 3_000_000_000), (150, 2_500_000_000)]
        self.assertEqual(len(M.freshness_ms(legs, [RUNG, hi], "lo")), 2)
        self.assertEqual(M.freshness_ms(legs, [RUNG, hi], "hi"), [500.0])

    def test_late_generator(self):
        # rows 50..99 sent on time, rows 100..149 sent in one burst 300 ms
        # after row 100 was due
        sends = [(50, 1), (100, 1_000_000_000), (150, 1_800_000_000)]
        self.assertAlmostEqual(M.generator_late_ms(sends, [RUNG], "lo"), 300.0)
        # a late generator adds its lateness to freshness: row 100 was due at
        # 1.5 s, so an emit right after the late send still reads 350 ms
        self.assertEqual(M.freshness_ms([(100, 1_850_000_000)], [RUNG], "lo"), [350.0])

    def test_on_time_generator_is_not_late(self):
        sends = [(50 + i, 1_000_000_000 + i * 10_000_000) for i in range(1, 101)]
        self.assertLessEqual(M.generator_late_ms(sends, [RUNG], "lo"), 10.0)


def trig(end_s, rows):
    return {"end_ns": end_s * 1e9, "rows": rows}


class Backlog(unittest.TestCase):
    def test_sent_by(self):
        sends = [(10, 100), (20, 200), (30, 300)]
        self.assertEqual(M.sent_by(sends, 50), 0)
        self.assertEqual(M.sent_by(sends, 200), 20)
        self.assertEqual(M.sent_by(sends, 10_000), 30)

    def test_samples_count_rows_not_yet_in_a_completed_trigger(self):
        sends = [(100 * s, s * 1e9) for s in range(1, 11)]  # 100 rows/s
        trigs = [trig(3, 250), trig(6, 300)]
        samples = M.backlog_samples(trigs, sends, 2e9, 8e9)
        self.assertEqual([y for _, y in samples], [200, 50, 50, 250])


if __name__ == "__main__":
    unittest.main()
