"""Checks accept a correct output and reject planted wrong ones."""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402

COLUMNS = ["ride_id", "tsec"] + checks.CONFIDENCES

# 0..6000 ms: 61 grid ticks; the 700 ms gap voids 6 ticks of one window
REC_A = {"rows": 120, "first_ms": 0, "last_ms": 6000, "gaps": [[2000, 2700]]}
REC_B = {"rows": 80, "first_ms": 500, "last_ms": 4500, "gaps": []}


def timeline(recs, ride_ids=None, score=0.5):
    rows = []
    for i, rec in enumerate(recs):
        rid = ride_ids[i] if ride_ids else "ride_%02d" % i
        rows += [[rid, t] + [score] * len(checks.CONFIDENCES)
                 for t in checks.expected(rec)["tsec"]]
    return rows


def figure(rec, drop=0):
    xs = checks.expected(rec)["tsec"]
    xs = xs[:len(xs) - drop]
    fig = {"data": [{"type": "bar", "name": c, "x": xs, "y": [0.5] * len(xs)}
                    for c in checks.CONFIDENCES]}
    return json.dumps(fig), json.dumps({"batch": 3, "rows": len(xs)})


class ExpectedTest(unittest.TestCase):

    def test_grid_windows_and_display(self):
        e = checks.expected(REC_A)
        self.assertEqual(e["grid_rows"], 61)
        self.assertEqual(e["stride_positions"], 7)        # starts 0, 5, ..., 30
        # ticks 2100..2600 are void: 6 of a window's 30 rows at most, and a
        # window is dropped only below 21 valid rows
        self.assertEqual(e["windows"], 7)
        self.assertEqual(e["tsec"], [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0])

    def test_wide_gap_drops_windows(self):
        rec = {"rows": 50, "first_ms": 0, "last_ms": 6000, "gaps": [[1000, 2500]]}
        e = checks.expected(rec)
        self.assertEqual(e["stride_positions"], 7)
        # ticks 1100..2400 are void: windows starting at 0..15 keep < 21 rows
        self.assertEqual(e["windows"], 3)
        self.assertEqual(e["tsec"], [0.0, 0.5, 1.0])


class TimelineTest(unittest.TestCase):

    def test_accepts_correct_single_ride(self):
        self.assertEqual(checks.check_timeline(COLUMNS, timeline([REC_A]), [REC_A]), [])

    def test_rejects_truncated_timeline(self):
        rows = timeline([REC_A])[:-2]
        problems = checks.check_timeline(COLUMNS, rows, [REC_A])
        self.assertTrue(any("display rows" in p for p in problems), problems)

    def test_rejects_scores_outside_unit_interval(self):
        rows = timeline([REC_A], score=1.5)
        self.assertTrue(checks.check_timeline(COLUMNS, rows, [REC_A]))

    def test_rejects_merged_rides(self):
        # two logs analysed together come back as one ride
        merged = timeline([REC_A], ride_ids=["prod"])
        problems = checks.check_timeline(COLUMNS, merged, [REC_A, REC_B])
        self.assertTrue(any("rides out 1 != logs in 2" in p for p in problems), problems)
        refs = [(COLUMNS, timeline([REC_A])), (COLUMNS, timeline([REC_B]))]
        self.assertLess(checks.rides_matching(COLUMNS, merged, refs), 2)

    def test_accepts_one_ride_per_log(self):
        rows = timeline([REC_A, REC_B])
        self.assertEqual(checks.check_timeline(COLUMNS, rows, [REC_A, REC_B]), [])
        refs = [(COLUMNS, timeline([REC_A], ["solo"])), (COLUMNS, timeline([REC_B], ["solo"]))]
        self.assertEqual(checks.rides_matching(COLUMNS, rows, refs), 2)


class LayersTest(unittest.TestCase):

    def test_layer_row_counts(self):
        good = {"rows_out": 200, "ride_grid_rows": [41, 61], "windows_out": 10}
        self.assertEqual(checks.check_layers(good, [REC_A, REC_B]), [])
        self.assertTrue(checks.check_layers(dict(good, windows_out=9), [REC_A, REC_B]))
        # two logs resampled as one ride
        merged = dict(good, ride_grid_rows=[61])
        self.assertTrue(checks.check_layers(merged, [REC_A, REC_B]))


class FigureTest(unittest.TestCase):

    def test_accepts_correct_figure(self):
        self.assertEqual(checks.check_figure(*figure(REC_A), REC_A), [])

    def test_rejects_truncated_figure(self):
        self.assertTrue(checks.check_figure(*figure(REC_A, drop=1), REC_A))

    def test_rejects_unparsable_figure(self):
        self.assertTrue(checks.check_figure("{", '{"batch":0,"rows":7}', REC_A))


if __name__ == "__main__":
    unittest.main()
