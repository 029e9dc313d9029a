"""Unit tests of the claim and bound rules in tools/ab_pairs.py.

    python3 -m unittest discover -s tools/tests

Runs no benchmark: every record is built here.
"""

import contextlib
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import ab_pairs  # noqa: E402

BENCH = {
    "workloads": [{"name": "tail"}],
    "end_to_end": [
        {"name": "rss", "better": "lower", "bound": 0.1},
        {"name": "rate", "better": "higher", "bound": 0.25},
    ],
}


def records(parent, change, workload="tail"):
    """One pair per index; `parent` and `change` are lists of metric
    dicts (None for a failed run)."""
    out = []
    for seed, (a, b) in enumerate(zip(parent, change)):
        for side, m in (("parent", a), ("change", b)):
            out.append({"side": side, "workload": workload, "seed": seed,
                        "correct": m is not None, "metrics": m})
    return out


def pairs(rss_a, rss_b, rate=100.0):
    """Records whose `rss` runs are `rss_a` (parent) and `rss_b` (change),
    with a constant `rate`."""
    return records([{"rss": x, "rate": rate} for x in rss_a],
                   [{"rss": y, "rate": rate} for y in rss_b])


def summarize(recs, claim=None):
    """(result, printed text) of ab_pairs.summarize."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        ok = ab_pairs.summarize(recs, BENCH, claim)
    return ok, out.getvalue()


def row(text, metric):
    return next(l for l in text.splitlines() if f"| {metric} |" in l)


class SummarizeTest(unittest.TestCase):

    def test_ties_count_for_neither_side(self):
        ok, text = summarize(pairs([100.0] * 10, [100.0] * 10))
        self.assertTrue(ok)
        self.assertIn("| 0/10 |", row(text, "rss"))
        self.assertIn("| 0/10 |", row(text, "rate"))
        self.assertIn("within bound", row(text, "rss"))

    def test_claim_holds_at_nine_wins_and_a_gap_past_the_iqr(self):
        parent = [100.0 + i for i in range(10)]        # IQR 4.5
        change = [x - 10.0 for x in parent]
        change[3] = parent[3]                           # one tie: 9/10
        ok, text = summarize(pairs(parent, change), "tail:rss")
        self.assertTrue(ok, text)
        self.assertIn("| 9/10 |", row(text, "rss"))
        self.assertIn("claim tail rss: HOLDS", text)

    def test_claim_not_met_at_eight_wins(self):
        parent = [100.0 + i for i in range(10)]
        change = [x - 10.0 for x in parent]
        change[3] = parent[3] + 1.0                    # a loss
        change[7] = parent[7]                          # and a tie
        ok, text = summarize(pairs(parent, change), "tail:rss")
        self.assertFalse(ok)
        self.assertIn("| 8/10 |", row(text, "rss"))
        self.assertIn("claim tail rss: NOT MET", text)

    def test_claim_not_met_when_the_gap_is_inside_the_parent_iqr(self):
        parent = [100.0 + i for i in range(10)]        # IQR 4.5
        change = [x - 2.0 for x in parent]             # 10/10, gap 2
        ok, text = summarize(pairs(parent, change), "tail:rss")
        self.assertFalse(ok)
        self.assertIn("| 10/10 |", row(text, "rss"))
        self.assertIn("claim tail rss: NOT MET", text)

    def test_claim_reads_a_higher_is_better_metric_the_right_way(self):
        recs = records([{"rss": 100.0, "rate": 100.0 + i} for i in range(10)],
                       [{"rss": 100.0, "rate": 120.0 + i} for i in range(10)])
        ok, text = summarize(recs, "tail:rate")
        self.assertTrue(ok, text)
        self.assertIn("claim tail rate: HOLDS", text)

    def test_regressed_past_the_bound(self):
        parent = [100.0 + 0.1 * i for i in range(10)]
        change = [x * 1.2 for x in parent]              # +20%, bound 10%
        ok, text = summarize(pairs(parent, change))
        self.assertFalse(ok)
        self.assertIn("REGRESSED", row(text, "rss"))
        self.assertIn("within bound", row(text, "rate"))

    def test_a_move_inside_the_bound_is_not_a_regression(self):
        parent = [100.0 + 0.1 * i for i in range(10)]
        change = [x * 1.05 for x in parent]             # +5%, bound 10%
        ok, text = summarize(pairs(parent, change))
        self.assertTrue(ok)
        self.assertIn("within bound", row(text, "rss"))

    def test_unresolved_when_the_parent_spread_exceeds_the_bound(self):
        parent = [50.0, 60.0, 70.0, 80.0, 100.0, 100.0, 120.0, 130.0,
                  140.0, 150.0]                         # IQR/median 0.55
        ok, text = summarize(pairs(parent, list(parent)))
        self.assertTrue(ok)
        self.assertIn("unresolved", row(text, "rss"))

    def test_a_failed_run_makes_the_result_false(self):
        recs = pairs([100.0] * 10, [100.0] * 10)
        recs[5]["metrics"] = None
        ok, text = summarize(recs)
        self.assertFalse(ok)
        self.assertIn("1 of 20 runs failed", text)
        self.assertIn("| 0/9 |", row(text, "rss"))

    def test_an_incorrect_run_makes_the_result_false(self):
        parent = [100.0 + i for i in range(10)]
        recs = pairs(parent, [x - 10.0 for x in parent])
        recs[2]["correct"] = False
        ok, text = summarize(recs, "tail:rss")
        self.assertFalse(ok)
        self.assertIn("claim tail rss: HOLDS", text)
        self.assertIn("failed a truth check", text)


if __name__ == "__main__":
    unittest.main()
