"""Self-tests of the benchmark's own rules (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(os.path.dirname(HERE), ".bench_build")


def paths(tmp, name):
    d = os.path.join(tmp, name)
    os.makedirs(d)
    return d, dict(out=os.path.join(d, "landing"),
                   expected=os.path.join(d, "expected.csv"),
                   report=os.path.join(d, "report.json"))


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, s), os.path.join(b, s)) for s in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(BUILD, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=BUILD)

    def tearDown(self):
        self.tmp.cleanup()

    def history(self, name, seed, trades):
        d, kw = paths(self.tmp.name, name)
        gen.history(seed, trades, **kw)
        return d

    def test_history_same_seed_same_bytes_other_seed_differs(self):
        a = self.history("a", 5, 25_000)
        b = self.history("b", 5, 25_000)
        c = self.history("c", 6, 25_000)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(filecmp.cmp(os.path.join(a, "landing", "part-00000.json"),
                                     os.path.join(c, "landing", "part-00000.json"),
                                     shallow=False))
        self.assertEqual(len(os.listdir(os.path.join(a, "landing"))), 2)

    def test_live_schedule_is_seeded(self):
        t0 = int(time.time() * 1000)
        runs = []
        for name in ("a", "b"):
            d, kw = paths(self.tmp.name, name)
            gen.live(9, t0, 1.0, **kw)
            runs.append(d)
        a, b = runs
        # the bytes depend on the seed and the schedule, not on when the
        # files were actually written
        self.assertTrue(same_tree(os.path.join(a, "landing"), os.path.join(b, "landing")))
        rep = M.load_json(os.path.join(a, "report.json"))
        self.assertEqual(rep["files"], 4)
        self.assertEqual(rep["slots"], 2000)
        self.assertEqual(rep["valid_trades"], 2000)
        self.assertTrue(all(w[2] == t0 + (k + 1) * 250 and w[3] >= w[2]
                            for k, w in enumerate(rep["writes"])))

    def test_generated_inputs_have_the_promised_shape(self):
        d = self.history("a", 3, 20_000)
        rep = M.load_json(os.path.join(d, "report.json"))
        self.assertGreater(rep["duplicates"], 0)
        self.assertGreater(rep["malformed"], 0)
        self.assertGreater(rep["late_shifted"], 0)
        lines = []
        for n in sorted(os.listdir(os.path.join(d, "landing"))):
            with open(os.path.join(d, "landing", n)) as f:
                lines += f.read().splitlines()
        self.assertIn(gen.SENTINEL, lines[-1])
        self.assertTrue(any('"symbol":"XBT-PERP"' in x for x in lines))
        self.assertTrue(any('"symbol":"XBT/USD"' in x for x in lines))


class BarsTest(unittest.TestCase):

    def test_struct_min_max_tie_break_and_dedup(self):
        b = gen.Bars()
        t = 1717977600000
        b.add("XBT/USD", t + 5, 100.0, "100.0", 1.0, "1.0", "buy")
        b.add("XBT/USD", t + 5, 99.5, "99.5", 2.0, "2.0", "sell")
        b.add("XBT/USD", t + 9, 101.0, "101.0", 1.0, "1.0", "buy")
        b.add("XBT/USD", t + 9, 100.5, "100.5", 1.0, "1.0", "buy")
        self.assertFalse(b.add("XBT/USD", t + 9, 100.5, "100.5", 1.0, "1.0", "buy"))
        (row,) = list(b.rows())
        sym, start, o, h, lo, c, vol, vwap, n = row
        self.assertEqual((sym, start), ("XBT/USD", t))
        self.assertEqual(o, 99.5)   # tie at t+5: the lower price opens
        self.assertEqual(c, 101.0)  # tie at t+9: the higher price closes
        self.assertEqual((h, lo, vol, n), (101.0, 99.5, 5.0, 4))
        self.assertEqual(vwap, 500.5 / 5.0)


class RulesTest(unittest.TestCase):

    def test_tail_is_the_highest_percentile_with_ten_beyond(self):
        v, pct, n = M.tail(list(range(1, 101)))
        self.assertEqual((v, pct, n), (90.0, 90.0, 100))
        v, pct, n = M.tail(list(range(1000, 0, -1)))
        self.assertEqual((v, pct), (990.0, 99.0))
        self.assertEqual(M.tail(list(range(11)))[0], 0.0)
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_freshness_attribution_on_canned_progress(self):
        def prog(ts, dur, emax=None):
            p = {"timestamp": ts, "durationMs": {"triggerExecution": dur}}
            if emax:
                p["eventTime"] = {"max": emax}
            return p
        # epoch ms of 2026-01-01T00:00:00Z
        base = 1767225600000
        progress = [
            prog("2026-01-01T00:00:01.000Z", 500, "2026-01-01T00:00:00.800Z"),
            prog("2026-01-01T00:00:02.000Z", 100),  # no data: no eventTime
            prog("2026-01-01T00:00:03.000Z", 1000, "2026-01-01T00:00:00.500Z"),
            prog("2026-01-01T00:00:05.000Z", 250, "2026-01-01T00:00:04.000Z"),
        ]
        ends, maxes = M.gold_visibility(progress)
        self.assertEqual(ends, [base + 1500, base + 4000, base + 5250])
        self.assertEqual(maxes, [base + 800, base + 800, base + 4000])
        dues = [base + 100, base + 800, base + 801, base + 3999, base + 4001]
        self.assertEqual(M.freshness(dues, ends, maxes),
                         [1400, 700, 5250 - 801, 5250 - 3999, None])

    def test_visible_rate_counts_what_gold_made_visible(self):
        # 100 trades due every 10 ms from t = 0; the last becomes visible
        # 1010 ms after its due time 990: 100 trades in 2 s
        window = list(range(0, 1000, 10))
        fresh = [2000 - d for d in window[:50]] + [1010] * 50
        self.assertEqual(M.visible_rate(window, fresh, 0), 50.0)
        # a trade that never became visible: no rate
        self.assertEqual(M.visible_rate(window, fresh[:-1] + [None], 0), 0.0)

    def test_backlog_growth_is_detected(self):
        steady_ends = list(range(0, 30000, 1000))
        steady_max = [e - 3000 for e in steady_ends]
        self.assertFalse(M.backlog_grew(steady_ends, steady_max, 0, 30000))
        falling = [e - 3000 - 300 * i for i, e in enumerate(steady_ends)]
        self.assertTrue(M.backlog_grew(steady_ends, falling, 0, 30000))
        # one gold batch in the whole window: the hop stalled
        self.assertTrue(M.backlog_grew(steady_ends, steady_max, 0, 500))
        self.assertFalse(M.backlog_grew(steady_ends[:3], steady_max[:3], 0, 3000))

    def test_correctness_check_rejects_planted_errors(self):
        expected = [["XBT/USD", "1717977600000", "1.0", "2.0", "0.5", "1.5",
                     "3.0", "1.25", "4"],
                    ["ETH/USD", "1717977600000", "9.0", "9.0", "9.0", "9.0",
                     "1.0", "9.0", "1"]]
        # Java prints doubles differently; the values compare, not the text
        dump = [["XBT/USD", "1717977600000", "1.0", "2.0", "0.5", "1.5",
                 "3.0", "1.25", "4"],
                ["ETH/USD", "1717977600000", "9.0", "9.0", "9.0", "9.0",
                 "1.0", "9.000", "1"]]
        self.assertEqual(M.check_bars(dump, expected), [])
        wrong = [list(r) for r in dump]
        wrong[0][5] = "1.5000000000000002"  # a close one ulp off
        self.assertIn("wrong bar", M.check_bars(wrong, expected)[0])
        self.assertIn("missing bar", M.check_bars(dump[:1], expected)[0])
        sentinel = dump + [[M.SENTINEL, "1717978200000", "1.0", "1.0", "1.0",
                            "1.0", "1.0", "1.0", "1"]]
        self.assertIn("sentinel", M.check_bars(sentinel, expected)[0])
        malformed = dump + [["", "", "", "", "", "", "", "", ""]]
        self.assertIn("malformed", M.check_bars(malformed, expected)[0])

    def test_span_self_time_subtracts_covered_children(self):
        spans = [{"id": 1, "parent": 0, "name": "silver", "start_ms": 0, "end_ms": 100},
                 {"id": 2, "parent": 1, "name": "b", "start_ms": 10, "end_ms": 40},
                 {"id": 3, "parent": 1, "name": "b", "start_ms": 30, "end_ms": 50},
                 {"id": 4, "parent": 1, "name": "b", "start_ms": 90, "end_ms": 120}]
        st = {s["id"]: s["self_ms"] for s in M.self_times(spans)}
        self.assertEqual(st, {1: 100 - 40 - 10, 2: 30, 3: 20, 4: 30})


class DeclarationTest(unittest.TestCase):

    def test_benchmark_json_declares_what_the_runs_print(self):
        decl = M.load_json(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
        self.assertEqual([(m["name"], m["unit"]) for m in decl["end_to_end"]],
                         M.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in decl["per_layer"]],
                         M.PER_LAYER_UNITS)
        bounds = {m["name"]: m["bound"] for m in decl["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
