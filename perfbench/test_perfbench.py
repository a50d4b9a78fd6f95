"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""
import json
import math
import os
import threading
import time
import unittest

import loadgen
import stats

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_pct(1000), 99.0)
        self.assertEqual(stats.tail_pct(200), 95.0)
        self.assertEqual(stats.tail_pct(199), 90.0)
        self.assertEqual(stats.tail_pct(100), 90.0)
        self.assertEqual(stats.tail_pct(99), 80.0)
        self.assertEqual(stats.tail_pct(40), 75.0)

    def test_drops_to_median_when_sample_is_small(self):
        self.assertEqual(stats.tail_pct(39), 50.0)
        v, p, n = stats.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, p, n), (3.0, 50.0, 3))

    def test_ten_samples_lie_beyond_the_reported_percentile(self):
        for n in (20, 40, 57, 100, 200, 333, 1000):
            xs = list(range(n))
            v, p, _ = stats.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10 if p > 50 else 0, n)

    def test_failures_count_beyond_any_limit(self):
        v, p, n = stats.tail([10.0] * 190, failed=10)
        self.assertEqual((p, n), (95.0, 200))
        self.assertTrue(math.isinf(stats.tail([10.0] * 180, failed=20)[0]))

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.median([7]), 7)


class OpenLoop(unittest.TestCase):
    def run_loop(self, stall_s):
        lock = threading.Lock()
        first = [True]

        def send(w, item):
            with lock:
                stall, first[0] = first[0], False
            time.sleep(stall_s if stall else 0.001)
            return {}
        return loadgen.open_loop(send, list(range(20)), loadgen.uniform_offsets(40, 0.5), workers=1)

    def test_latency_is_timed_from_the_due_time(self):
        calm = self.run_loop(0.0)
        stalled = self.run_loop(0.3)
        late = [r["late_s"] for r in stalled]
        # every request queued behind the stall was sent late and its
        # latency includes the wait, not just its own service time
        self.assertGreater(late[5], 0.15)
        self.assertGreater(stalled[5]["latency_s"], 0.15)
        self.assertLess(stalled[5]["done"] - stalled[5]["sent"], 0.1)
        self.assertGreater(stats.median([x * 1000 for x in late]), 30.0)
        self.assertLess(stats.median([r["late_s"] * 1000 for r in calm]), 10.0)

    def test_failed_send_is_recorded_not_raised(self):
        def send(w, item):
            raise ConnectionError("refused")
        recs = loadgen.open_loop(send, [1, 2], [0.0, 0.01], workers=2)
        self.assertTrue(all("error" in r for r in recs))


class Names(unittest.TestCase):
    def test_grammar(self):
        for good in ("setup_s", "exec.jobs_per_query", "query.q_text_tfidf_s", "a-b.c_1"):
            self.assertTrue(stats.valid_name(good), good)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)
        with self.assertRaises(ValueError):
            stats.metric_line("bad name", "w", 1.0, "s")

    def test_benchmark_json_names(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


class Tail(unittest.TestCase):
    def test_result_parses_from_a_2kb_tail(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        lines = [stats.metric_line(f"query.q_{i}_s", "analytics", 1 / 3 + i, "s", 1) for i in range(300)]
        for key in ("end_to_end", "per_layer"):
            metrics = {m["name"]: (123456.78901234567, m["unit"]) for m in bench[key]}
            out = "\n".join(lines + [stats.result_line(True, 1000, 0, metrics)]) + "\n"
            result, tail_lines = stats.parse_tail(out[-2048:])
            self.assertIsNotNone(result, key)
            self.assertEqual(set(result["metrics"]), set(metrics))
            self.assertTrue(tail_lines)
            for line in lines:
                self.assertLessEqual(len(line), stats.MAX_LINE)


if __name__ == "__main__":
    unittest.main()
