import unittest

from common import ROOT  # noqa: F401  (puts perfbench on sys.path)
import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_small_sample_falls_back_to_median(self):
        for n in (1, 2, 5, 20):
            xs = list(range(n))
            value, pct, beyond = metrics.tail(xs)
            self.assertEqual(value, metrics.median(xs))
            self.assertEqual(pct, 50.0)

    def test_first_sample_count_with_a_real_tail(self):
        xs = list(range(22))  # n=22: position 11 has ten samples beyond
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual((value, beyond), (11, 10))
        self.assertGreater(value, metrics.median(xs))


class KindGmeanTest(unittest.TestCase):
    def ops(self, pairs):
        return [{"kind": k, "ms": ms} for k, ms in pairs]

    def test_each_kind_weighs_once(self):
        # three appends at 8 ms and one delete at 2 ms: sqrt(8 * 2)
        ops = self.ops([("append", 8.0)] * 3 + [("delete", 2.0)])
        self.assertAlmostEqual(metrics.kind_p50_gmean(ops), 4.0)

    def test_any_kind_moves_it(self):
        base = [("a", 100.0), ("b", 200.0), ("c", 400.0), ("a", 100.0)]
        slow = [(k, ms * 2 if k == "c" else ms) for k, ms in base]
        ratio = metrics.kind_p50_gmean(self.ops(slow)) / metrics.kind_p50_gmean(self.ops(base))
        self.assertAlmostEqual(ratio, 2 ** (1 / 3))

    def test_kind_median(self):
        ops = self.ops([("a", 1.0), ("a", 3.0), ("a", 100.0)])
        self.assertAlmostEqual(metrics.kind_p50_gmean(ops), 3.0)
        self.assertEqual(metrics.kind_p50_gmean([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "op": 1, "name": f"s{id_}",
                "start_ns": start, "end_ns": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),   # overlaps span 2: covered 10..60
                 self.span(4, 3, 35, 45)]   # grandchild: only span 3 loses it
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30 - 10)
        self.assertEqual(st[4], 10)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)

    def test_union(self):
        self.assertEqual(metrics.covered([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(metrics.covered([]), 0)


class AccountingTest(unittest.TestCase):
    def op(self, status, actual, id_=0):
        return {"id": id_, "kind": "q", "status": status, "actual": actual, "error": None}

    def test_each_failure_counts_once(self):
        ops = [self.op("ok", "right", 0),
               self.op("ok", "wrong", 1),        # checked mismatch
               self.op("error", None, 2),        # exception
               self.op("timeout", "right", 3),   # timed out, even with a right answer
               self.op("error", "wrong", 4)]     # an error that also mismatches: once
        attempted, failed, why, bad = metrics.account(ops, lambda op: "right")
        self.assertEqual(attempted, 5)
        self.assertEqual(failed, 4)
        self.assertEqual(why, {"error": 2, "timeout": 1, "mismatch": 1})
        self.assertEqual([b["id"] for b in bad], [1, 2, 3, 4])

    def test_unchecked_ops_pass(self):
        self.assertEqual(metrics.account([self.op("ok", "x")], lambda op: None)[1], 0)


if __name__ == "__main__":
    unittest.main()
