import json
import subprocess
import unittest

from common import ROOT
import build


class WatchdogTest(unittest.TestCase):
    """Runs the runner's `SelfTest` (compiling it first if needed)."""

    @classmethod
    def setUpClass(cls):
        cp = build.build(ROOT)
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", ":".join(cp),
                              "graft.perfbench.SelfTest"],
                             capture_output=True, text=True, timeout=300, check=True)
        cls.r = json.loads(out.stdout.strip().splitlines()[-1])

    def test_timeout_counts_even_when_body_returns(self):
        self.assertEqual(self.r["returned_normally"], "timeout")

    def test_exception_and_success(self):
        self.assertEqual(self.r["thrown"], "error")
        self.assertEqual(self.r["fine"], "ok")

    def test_late_watchdog_leaks_nothing(self):
        self.assertEqual(self.r["leaks"], 0)
        self.assertEqual(self.r["wrong_cancel"], 0)
        # the race must actually have been exercised on both sides
        self.assertGreater(self.r["race_timeouts"], 0)
        self.assertLess(self.r["race_timeouts"], self.r["races"])


if __name__ == "__main__":
    unittest.main()
