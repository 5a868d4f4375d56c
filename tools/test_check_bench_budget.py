#!/usr/bin/env python3
"""Tests for the check_bench_budget floor-raise guard (stdlib unittest).

Run: python3 tools/test_check_bench_budget.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(__file__))
import check_bench_budget as cbb  # noqa: E402


def write(path, text):
    with open(path, "w") as f:
        f.write(text)
    return path


class RaiseGuardTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.budget = os.path.join(self.tmp, "bench_budget.tsv")
        self._old_budget = cbb.BUDGET
        cbb.BUDGET = self.budget
        write(self.budget, "q_fast\t1.000\nq_slow\t4.000\n")

    def tearDown(self):
        cbb.BUDGET = self._old_budget

    def bench(self, queries):
        line = json.dumps({"metric": "bench", "value": sum(queries.values()),
                           "unit": "sec", "queries": queries,
                           "sf": "/root/testdata/sf0.1"})
        return write(os.path.join(self.tmp, "bench.json"), line + "\n")

    def update(self, queries, reverify_text=None):
        argv = ["prog", self.bench(queries), "--update"]
        if reverify_text is not None:
            argv += ["--reverify",
                     write(os.path.join(self.tmp, "reverify.txt"),
                           reverify_text)]
        return cbb.main(argv)

    def read_budget(self):
        return {n: float(t) for n, t in
                (l.split("\t") for l in open(self.budget))}

    def test_update_refuses_partial_capture_dropping_floors(self):
        # q_slow absent from the capture: its committed floor must not
        # be silently erased
        with self.assertRaises(SystemExit):
            self.update({"q_fast": 1.1})
        self.assertEqual(self.read_budget()["q_slow"], 4.0)

    def test_reverify_flag_without_value_refuses(self):
        argv = ["prog", self.bench({"q_fast": 1.0, "q_slow": 4.0}),
                "--update", "--reverify"]
        with self.assertRaises(SystemExit):
            cbb.main(argv)

    def test_bench_path_named_like_flag_does_not_misparse(self):
        # a capture file literally named '--reverify' must not be taken
        # as the flag itself (flags are searched past the bench path)
        path = self.bench({"q_fast": 1.0, "q_slow": 4.0})
        flagname = os.path.join(self.tmp, "--reverify")
        os.rename(path, flagname)
        rc = cbb.main(["prog", flagname, "--update"])
        self.assertEqual(rc, 0)

    def test_update_within_cap_allowed(self):
        rc = self.update({"q_fast": 1.2, "q_slow": 4.1})
        self.assertEqual(rc, 0)
        self.assertEqual(self.read_budget()["q_fast"], 1.2)

    def test_update_refuses_unjustified_raise(self):
        with self.assertRaises(SystemExit):
            self.update({"q_fast": 2.0, "q_slow": 4.0})
        # budget file untouched on refusal
        self.assertEqual(self.read_budget()["q_fast"], 1.0)

    def test_update_allows_raise_with_reverify_line(self):
        rc = self.update({"q_fast": 2.0, "q_slow": 4.0},
                         reverify_text="# adjudication\n"
                                       "q_fast  1.9  1.0  1.95 / 2.0  "
                                       "plan changed intentionally\n")
        self.assertEqual(rc, 0)
        self.assertEqual(self.read_budget()["q_fast"], 2.0)

    def test_reverify_must_name_the_raised_query(self):
        with self.assertRaises(SystemExit):
            self.update({"q_fast": 2.0, "q_slow": 4.0},
                        reverify_text="q_slow 4.0 4.0 4.0 at floor\n")

    def test_new_query_needs_no_justification(self):
        rc = self.update({"q_fast": 1.0, "q_slow": 4.0, "q_new": 9.9})
        self.assertEqual(rc, 0)
        self.assertEqual(self.read_budget()["q_new"], 9.9)

    def test_lowering_always_allowed(self):
        rc = self.update({"q_fast": 0.1, "q_slow": 0.1})
        self.assertEqual(rc, 0)

    def test_comment_lines_do_not_adjudicate(self):
        with self.assertRaises(SystemExit):
            self.update({"q_fast": 2.0, "q_slow": 4.0},
                        reverify_text="# q_fast mentioned in a comment\n")


class HostBandTest(unittest.TestCase):
    """--median normalizes both gates by the host factor; three
    calibration rows hold the median at their ratio whatever q_x does."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.budget = os.path.join(self.tmp, "bench_budget.tsv")
        self._old_budget = cbb.BUDGET
        cbb.BUDGET = self.budget
        write(self.budget, "q_c1\t1.000\nq_c2\t1.000\nq_c3\t1.000\n"
                           "q_x\t2.000\n")

    def tearDown(self):
        cbb.BUDGET = self._old_budget

    def bench(self, host, q_x):
        queries = {"q_c1": host, "q_c2": host, "q_c3": host, "q_x": q_x}
        line = json.dumps({"metric": "bench", "value": sum(queries.values()),
                           "unit": "sec", "queries": queries,
                           "sf": "/root/testdata/sf0.1"})
        return write(os.path.join(self.tmp, "bench.json"), line + "\n")

    def check(self, host, q_x, *extra):
        return cbb.main(["prog", self.bench(host, q_x), "--median", *extra])

    def test_slow_host_band_absorbed(self):
        # whole capture 1.4x slow: q_x at 3.2 > 3.0 raw but
        # 3.2/1.4 = 2.29 < 3.0 normalized
        rc = self.check(1.4, 3.2)
        self.assertEqual(rc, 0)

    def test_raw_mode_still_flags(self):
        rc = cbb.main(["prog", self.bench(1.4, 3.2)])
        self.assertEqual(rc, 1)

    def test_real_regression_not_absorbed(self):
        # host factor 1.4, but q_x regressed 3x: 6.0/1.4 = 4.3 > 3.0
        rc = self.check(1.4, 6.0)
        self.assertEqual(rc, 1)

    def test_fast_host_does_not_tighten(self):
        # host 2x fast; q_x within raw budget must still pass (h
        # clamps at 1, never below)
        rc = self.check(0.5, 2.9)
        self.assertEqual(rc, 0)

    def test_host_factor_capped(self):
        # a 4x excursion is not a credible host band: h clamps at 2,
        # so a query needing 3x absorption still fails
        rc = self.check(4.0, 8.9)
        self.assertEqual(rc, 1)

    def test_update_raise_guard_normalized(self):
        # 1.4x host band: q_x at 2.72 raw (> 1.3x floor) but 1.94
        # normalized (< 1.3x floor) — recordable without adjudication
        rc = self.check(1.4, 2.72, "--update")
        self.assertEqual(rc, 0)

    def test_update_raise_guard_still_arms_past_band(self):
        with self.assertRaises(SystemExit):
            self.check(1.4, 6.0, "--update")


class MultiCaptureTest(unittest.TestCase):
    """Per-query min over several captures separates host spikes
    (uncorrelated, vanish in the min) from code regressions (persist
    in every capture) — the round-16 variance-separation gate."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.budget = os.path.join(self.tmp, "bench_budget.tsv")
        self._old_budget = cbb.BUDGET
        cbb.BUDGET = self.budget
        write(self.budget, "q_a\t1.000\nq_b\t2.000\nq_c\t1.000\n")
        self.n = 0

    def tearDown(self):
        cbb.BUDGET = self._old_budget

    def bench(self, queries):
        self.n += 1
        line = json.dumps({"metric": "bench", "value": sum(queries.values()),
                           "unit": "sec", "queries": queries,
                           "sf": "/root/testdata/sf0.1"})
        return write(os.path.join(self.tmp, f"bench{self.n}.json"),
                     line + "\n")

    def test_degraded_second_capture_zero_false_flags(self):
        # capture A clean, capture B with uncorrelated 2.8x spikes (the
        # committed r15 A/B shape): the min gates, nothing flags
        a = self.bench({"q_a": 1.0, "q_b": 2.0, "q_c": 1.0})
        b = self.bench({"q_a": 2.8, "q_b": 5.6, "q_c": 1.1})
        self.assertEqual(cbb.main(["prog", a, b]), 0)

    def test_real_regression_persists_through_min(self):
        # q_b regressed ~2.1x in BOTH captures: min 4.2 > 1.5x floor 2.0
        a = self.bench({"q_a": 1.0, "q_b": 4.2, "q_c": 1.0})
        b = self.bench({"q_a": 1.4, "q_b": 4.4, "q_c": 1.2})
        self.assertEqual(cbb.main(["prog", a, b]), 1)

    def test_crash_in_any_capture_fails(self):
        a = self.bench({"q_a": 1.0, "q_b": 2.0, "q_c": 1.0})
        b = self.bench({"q_a": 1.0, "q_b": -1.0, "q_c": 1.0})
        self.assertEqual(cbb.main(["prog", a, b]), 1)

    def test_crash_with_sibling_and_reverify_clears(self):
        # q_b crashed in capture B only (transient host failure), the
        # sibling succeeded at-floor, and an isolated reverify line
        # adjudicates it: the round gate clears (round-16 ADVICE)
        a = self.bench({"q_a": 1.0, "q_b": 2.0, "q_c": 1.0})
        b = self.bench({"q_a": 1.0, "q_b": -1.0, "q_c": 1.0})
        rev = write(os.path.join(self.tmp, "reverify.txt"),
                    "q_b 2.0 isolated fresh-JVM at floor\n")
        self.assertEqual(cbb.main(["prog", a, b, "--reverify", rev]), 0)

    def test_crash_cleared_sibling_still_gated_on_time(self):
        # the adjudication clears the CRASH, not the budget: a sibling
        # time past 1.5x floor still fails
        a = self.bench({"q_a": 1.0, "q_b": 4.2, "q_c": 1.0})
        b = self.bench({"q_a": 1.0, "q_b": -1.0, "q_c": 1.0})
        rev = write(os.path.join(self.tmp, "reverify.txt"), "q_b cleared\n")
        self.assertEqual(cbb.main(["prog", a, b, "--reverify", rev]), 1)

    def test_crash_in_every_capture_never_clears(self):
        a = self.bench({"q_a": 1.0, "q_b": -1.0, "q_c": 1.0})
        b = self.bench({"q_a": 1.0, "q_b": -1.0, "q_c": 1.0})
        rev = write(os.path.join(self.tmp, "reverify.txt"), "q_b cleared\n")
        self.assertEqual(cbb.main(["prog", a, b, "--reverify", rev]), 1)

    def test_mixed_scale_captures_rejected_in_check_mode(self):
        # the round-16 ADVICE hole: a second capture at a smaller scale
        # would min-merge tiny times and pass everything — refuse it
        a = self.bench({"q_a": 1.0, "q_b": 2.0, "q_c": 1.0})
        line = json.dumps({"metric": "bench", "value": 0.3,
                           "queries": {"q_a": 0.1, "q_b": 0.1, "q_c": 0.1},
                           "sf": "/root/testdata/sf0.001"})
        b = write(os.path.join(self.tmp, "small.json"), line + "\n")
        with self.assertRaises(SystemExit):
            cbb.main(["prog", a, b])
        with self.assertRaises(SystemExit):
            cbb.main(["prog", a, b, "--update"])

    def test_committed_r15_pair_zero_false_flags(self):
        # the real committed capture pair that motivated the gate: A
        # (clean, floors recorded from it) + B (degraded, six rows
        # >2x) must pass with zero flags when gated together
        a = os.path.join(os.path.dirname(__file__), "..",
                         "reports", "bench_capture_r15_a.json")
        b = os.path.join(os.path.dirname(__file__), "..",
                         "reports", "bench_capture_r15_b.json")
        if not (os.path.exists(a) and os.path.exists(b)):
            self.skipTest("committed capture pair not present")
        qa, _ = cbb.load_queries(a)
        qb, _ = cbb.load_queries(b)
        cbb.BUDGET = write(
            os.path.join(self.tmp, "real_budget.tsv"),
            "".join(f"{n}\t{t:.3f}\n" for n, t in sorted(qa.items())))
        self.assertEqual(cbb.main(["prog", a, b]), 0)


class MedianHostTest(unittest.TestCase):
    """--median: the host factor is the median of all per-row ratios —
    a fleet sentinel no single row's bad luck can skew."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.budget = os.path.join(self.tmp, "bench_budget.tsv")
        self._old_budget = cbb.BUDGET
        cbb.BUDGET = self.budget
        write(self.budget, "q_a\t1.000\nq_b\t1.000\nq_c\t1.000\n"
                           "q_d\t1.000\nq_e\t2.000\n")

    def tearDown(self):
        cbb.BUDGET = self._old_budget

    def bench(self, queries):
        line = json.dumps({"metric": "bench", "value": sum(queries.values()),
                           "unit": "sec", "queries": queries,
                           "sf": "/root/testdata/sf0.1"})
        return write(os.path.join(self.tmp, "bench.json"), line + "\n")

    def test_uniform_band_absorbed(self):
        # whole capture 1.4x slow; q_e at 2.8 within 1.5x after /1.4
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.4, "q_b": 1.4, "q_c": 1.4, "q_d": 1.4, "q_e": 3.2}),
            "--median"])
        self.assertEqual(rc, 0)

    def test_single_spike_not_absorbed(self):
        # calm median (1.0) — a lone 2x row is NOT a host band
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.0, "q_b": 1.0, "q_c": 1.0, "q_d": 1.0, "q_e": 4.0}),
            "--median"])
        self.assertEqual(rc, 1)

    def test_median_capped_at_two(self):
        # a 3x fleet-wide excursion clamps to 2: q_e needing full 3x
        # absorption still fails
        rc = cbb.main(["prog", self.bench(
            {"q_a": 3.0, "q_b": 3.0, "q_c": 3.0, "q_d": 3.0, "q_e": 9.5}),
            "--median"])
        self.assertEqual(rc, 1)

    def test_update_commits_normalized_floors(self):
        # the round-16 ADVICE ratchet: a 1.4x host band during --update
        # must NOT be written into the floors — committed values are
        # time/h, leaving the gate as tight as the clean-host truth
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.4, "q_b": 1.4, "q_c": 1.4, "q_d": 1.4, "q_e": 2.8}),
            "--update", "--median"])
        self.assertEqual(rc, 0)
        got = {n: float(t) for n, t in
               (l.split("\t") for l in open(self.budget))}
        self.assertAlmostEqual(got["q_a"], 1.0, places=3)
        self.assertAlmostEqual(got["q_e"], 2.0, places=3)


class BytesGateTest(unittest.TestCase):
    """Round-16 verdict item 5: shuffle-bytes / peak-memory budgets make
    the x10-OOM class visible at sf0.1 — gated on a generous multiple
    plus absolute slack, no host normalization."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self._old = (cbb.BUDGET, cbb.BYTES_BUDGET)
        cbb.BUDGET = write(os.path.join(self.tmp, "bench_budget.tsv"),
                           "q_a\t1.000\nq_b\t1.000\n")
        cbb.BYTES_BUDGET = os.path.join(self.tmp, "bytes.tsv")
        write(cbb.BYTES_BUDGET, "q_a\t1000000000\t2000000000\n"
                                "q_b\t1000\t1000000\n")

    def tearDown(self):
        cbb.BUDGET, cbb.BYTES_BUDGET = self._old

    def bench(self, queries, sbytes=None, smem=None):
        obj = {"metric": "bench", "queries": queries,
               "sf": "/root/testdata/sf0.1"}
        if sbytes is not None:
            obj["shuffle_bytes"] = sbytes
        if smem is not None:
            obj["peak_mem"] = smem
        return write(os.path.join(self.tmp, "bench.json"),
                     json.dumps(obj) + "\n")

    def test_within_budget_passes(self):
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.0, "q_b": 1.0},
            {"q_a": 2500000000, "q_b": 500},
            {"q_a": 2000000000, "q_b": 1000000})])
        self.assertEqual(rc, 0)

    def test_shuffle_bytes_regression_flags(self):
        # 4 GB > 3x 1 GB + 64 MiB slack: a plan-shape change, not noise
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.0, "q_b": 1.0},
            {"q_a": 4000000000, "q_b": 500},
            {"q_a": 1, "q_b": 1})])
        self.assertEqual(rc, 1)

    def test_peak_mem_regression_flags(self):
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.0, "q_b": 1.0},
            {"q_a": 1, "q_b": 1},
            {"q_a": 7000000000, "q_b": 1})])
        self.assertEqual(rc, 1)

    def test_slack_absorbs_small_row_jitter(self):
        # q_b's floor is 1 KB; a 10 MB excursion is inside the 64 MiB
        # slack (AQE partition jitter on tiny rows must not flag)
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.0, "q_b": 1.0},
            {"q_a": 1, "q_b": 10000000},
            {"q_a": 1, "q_b": 1})])
        self.assertEqual(rc, 0)

    def test_pre_round17_capture_without_bytes_passes(self):
        rc = cbb.main(["prog", self.bench({"q_a": 1.0, "q_b": 1.0})])
        self.assertEqual(rc, 0)

    def test_update_records_resource_budgets(self):
        rc = cbb.main(["prog", self.bench(
            {"q_a": 1.0, "q_b": 1.0},
            {"q_a": 123, "q_b": 456},
            {"q_a": 789, "q_b": 12}), "--update"])
        self.assertEqual(rc, 0)
        rows = dict((l.split("\t")[0], l.strip().split("\t")[1:])
                    for l in open(cbb.BYTES_BUDGET))
        self.assertEqual(rows["q_a"], ["123", "789"])
        self.assertEqual(rows["q_b"], ["456", "12"])

    def test_min_merge_across_captures(self):
        a = self.bench({"q_a": 1.0, "q_b": 1.0},
                       {"q_a": 4000000000, "q_b": 500},
                       {"q_a": 1, "q_b": 1})
        b = write(os.path.join(self.tmp, "b.json"), json.dumps(
            {"metric": "bench", "queries": {"q_a": 1.0, "q_b": 1.0},
             "shuffle_bytes": {"q_a": 900000000, "q_b": 500},
             "peak_mem": {"q_a": 1, "q_b": 1},
             "sf": "/root/testdata/sf0.1"}) + "\n")
        self.assertEqual(cbb.main(["prog", a, b]), 0)


class GateOrderingTest(unittest.TestCase):
    """Round-16 verdict: the binding evidence is the check against the
    PRIOR round's floors — update mode must surface vs-prior
    regressions even though its own re-record would absorb them, and
    every written floor lands in the history file."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.budget = os.path.join(self.tmp, "bench_budget.tsv")
        self.history = os.path.join(self.tmp, "history.tsv")
        self._old_budget, self._old_history = cbb.BUDGET, cbb.HISTORY
        cbb.BUDGET, cbb.HISTORY = self.budget, self.history
        write(self.budget, "q_a\t1.000\nq_b\t2.000\n")

    def tearDown(self):
        cbb.BUDGET, cbb.HISTORY = self._old_budget, self._old_history

    def bench(self, queries):
        line = json.dumps({"metric": "bench", "value": sum(queries.values()),
                           "unit": "sec", "queries": queries,
                           "sf": "/root/testdata/sf0.1"})
        return write(os.path.join(self.tmp, "bench.json"), line + "\n")

    def run_update(self, queries, *extra):
        import io
        import contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cbb.main(["prog", self.bench(queries), "--update", *extra])
        return rc, buf.getvalue()

    def test_real_regression_flags_against_prior_floors_in_update(self):
        # q_a regressed 2x — adjudicated so the raise guard lets the
        # re-record through, but the PRIOR-FLOOR REGRESSION line must
        # still print: same-round floors cannot absorb the evidence
        rev = write(os.path.join(self.tmp, "rev.txt"),
                    "q_a 2.0 adjudicated intentional plan change\n")
        rc, out = self.run_update({"q_a": 2.0, "q_b": 2.0},
                                  "--reverify", rev)
        self.assertEqual(rc, 0)
        self.assertIn("PRIOR-FLOOR REGRESSION q_a", out)
        self.assertIn("[adjudicated]", out)

    def test_clean_update_reports_zero_prior_regressions(self):
        rc, out = self.run_update({"q_a": 1.1, "q_b": 2.1})
        self.assertEqual(rc, 0)
        self.assertIn("vs prior floors: 0 row(s)", out)

    def test_history_appends_tagged_floors(self):
        rc, _ = self.run_update({"q_a": 1.0, "q_b": 2.0},
                                "--history-tag", "r17")
        self.assertEqual(rc, 0)
        rows = [l.strip().split("\t") for l in open(self.history)]
        self.assertEqual(rows, [["r17", "q_a", "1.000"],
                                ["r17", "q_b", "2.000"]])
        # a second round appends, never truncates
        rc, _ = self.run_update({"q_a": 1.2, "q_b": 2.0},
                                "--history-tag", "r18")
        self.assertEqual(rc, 0)
        self.assertEqual(len(list(open(self.history))), 4)

    def test_history_tag_requires_value(self):
        with self.assertRaises(SystemExit):
            cbb.main(["prog", self.bench({"q_a": 1.0, "q_b": 2.0}),
                      "--update", "--history-tag"])


if __name__ == "__main__":
    unittest.main()
