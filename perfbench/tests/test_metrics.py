"""Tests of the benchmark's own metric rules.

    python3 -m unittest discover -s perfbench/tests

The digest-stability test runs the benchmark JVM twice and is skipped
unless PERFBENCH_SLOW=1."""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = M.tail_percentile(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 4, 6, 10, 11, 12, 13, 14, 15]
        self.assertEqual(M.tail_percentile(xs), M.tail_percentile(sorted(xs)))
        self.assertEqual(M.tail_percentile(xs)[0], 5)

    def test_ties_at_the_cut_move_it_down(self):
        # the 10 largest samples are all equal to the candidate: step down
        xs = [1, 2, 3] + [9] * 12
        value, _, beyond = M.tail_percentile(xs)
        self.assertEqual(value, 3)
        self.assertEqual(beyond, 12)

    def test_too_few_samples_fall_back_to_minimum(self):
        value, _, beyond = M.tail_percentile([4, 2, 3])
        self.assertEqual(value, 2)
        self.assertEqual(beyond, 2)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "name": f"s{i}", "request_id": "g",
                "start_us": start, "end_us": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 50, 90), self.span(4, 3, 60, 70)]
        st = M.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 30, 3: 30, 4: 10})

    def test_self_times_sum_to_root_duration(self):
        spans = [self.span(1, 0, 0, 1000), self.span(2, 1, 0, 600),
                 self.span(3, 2, 100, 200), self.span(4, 1, 600, 1000)]
        self.assertEqual(sum(M.self_times(spans).values()), 1000)


class OpenLoopLateness(unittest.TestCase):
    def test_latency_counts_from_due_time_not_send_time(self):
        # doc 0 due at t=0 but the generator only sent it at t=300 ms;
        # its verdict came at t=500 ms: latency is 500 ms, not 200 ms
        due = [0, 100000]
        emits = [{"batch_id": 0, "t_us": 500000, "doc_ids": [10, 11]}]
        lat = M.doc_latencies_ms(due, emits, lambda d: d - 10)
        self.assertEqual(lat, {0: 500.0, 1: 400.0})

    def test_generator_lateness(self):
        commits = [{"due_us": 0, "send_us": 0}, {"due_us": 1000, "send_us": 251000}]
        self.assertEqual(M.generator_lateness_ms(commits), [0.0, 250.0])


class SustainedRate(unittest.TestCase):
    @staticmethod
    def simulate(rates, per_phase, duration_of):
        """Commits once a second, `per_phase` per rate. The stream runs
        triggers back to back, each over every version committed before
        it started; `duration_of(rate, versions)` is its length (s)."""
        commits, phases = [], []
        for n, r in enumerate(rates):
            start = n * per_phase
            for k in range(per_phase):
                due = (start + k) * 1_000_000
                i = len(commits)
                commits.append({"lo": i, "hi": i + 1, "due_us": due, "send_us": due,
                                "end_us": due, "rate": r})
            phases.append((r, start * 1_000_000, (start + per_phase) * 1_000_000))
        processed, emits, t, nxt = [None] * len(commits), [], 0, 0
        while nxt < len(commits):
            ready = [i for i in range(nxt, len(commits)) if commits[i]["end_us"] <= t]
            t += int(duration_of(commits[ready[-1]]["rate"], len(ready)) * 1e6)
            for i in ready:
                processed[i] = t
            emits.append(t)
            nxt = ready[-1] + 1
        return commits, processed, emits, phases

    # a trigger costs 1 s plus rate/1000 s per version: a steady state
    # exists below 1,000 docs/s (trigger time 1 / (1 - rate/1000))
    cost = staticmethod(lambda r, v: 1.0 + v * r / 1000.0)  # noqa: E731

    def test_highest_rate_without_growing_backlog(self):
        commits, processed, emits, phases = self.simulate([100, 200, 400, 1600], 20, self.cost)
        self.assertEqual(M.sustained_rate(phases, commits, processed, emits, 1_000_000),
                         (400, 2))

    def test_steady_backlog_after_a_rate_change_is_not_growth(self):
        commits, processed, emits, phases = self.simulate([100, 600], 20, self.cost)
        self.assertLess(M.backlog_growth(emits, *phases[1][1:], 1_000_000), 1.0)

    def test_none_when_first_rate_already_overloads(self):
        commits, processed, emits, phases = self.simulate([1500, 3000], 20, self.cost)
        self.assertEqual(M.sustained_rate(phases, commits, processed, emits, 1_000_000),
                         (None, -1))

    def test_generator_falling_behind_ends_the_ladder(self):
        commits, processed, emits, phases = self.simulate([100, 200, 400], 20, self.cost)
        for c in commits:  # at 400 docs/s the generator sends 2 s late
            if c["rate"] == 400:
                c["send_us"] = c["due_us"] + 2_000_000
        self.assertEqual(M.sustained_rate(phases, commits, processed, emits, 1_000_000),
                         (400, 2))
        self.assertEqual(M.sustained_rate(phases, commits, processed, emits, 1_000_000,
                                          max_late_us=1_500_000), (200, 1))

    def test_unprocessed_version_ends_the_ladder(self):
        commits, processed, emits, phases = self.simulate([100, 200], 20, self.cost)
        processed[-1] = None
        self.assertEqual(M.sustained_rate(phases, commits, processed, emits, 1_000_000),
                         (100, 0))


class Digests(unittest.TestCase):
    def test_mismatch_lists_changed_and_missing(self):
        exp = {"a": {"rows": 1}, "b": {"rows": 2}, "c": {"rows": 3}}
        got = {"a": {"rows": 1}, "b": {"rows": 5}, "d": {"rows": 1}}
        self.assertEqual(M.digest_mismatches(got, exp), ["b", "d"])

    @unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1",
                         "runs the benchmark JVM twice; set PERFBENCH_SLOW=1")
    def test_digests_stable_across_two_runs(self):
        """Two runs with different seeds give the same digest for every
        query of the batch workload."""
        run = os.path.join(os.path.dirname(HERE), "run.py")
        for workload in ("batch_queries",):
            got = []
            for seed in (11, 12):
                out = subprocess.run(
                    [sys.executable, run, "--workload", workload, "--seed", str(seed),
                     "--seconds", "1", "--trace", "0"],
                    check=True, capture_output=True, text=True).stdout.splitlines()
                detail = json.loads(out[-2])["detail"]
                got.append(detail["digests"])
                self.assertEqual(json.loads(out[-1])["failed"], 0)
            self.assertEqual(got[0], got[1])


if __name__ == "__main__":
    unittest.main()
