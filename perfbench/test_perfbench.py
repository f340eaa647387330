"""Self-tests of the benchmark's generator and checker (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import copy
import filecmp
import json
import os
import tempfile
import unittest

import checker
import trafficgen


def backlog(seed, out, messages=6000, files=3):
    return trafficgen.backlog(seed, out, messages, files)


def iso(sec):
    return checker.key_string(sec * 1000).replace(" ", "T") + ".000Z"


def perfect_rows(key, job):
    """Sink rows an exact engine would emit, one per window."""
    rows = []
    for wid, exact in key[job].items():
        start = int(wid) - 60 if job == "tumble" else int(wid)
        end = int(wid) if job == "tumble" else int(wid) + 60
        value = {"window_end": iso(end), "count_estimate": exact}
        if job == "hop":
            value["window_start"] = iso(start)
        rows.append([0, checker.key_string(end * 1000), json.dumps(value)])
    return rows


def perfect_dgim_query(events_key, query):
    """Rows an exact batch DGIM query would return."""
    return {"query": query, "ms": 1.0,
            "rows": [[int(w), int(w) + 3600, exact, exact] for w, exact in events_key[query].items()]}


def live_run(key, job, rows):
    return {"job": job, "rows": rows, "progress": [
        {"numInputRows": key["messages"], "stateOperators": [{"numRowsDroppedByWatermark": 0}]}]}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            backlog(5, a)
            backlog(5, b)
            backlog(6, c)
            same = filecmp.dircmp(a, b)
            self.assertEqual(same.diff_files, [])
            self.assertEqual(filecmp.dircmp(os.path.join(a, "data"), os.path.join(b, "data")).diff_files, [])
            self.assertNotEqual(filecmp.dircmp(os.path.join(a, "data"), os.path.join(c, "data")).diff_files, [])

    def test_key_counts_every_message(self):
        with tempfile.TemporaryDirectory() as d:
            key = backlog(3, d)
            lines = sum(len(open(os.path.join(d, "data", f)).read().splitlines())
                        for f in os.listdir(os.path.join(d, "data")))
            self.assertEqual(lines, key["messages"])
            self.assertGreater(key["malformed"], 0)
            self.assertGreater(key["out_of_order"], 0)
            # each 1-bit lands in one tumble window and six hop windows
            self.assertEqual(6 * sum(key["tumble"].values()), sum(key["hop"].values()))
            bits = [l.split() for l in open(os.path.join(d, "bits.txt"))]
            self.assertEqual({b[0]: int(b[1]) for b in bits},
                             {k: v for k, v in key["tumble"].items() if v > 0})


    def test_events_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            key = trafficgen.events(5, a, 5000)
            trafficgen.events(5, b, 5000)
            trafficgen.events(6, c, 5000)
            self.assertTrue(filecmp.cmp(os.path.join(a, "events.parquet"),
                                        os.path.join(b, "events.parquet"), shallow=False))
            self.assertFalse(filecmp.cmp(os.path.join(a, "events.parquet"),
                                         os.path.join(c, "events.parquet"), shallow=False))
            # each click lands in one tumble window and four slide windows
            self.assertGreater(sum(key["tumble"].values()), 0)
            self.assertEqual(4 * sum(key["tumble"].values()), sum(key["slide"].values()))


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as d:
            cls.key = backlog(9, d)
            cls.events_key = trafficgen.events(9, d, 20000)

    def tally(self, job, rows):
        t = checker.Tally()
        checker.check_live_job(t, self.key, live_run(self.key, job, rows))
        return t

    def test_exact_results_pass(self):
        for job in ("tumble", "hop"):
            t = self.tally(job, perfect_rows(self.key, job))
            self.assertEqual(t.failed, 0, t.reasons)
            self.assertGreater(t.attempted, len(self.key[job]))

    def test_planted_out_of_bound_estimate_fails(self):
        rows = perfect_rows(self.key, "tumble")
        wid, exact = max(self.key["tumble"].items(), key=lambda kv: kv[1])
        value = json.loads(rows[list(self.key["tumble"]).index(wid)][2])
        bad = copy.deepcopy(value)
        bad["count_estimate"] = exact + exact // 2 + 2
        rows.append([1, rows[0][1], json.dumps(bad)])
        t = self.tally("tumble", rows)
        self.assertEqual(t.reasons.get("out_of_bound"), 1, t.reasons)

    def test_estimate_at_the_bound_passes(self):
        self.assertTrue(checker.within_bound(10 + 10 // 2 + 1, 10))
        self.assertFalse(checker.within_bound(10 + 10 // 2 + 2, 10))

    def test_planted_wrong_key_missing_and_extra_windows_fail(self):
        rows = perfect_rows(self.key, "hop")
        dropped = rows.pop()
        rows[0][1] = "1999-01-01 00:00:00"
        extra = json.loads(dropped[2])
        extra["window_start"] = iso(0)
        rows.append([2, checker.key_string(60_000), json.dumps({**extra, "window_end": iso(60)})])
        t = self.tally("hop", rows)
        self.assertEqual(t.reasons, {"key_mismatch": 1, "missing_window": 1, "extra_window": 1})

    def test_append_mode_duplicate_fails(self):
        rows = perfect_rows(self.key, "tumble")
        t = checker.Tally()
        checker.check_windows(t, "tumble", rows + rows[:1], self.key["tumble"], last_write_wins=False)
        self.assertEqual(t.reasons, {"duplicate_window": 1})

    def test_closed_windows_follow_the_watermark(self):
        wm = (int(min(self.key["tumble"])) + 60) * 1000
        closed = checker.closed_windows(self.key, "tumble", wm)
        self.assertEqual(sorted(closed), sorted(self.key["tumble"])[:2])

    def test_exact_dgim_query_passes(self):
        for query in ("tumble", "slide"):
            t = checker.Tally()
            checker.check_dgim_query(t, self.events_key, perfect_dgim_query(self.events_key, query))
            self.assertEqual(t.failed, 0, t.reasons)
            self.assertEqual(t.attempted, 2 * len(self.events_key[query]))

    def test_planted_bad_dgim_rows_fail(self):
        q = perfect_dgim_query(self.events_key, "slide")
        rows = q["rows"]
        rows[0][2] = rows[0][3] + rows[0][3] // 2 + 2
        rows[1][3] += 1
        rows.pop()
        rows.append(rows[2])
        t = checker.Tally()
        checker.check_dgim_query(t, self.events_key, q)
        self.assertEqual(t.reasons, {"out_of_bound": 1, "exact_count": 1,
                                     "missing_window": 1, "duplicate_window": 1})

    def test_rejection_count_mismatch_fails(self):
        t = checker.Tally()
        checker.check_rejections(t, self.key, self.key["valid"])
        checker.check_rejections(t, self.key, self.key["valid"] + 1)
        self.assertEqual((t.attempted, t.failed), (2, 1))


if __name__ == "__main__":
    unittest.main()
