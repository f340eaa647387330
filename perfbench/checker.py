"""Correctness check and failure accounting for the traffic workloads.

An operation is one window result, one parse-rejection count, or one
drain's input count. A failure is a window that is missing, extra, or
whose DGIM estimate is further than exact // 2 + 1 from the exact 1-bit
count (the bound graft's StreamingSpec uses); a batch DGIM window whose
exact count is wrong; a parse-rejection count that differs from the
generator's malformed count; a drain that did not read every message; or
rows dropped as late by the watermark.
"""

import datetime
import json

WATERMARK_MS = 120_000


def epoch_ms(iso):
    """Spark's ISO-8601 renderings ("2024-01-01T00:01:00.000Z")."""
    return int(datetime.datetime.fromisoformat(iso.replace("Z", "+00:00"))
               .timestamp() * 1000)


def key_string(ms):
    """A timestamp cast to string in a UTC session, the upsert key."""
    return datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def within_bound(estimate, exact):
    return abs(estimate - exact) <= exact // 2 + 1


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = {}

    def check(self, ok, reason):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons[reason] = self.reasons.get(reason, 0) + 1


def window_id(job, value):
    """The answer key's id of an emitted window: tumble by end second, hop
    by start second."""
    field = "window_end" if job == "tumble" else "window_start"
    return str(epoch_ms(value[field]) // 1000)


def check_windows(tally, job, rows, expected, last_write_wins):
    """rows: [batch id, key, value JSON] in emission order. expected: the
    answer key's window id -> exact count for every window that must
    appear. With `last_write_wins` (update mode) a window's last row is
    its result; otherwise (append mode) a window must appear once."""
    seen = {}
    for _, key, value in rows:
        v = json.loads(value)
        tally.check(key == key_string(epoch_ms(v["window_end"])), "key_mismatch")
        wid = window_id(job, v)
        if wid in seen and not last_write_wins:
            tally.check(False, "duplicate_window")
        seen[wid] = v["count_estimate"]
    for wid, exact in expected.items():
        if wid not in seen:
            tally.check(False, "missing_window")
        else:
            tally.check(within_bound(seen[wid], exact), "out_of_bound")
    for wid in seen:
        if wid not in expected:
            tally.check(False, "extra_window")


def closed_windows(key, job, watermark_ms):
    """Windows an append-mode query must have emitted at this watermark."""
    size_s = 60
    out = {}
    for wid, exact in key[job].items():
        end_s = int(wid) if job == "tumble" else int(wid) + size_s
        if end_s * 1000 <= watermark_ms:
            out[wid] = exact
    return out


def dropped_by_watermark(progress):
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for p in progress for op in p.get("stateOperators", []))


def check_backlog_drain(tally, key, drain):
    progress = drain["progress"]
    tally.check(sum(p["numInputRows"] for p in progress) == key["messages"],
                "input_count")
    watermark = max(epoch_ms(p["eventTime"]["watermark"]) for p in progress
                    if "watermark" in p.get("eventTime", {}))
    tally.check(watermark == key["max_ts_ms"] - WATERMARK_MS, "final_watermark")
    tally.check(dropped_by_watermark(progress) == 0, "dropped_by_watermark")
    check_windows(tally, drain["job"], drain["rows"],
                  closed_windows(key, drain["job"], watermark), last_write_wins=False)


def check_live_job(tally, key, run):
    progress = run["progress"]
    tally.check(sum(p["numInputRows"] for p in progress) == key["messages"],
                "input_count")
    tally.check(dropped_by_watermark(progress) == 0, "dropped_by_watermark")
    check_windows(tally, run["job"], run["rows"], key[run["job"]], last_write_wins=True)


def check_dgim_query(tally, events_key, query):
    """One batch DGIM query's rows, [window start s, window end s,
    estimate, exact count], against the events answer key: every window
    with a click appears once, spans 1 h, carries the exact click count,
    and has an estimate within the bound."""
    expected = events_key[query["query"]]
    seen = set()
    for start, end, estimate, exact in query["rows"]:
        wid = str(start)
        if wid in seen:
            tally.check(False, "duplicate_window")
            continue
        seen.add(wid)
        if wid not in expected:
            tally.check(False, "extra_window")
            continue
        tally.check(end - start == 3600 and exact == expected[wid], "exact_count")
        tally.check(within_bound(estimate, exact), "out_of_bound")
    for wid in expected:
        if wid not in seen:
            tally.check(False, "missing_window")


def check_rejections(tally, key, parsed_valid):
    tally.check(key["messages"] - parsed_valid == key["malformed"], "parse_rejections")
