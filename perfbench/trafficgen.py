"""Seeded traffic generator and answer key for the graft benchmark.

Messages have the reference producer's shape, one JSON object per line:
``{"value": "0"|"1", "timestamp": "yyyy-MM-ddTHH:mm:ss.SSSSSS"}``. Events
are 20 ms apart (the reference's 50 msg/s) and P(value = 1) is 0.8 in odd
15 s slots of event time and 0.1 in even ones. A seeded share is
malformed (bad JSON, null value or unparsable timestamp), and in the
backlog a seeded share arrives late, displaced by up to 30 s of stream
position: less than the jobs' 2 minute watermark, so no event is dropped.

The answer key holds, for every 60 s tumble window and every 60 s / 10 s
hop window that holds a well-formed message, the exact number of
1-bits, plus the malformed and out-of-order counts.

The ``events`` mode writes the input of graft's batch DGIM queries
(``operators.DgimQueries``): an ``events.parquet`` table of
``(event_type, ts)`` rows over a few hundred hours, and the exact click
count of every 1 h tumble window and every 1 h / 15 min slide window.

    python3 trafficgen.py backlog --seed 1 --out DIR --messages 400000 --files 40
    python3 trafficgen.py live --seed 1 --out DIR --start-ms T0 --seconds 20 \
        --report DIR/gen.json
    python3 trafficgen.py events --seed 1 --out DIR --events 400000

The same seed gives the same backlog and events bytes. A live run's
timestamps are anchored at ``--start-ms``; everything else in it follows
from the seed.
"""

import argparse
import datetime
import functools
import json
import os
import random
import sys
import time

SPACING_MS = 20
RATE = 1000 // SPACING_MS
MALFORMED_SHARE = 0.005
OUT_OF_ORDER_SHARE = 0.02
MAX_DISPLACEMENT_MS = 30_000
TUMBLE_S = 60
HOP_SIZE_S = 60
HOP_SLIDE_S = 10
# 2024-01-01T00:00:00Z; the seed adds up to a minute so window edges move.
BACKLOG_EPOCH_MS = 1_704_067_200_000
MALFORMED_KINDS = ("bad_json", "null_value", "bad_timestamp")
# live: history written at once before the live start (window + watermark
# is 3 min, so windows finalize and state evicts during the run), then one
# file per tick
LIVE_PREFIX_S = 240
TICK_MS = 100
# events: mean gap between events, and P(click) in odd / even 20 min slots
EVENT_GAP_MS = 2000
CLICK_P = (0.1, 0.5)
EVENT_TYPES = ("view", "purchase")


@functools.lru_cache(maxsize=4)
def iso_seconds(sec):
    day = datetime.datetime.fromtimestamp(sec, tz=datetime.timezone.utc)
    return day.strftime("%Y-%m-%dT%H:%M:%S")


def iso_micros(ms):
    sec, milli = divmod(ms, 1000)
    return iso_seconds(sec) + ".%06d" % (milli * 1000)


def bit_for(rng, ts_ms):
    p = 0.8 if (ts_ms // 1000 // 15) % 2 == 1 else 0.1
    return 1 if rng.random() < p else 0


def render(value, ts_ms, kind):
    ts = iso_micros(ts_ms)
    if kind == "bad_json":
        return '{"value": "%d", "timest' % value
    if kind == "null_value":
        return '{"value": null, "timestamp": "%s"}' % ts
    if kind == "bad_timestamp":
        return '{"value": "%d", "timestamp": "%s"}' % (value, "t" + ts[1:])
    return '{"value": "%d", "timestamp": "%s"}' % (value, ts)


class Message:
    __slots__ = ("ts_ms", "value", "kind", "arrival_ms")

    def __init__(self, ts_ms, value, kind, arrival_ms):
        self.ts_ms = ts_ms
        self.value = value
        self.kind = kind
        self.arrival_ms = arrival_ms

    def line(self):
        return render(self.value, self.ts_ms, self.kind)


def messages(rng, first_ms, count, out_of_order_share):
    """Messages in arrival order. A displaced message keeps its event time
    and arrives up to MAX_DISPLACEMENT_MS of stream position later."""
    out = []
    for i in range(count):
        ts = first_ms + i * SPACING_MS
        value = bit_for(rng, ts)
        kind = None
        if rng.random() < MALFORMED_SHARE:
            kind = MALFORMED_KINDS[rng.randrange(len(MALFORMED_KINDS))]
        arrival = ts
        if rng.random() < out_of_order_share:
            arrival = ts + rng.randint(SPACING_MS, MAX_DISPLACEMENT_MS)
        out.append(Message(ts, value, kind, arrival))
    out.sort(key=lambda m: m.arrival_ms)
    return out


def answer_key(msgs):
    tumble, hop = {}, {}
    malformed = late = 0
    max_ts = None
    newest = None
    for m in msgs:
        if newest is not None and m.ts_ms < newest:
            late += 1
        newest = m.ts_ms if newest is None else max(newest, m.ts_ms)
        if m.kind is not None:
            malformed += 1
            continue
        sec = m.ts_ms // 1000
        max_ts = m.ts_ms if max_ts is None else max(max_ts, m.ts_ms)
        end = (m.ts_ms // (TUMBLE_S * 1000)) * TUMBLE_S + TUMBLE_S
        tumble[end] = tumble.get(end, 0) + m.value
        last_start = (sec // HOP_SLIDE_S) * HOP_SLIDE_S
        for start in range(last_start, last_start - HOP_SIZE_S, -HOP_SLIDE_S):
            hop[start] = hop.get(start, 0) + m.value
    return {
        "messages": len(msgs),
        "malformed": malformed,
        "out_of_order": late,
        "valid": len(msgs) - malformed,
        "max_ts_ms": max_ts,
        "tumble": {str(k): v for k, v in sorted(tumble.items())},
        "hop": {str(k): v for k, v in sorted(hop.items())},
    }


def write_key(out, msgs):
    """key.json, plus bits.txt: one line per tumble window with its end
    second, its exact 1-bit count, then each 1-bit's second in arrival
    order (the DGIM probe's input)."""
    key = answer_key(msgs)
    with open(os.path.join(out, "key.json"), "w") as f:
        json.dump(key, f)
    bits = {}
    for m in msgs:
        if m.kind is None and m.value == 1:
            end = (m.ts_ms // (TUMBLE_S * 1000)) * TUMBLE_S + TUMBLE_S
            bits.setdefault(end, []).append(m.ts_ms // 1000)
    with open(os.path.join(out, "bits.txt"), "w") as f:
        for end, secs in sorted(bits.items()):
            f.write("%d %d %s\n" % (end, len(secs), " ".join(map(str, secs))))
    return key


def write_atomic(path, lines):
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)),
                       "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, path)


def backlog(seed, out, count, files):
    """Write `count` messages as `files` equal text files plus key.json."""
    rng = random.Random(seed)
    first = BACKLOG_EPOCH_MS + rng.randrange(60) * 1000
    msgs = messages(rng, first, count, OUT_OF_ORDER_SHARE)
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    per = -(-count // files)
    for f in range(files):
        chunk = msgs[f * per:(f + 1) * per]
        if chunk:
            write_atomic(os.path.join(data, "part-%05d.json" % f),
                         [m.line() for m in chunk])
    return write_key(out, msgs)


def live(seed, out, start_ms, seconds, report):
    """Write a history prefix at once, then messages on their due times.

    A message is due `shift` ms after its event time, where the shift
    (under a minute) puts the live start, `start_ms`, on a minute boundary
    of event time: every run then holds the same windows open. Each tick's
    messages go into one file, renamed into place when the tick's last
    message falls due, so the file source sees whole files only. The
    report records the shift and how late each rename ran."""
    rng = random.Random(seed)
    shift = start_ms % (TUMBLE_S * 1000)
    first = start_ms - shift - LIVE_PREFIX_S * 1000
    total = (LIVE_PREFIX_S + seconds) * RATE
    msgs = messages(rng, first, total, 0.0)
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    write_key(out, msgs)
    n_prefix = LIVE_PREFIX_S * RATE
    per_file = 60 * RATE
    for f, i in enumerate(range(0, n_prefix, per_file)):
        write_atomic(os.path.join(data, "prefix-%05d.json" % f),
                     [m.line() for m in msgs[i:min(i + per_file, n_prefix)]])
    per_tick = TICK_MS // SPACING_MS
    late = []
    for t, i in enumerate(range(n_prefix, total, per_tick)):
        chunk = msgs[i:i + per_tick]
        due_ms = chunk[-1].ts_ms + shift
        wait = due_ms / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        write_atomic(os.path.join(data, "live-%06d.json" % t),
                     [m.line() for m in chunk])
        late.append(time.time() * 1000.0 - due_ms)
    with open(report, "w") as f:
        json.dump({"files": len(late), "live_messages": total - n_prefix, "shift_ms": shift,
                   "late_ms_max": max(late)}, f)


def events(seed, out, count):
    """Write `count` events as OUT/events.parquet plus OUT/key.json: the
    exact click count per 1 h tumble window and per 1 h / 15 min slide
    window, keyed by window start second."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    ts = BACKLOG_EPOCH_MS + rng.randrange(3600) * 1000
    stamps, kinds = [], []
    tumble, slide = {}, {}
    for _ in range(count):
        ts += int(rng.expovariate(1.0 / EVENT_GAP_MS))
        if rng.random() < CLICK_P[(ts // 1_200_000) % 2]:
            kind = "click"
            sec = ts // 1000
            start = sec // 3600 * 3600
            tumble[start] = tumble.get(start, 0) + 1
            last = sec // 900 * 900
            for s in range(last, last - 3600, -900):
                slide[s] = slide.get(s, 0) + 1
        else:
            kind = EVENT_TYPES[rng.randrange(len(EVENT_TYPES))]
        stamps.append(ts)
        kinds.append(kind)
    os.makedirs(out, exist_ok=True)
    table = pa.table({"event_type": pa.array(kinds, pa.string()),
                      "ts": pa.array(stamps, pa.int64()).cast(pa.timestamp("ms", tz="UTC"))
                      .cast(pa.timestamp("us", tz="UTC"))})
    pq.write_table(table, os.path.join(out, "events.parquet"))
    key = {"events": count,
           "tumble": {str(k): v for k, v in sorted(tumble.items())},
           "slide": {str(k): v for k, v in sorted(slide.items())}}
    with open(os.path.join(out, "key.json"), "w") as f:
        json.dump(key, f)
    return key


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="mode", required=True)
    b = sub.add_parser("backlog")
    b.add_argument("--seed", type=int, required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--messages", type=int, required=True)
    b.add_argument("--files", type=int, required=True)
    lv = sub.add_parser("live")
    lv.add_argument("--seed", type=int, required=True)
    lv.add_argument("--out", required=True)
    lv.add_argument("--start-ms", type=int, required=True)
    lv.add_argument("--seconds", type=int, required=True)
    lv.add_argument("--report", required=True)
    ev = sub.add_parser("events")
    ev.add_argument("--seed", type=int, required=True)
    ev.add_argument("--out", required=True)
    ev.add_argument("--events", type=int, required=True)
    a = p.parse_args(argv)
    if a.mode == "backlog":
        backlog(a.seed, a.out, a.messages, a.files)
    elif a.mode == "live":
        live(a.seed, a.out, a.start_ms, a.seconds, a.report)
    else:
        events(a.seed, a.out, a.events)


if __name__ == "__main__":
    main(sys.argv[1:])
