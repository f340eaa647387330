"""graft benchmark: the reference traffic pipeline (lenient JSON decode ->
event-time window -> DGIM -> keyed upsert sink) driven from outside.

    python3 perfbench/run.py --workload traffic_backlog --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  traffic_backlog  a seeded backlog drained by Job 1 (tumbleDgim), then
                   Job 2 (hopDgim), in append mode over many micro-batches,
                   repeated until --seconds have passed
  traffic_live     open loop: a generator process writes 50 msg/s on a
                   fixed schedule for --seconds while both jobs run in
                   update mode

Both then run graft's batch DGIM queries (operators.DgimQueries, the
plans.DgimWindowAggExec operator) over a seeded events table.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1). The line
before it gives each metric's sample count and the failure reasons.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checker  # noqa: E402

BACKLOG_MESSAGES = 200_000
BACKLOG_FILES = 40
WARM_MESSAGES = 100_000
WARM_FILES = 20
EVENTS = 400_000
WARM_EVENTS = 100_000
LIVE_LEAD_S = 3
GEN_LATE_LIMIT_MS = 1000.0
JVM_TIMEOUT_S = 150
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm_cmd(classpath, work, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    return (["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", classpath, "graftbench.TrafficBench"] + args)


def jvm_env(work):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    return env


def gen(*arg_lists, timeout=120):
    """Run one generator process per argument list, all at once."""
    procs = [subprocess.Popen([sys.executable, os.path.join(HERE, "trafficgen.py")] + args)
             for args in arg_lists]
    try:
        for p in procs:
            if p.wait(timeout=timeout) != 0:
                raise RuntimeError("generator failed")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()


def harness_args(mode, work, out, seconds, trace):
    return ["--mode", mode, "--work", work, "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]


def jvm_log(work):
    return open(os.path.join(work, "jvm.log"), "a")


def run_harness(classpath, work, mode, seconds, trace, tag):
    out = os.path.join(work, "result-%s.json" % tag)
    with jvm_log(work) as log:
        subprocess.run(jvm_cmd(classpath, work, harness_args(mode, work, out, seconds, trace)),
                       cwd=work, env=jvm_env(work), check=True, timeout=JVM_TIMEOUT_S,
                       stdout=subprocess.DEVNULL, stderr=log)
    with open(out) as f:
        return json.load(f)


def run_live(classpath, work, seed, seconds, trace):
    """Set up the harness, then start the generator and tell the harness
    to go; when the generator ends, tell it the input is complete."""
    out = os.path.join(work, "result-live.json")
    report = os.path.join(work, "gen.json")
    with jvm_log(work) as log:
        jvm = subprocess.Popen(jvm_cmd(classpath, work, harness_args("live", work, out, seconds, trace)),
                               cwd=work, env=jvm_env(work), stdin=subprocess.PIPE,
                               stdout=subprocess.PIPE, stderr=log, text=True)
    generator = None
    try:
        line = jvm.stdout.readline()
        while line and line.strip() != "READY":
            line = jvm.stdout.readline()
        if not line:
            raise RuntimeError("harness ended before it was ready")
        start_ms = (int(time.time()) + LIVE_LEAD_S) * 1000
        generator = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "trafficgen.py"), "live", "--seed", str(seed),
             "--out", os.path.join(work, "input"), "--start-ms", str(start_ms),
             "--seconds", str(seconds), "--report", report])
        jvm.stdin.write("GO\n")
        jvm.stdin.flush()
        if generator.wait(timeout=seconds + 60) != 0:
            raise RuntimeError("generator failed")
        jvm.stdin.write("DONE\n")
        jvm.stdin.flush()
        jvm.stdout.read()
        if jvm.wait(timeout=JVM_TIMEOUT_S) != 0:
            raise RuntimeError("harness failed")
    finally:
        for p in (generator, jvm):
            if p is not None and p.poll() is None:
                p.kill()
                p.wait()
    with open(out) as f:
        result = json.load(f)
    with open(report) as f:
        result["gen"] = json.load(f)
    result["live_start_ms"] = start_ms
    return result


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]; fails on no samples."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def batch_end_ms(p):
    return checker.epoch_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)


def emitting_batches(run):
    return {row[0] for row in run["rows"]}


def state_mb_peak(runs):
    return max(sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", []))
               for r in runs for p in r["progress"]) / 1e6


def backlog_metrics(result, key):
    drains = result["runs"]
    rates = {"tumble": [], "hop": []}
    lags = []
    for d in drains:
        rates[d["job"]].append(key["messages"] / ((d["end_ms"] - d["start_ms"]) / 1000))
        emitting = emitting_batches(d)
        lags += [batch_end_ms(p) - d["start_ms"] for p in d["progress"]
                 if p["batchId"] in emitting]
    return rates, lags


def live_metrics(result, key):
    t0 = result["live_start_ms"]
    shift = result["gen"]["shift_ms"]
    live_messages = result["gen"]["live_messages"]
    rates = {}
    lags = []
    for run in result["runs"]:
        ends = [batch_end_ms(p) for p in run["progress"] if p["numInputRows"] > 0]
        rates[run["job"]] = [live_messages / ((max(ends) - t0) / 1000)]
        emitting = emitting_batches(run)
        for p in run["progress"]:
            if (p["batchId"] in emitting and checker.epoch_ms(p["timestamp"]) >= t0
                    and "max" in p.get("eventTime", {})):
                due_ms = checker.epoch_ms(p["eventTime"]["max"]) + shift
                lags.append(batch_end_ms(p) - due_ms)
    return rates, lags


def pass_ms(result, query):
    return [q["ms"] for p in result["dgim_passes"] for q in p if q["query"] == query]


def end_to_end(workload, result, key, events_key):
    if workload == "traffic_backlog":
        rates, lags = backlog_metrics(result, key)
    else:
        rates, lags = live_metrics(result, key)
    passes = [events_key["events"] / ((t + s) / 1000)
              for t, s in zip(pass_ms(result, "tumble"), pass_ms(result, "slide"))]
    samples = {"setup_s": 1, "tumble_msgs_per_s": len(rates["tumble"]),
               "hop_msgs_per_s": len(rates["hop"]), "lag_ms_p50": len(lags),
               "lag_ms_p90": len(lags), "state_mb_peak": sum(len(r["progress"]) for r in result["runs"]),
               "dgim_batch_events_per_s": len(passes)}
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "tumble_msgs_per_s": (statistics.median(rates["tumble"]), "1/s"),
        "hop_msgs_per_s": (statistics.median(rates["hop"]), "1/s"),
        "lag_ms_p50": (quantile(lags, 0.5), "ms"),
        "lag_ms_p90": (quantile(lags, 0.9), "ms"),
        "state_mb_peak": (state_mb_peak(result["runs"]), "MB"),
        "dgim_batch_events_per_s": (statistics.median(passes), "1/s"),
    }
    return metrics, samples


def per_layer(workload, result, key):
    runs = result["runs"]
    progress = [p for r in runs for p in r["progress"]]
    data = [p for p in progress if p["numInputRows"] > 0]

    def p50_duration(name):
        return quantile([p["durationMs"].get(name, 0) for p in data], 0.5)

    def ops(field):
        return [sum(op.get(field, 0) for op in p.get("stateOperators", [])) for p in progress]

    tasks = result["tasks"]
    dgim = result["dgim"]
    messages = sum(p["numInputRows"] for p in progress)
    spans = result["spans"]
    metrics = {
        "parse.msgs_per_s": (key["messages"] / (result["parse_ms"] / 1000), "1/s"),
        "parse.rejected": (key["messages"] - result["parsed_valid"], "count"),
        "dgim.builder_ns_per_bit": (dgim["builder_ns_per_bit"], "ns"),
        "dgim.added_ns_per_bit": (dgim["added_ns_per_bit"], "ns"),
        "dgim.merge_us": (dgim["merge_us"], "us"),
        "dgim.buckets_max": (dgim["buckets_max"], "count"),
        "dgim.violations_fold": (dgim["violations_fold"], "count"),
        "dgim.violations_merge": (dgim["violations_merge"], "count"),
        "batch.count": (len(progress), "count"),
        "batch.addBatch_ms_p50": (p50_duration("addBatch"), "ms"),
        "batch.queryPlanning_ms_p50": (p50_duration("queryPlanning"), "ms"),
        "batch.walCommit_ms_p50": (p50_duration("walCommit"), "ms"),
        "batch.commitOffsets_ms_p50": (p50_duration("commitOffsets"), "ms"),
        "batch.latestOffset_ms_p50": (p50_duration("latestOffset"), "ms"),
        "state.rows_total_peak": (max(ops("numRowsTotal")), "count"),
        "state.commit_ms_p50": (quantile(ops("commitTimeMs"), 0.5), "ms"),
        "state.rows_removed": (sum(ops("numRowsRemoved")), "count"),
        "state.rows_dropped_by_watermark": (sum(ops("numRowsDroppedByWatermark")), "count"),
        "tasks.per_batch": (tasks["tasks"] / max(1, len(progress)), "count"),
        "tasks.executor_busy_share": (tasks["run_ms"] / (result["measure_ms"] * result["cores"]), "share"),
        "tasks.gc_ms": (tasks["gc_ms"], "ms"),
        "tasks.scheduler_delay_ms_p50": (quantile(tasks["scheduler_delay_ms"], 0.5), "ms"),
        "shuffle.bytes_per_msg": (tasks["shuffle_write_bytes"] / max(1, messages), "B"),
        "gen.late_ms_max": (result.get("gen", {}).get("late_ms_max", 0.0), "ms"),
        "plan.dgim_tumble_ms_p50": (quantile(pass_ms(result, "tumble"), 0.5), "ms"),
        "plan.dgim_slide_ms_p50": (quantile(pass_ms(result, "slide"), 0.5), "ms"),
        "drain.speedup_vs_1core": (result["drain_ms_1core"] / result["drain_ms_ncore"], "x"),
        "trace.callback_share": (result["callback_ns"] / 1e6 / result["measure_ms"], "share"),
        "trace.spans": (len(spans), "count"),
    }
    samples = {k: 1 for k in metrics}
    samples["dgim.violations_fold"] = samples["dgim.violations_merge"] = dgim["evaluations"]
    return metrics, samples


def check(workload, result, key, events_key):
    tally = checker.Tally()
    for run in result["runs"]:
        if workload == "traffic_backlog":
            checker.check_backlog_drain(tally, key, run)
        else:
            checker.check_live_job(tally, key, run)
    for dgim_pass in result["dgim_passes"]:
        for query in dgim_pass:
            checker.check_dgim_query(tally, events_key, query)
    checker.check_rejections(tally, key, result["parsed_valid"])
    if workload == "traffic_live":
        tally.check(result["gen"]["late_ms_max"] <= GEN_LATE_LIMIT_MS, "generator_late")
    return tally


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["traffic_backlog", "traffic_live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)

    classpath = build.build()
    bench_dir = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bench_dir, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = [["backlog", "--seed", "0", "--out", os.path.join(work, "warm"),
                   "--messages", str(WARM_MESSAGES), "--files", str(WARM_FILES)],
                  ["events", "--seed", "0", "--out", os.path.join(work, "warm-events"),
                   "--events", str(WARM_EVENTS)],
                  ["events", "--seed", str(a.seed), "--out", os.path.join(work, "events"),
                   "--events", str(EVENTS)]]
        if a.workload == "traffic_backlog":
            inputs.append(["backlog", "--seed", str(a.seed), "--out", os.path.join(work, "input"),
                           "--messages", str(BACKLOG_MESSAGES), "--files", str(BACKLOG_FILES)])
        gen(*inputs)
        if a.workload == "traffic_backlog":
            result = run_harness(classpath, work, "backlog", a.seconds, a.trace == 1, "backlog")
        else:
            result = run_live(classpath, work, a.seed, a.seconds, a.trace == 1)
        with open(os.path.join(work, "input", "key.json")) as f:
            key = json.load(f)
        with open(os.path.join(work, "events", "key.json")) as f:
            events_key = json.load(f)
        tally = check(a.workload, result, key, events_key)
        metrics, samples = end_to_end(a.workload, result, key, events_key)
        if a.trace:
            # the traced run's end-to-end figures, to set against an
            # untraced run's: the cost of tracing
            metrics = {"traced." + k: v for k, v in metrics.items()}
            samples = {"traced." + k: v for k, v in samples.items()}
            layer_metrics, layer_samples = per_layer(a.workload, result, key)
            metrics.update(layer_metrics)
            samples.update(layer_samples)
            trace_dir = os.path.join(bench_dir, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump(result["spans"], f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"samples": samples, "failure_reasons": tally.reasons,
                      "malformed": key["malformed"], "out_of_order": key["out_of_order"],
                      "messages": key["messages"], "events": events_key["events"]}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except Exception as e:  # no result line on any failure
        sys.stderr.write("benchmark failed: %r\n" % (e,))
        sys.exit(2)
