#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload in a
fresh JVM, checks its outputs and prints one JSON result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Everything it writes goes under
`$CARGO_TARGET_DIR` (default `.bench_build`): the build, and a per-run work
directory (inputs, checkpoints, Spark scratch) that is deleted when the run
ends. Traced runs also keep their span file under `<build>/trace/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
FADS_K = 10
# Offered load of the open loop: half the reference job's 1,000 events/s. At
# 1,000/s a four-core box with ext4 state commits sits at its knee, and the
# release delay of identical runs varied twofold.
PACED_RATE = 500
# History of one 60 s cluster TTL (SparkEntry.eventsFadsConfig) at that rate;
# the JVM refuses a history shorter than the TTL.
PACED_PRIME = 60 * PACED_RATE
SHARDED_BACKLOG = 30_000
# The repository's sf0.001 testdata, committed unchanged. Other data (the
# sf0.1 testdata for entries_large) is named with --data-dir.
ENTRY_DATA = {"entries_small": os.path.join(HERE, "data", "sf0.001")}
WORKLOADS = ["fads_paced", "fads_replay_sharded", "entries_small", "entries_large"]

# Spark 4 on JDK 17 outside spark-submit (as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170

LAYERS = ["entry", "spark.plan", "spark.sched", "spark.task", "streaming", "sink",
          "sources", "fads"]

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
             "throughput_per_s": "1/s"}

# Every per-layer metric a traced run prints (0 where a workload never
# reaches the layer), with the direction that counts as better.
HIGHER = {"spark.sched.useful_task_frac", "streaming.rows_per_trigger_p50", "fads.route_reuse"}
PER_LAYER = [
    "fads.step_us_p50", "fads.step_us_p99", "fads.route_fresh", "fads.route_reuse",
    "fads.route_suppressed", "fads.live_clusters_max", "fads.buffer_max", "fads.info_loss",
    "fads.suppressed_frac",
    "streaming.triggers", "streaming.rows_per_trigger_p50", "streaming.trigger_ms_p50",
    "streaming.trigger_ms_p99", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.state_update_ms",
    "streaming.state_commit_ms", "streaming.state_fsync_ms", "streaming.state_bytes",
    "sources.latest_offset_ms", "sources.get_batch_ms", "sources.backlog_rows_max",
    "sources.gen_lag_p99_ms",
    "sink.batch_ms",
    "entry.build_s", "entry.execute_s",
    "spark.plan.queries", "spark.plan.analysis_ms", "spark.plan.optimizer_ms",
    "spark.plan.planning_ms",
    "spark.codegen.compile_ms", "spark.codegen.compiles",
    "spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks", "spark.sched.delay_ms",
    "spark.sched.useful_task_frac",
    "spark.task.run_ms", "spark.task.cpu_ms", "spark.task.gc_ms",
    "spark.scan.bytes", "spark.scan.records", "spark.shuffle.write_bytes",
    "spark.shuffle.read_bytes", "spark.shuffle.fetch_wait_ms", "spark.shuffle.spill_bytes",
    "jvm.peak_rss_mb",
] + ["self_ms." + layer for layer in LAYERS] + ["unaccounted_frac"]


def entry_list():
    with open(os.path.join(HERE, "entries.json")) as f:
        return json.load(f)["entries"]


def make_inputs(workload, seed, seconds, data):
    """Writes the FADS workloads' seeded events under `data`."""
    os.makedirs(data)
    if workload == "fads_paced":
        n = PACED_PRIME + (seconds + 1) * PACED_RATE
        gen.write_parquet(gen.paced_content(seed, n), os.path.join(data, "paced_content.parquet"))
    else:
        gen.write_parquet(gen.sparse_events(seed, SHARDED_BACKLOG), os.path.join(data, "events.parquet"))


def run_jvm(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench"] + args
    env = {k: v for k, v in os.environ.items()
           if not (k.startswith("SPARK_GRAFT_") or k == "SPARK_LOCAL_DIRS")}
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("benchmark JVM ended with %s" % rc)


def e2e_metrics(workload, raw, setup_s, problems):
    """The end-to-end metrics; a metric that cannot be measured is a problem."""
    r = raw["result"]
    if workload == "fads_paced":
        s = r["schedule"]
        lat = stats.due_delays_ms(r["released_ids"], r["released_seen_ns"], s["t0_ns"],
                                  s["period_ns"], s["per_chunk"], s["base_id"])
        summary = stats.summarize(lat)
        try:
            throughput = stats.trigger_throughput(r["batch_start_ns"], r["batch_trigger_ms"],
                                                  r["batch_live_rows"], raw["window_ns"])
        except ValueError as e:
            problems.append("throughput: %s" % e)
            throughput = 0.0
    elif workload == "fads_replay_sharded":
        summary = stats.summarize([d / 1e6 for d in r["batch_latency_ns"]])
        throughput = r["backlog_rows"] * r["passes"] / sum(r["pass_wall_s"])
    else:
        # one operation is a pass over the entry list, as graft.Bench times
        # its suite; the list's entries differ too much in cost for a
        # percentile over single entries to be stable
        summary = stats.summarize([w * 1e3 for w in r["pass_wall_s"]])
        throughput = len(r["build_s"]) * r["passes"] / sum(r["pass_wall_s"])
    values = {"setup_s": setup_s, "latency_p50_ms": summary["p50"],
              "latency_tail_ms": summary["tail"], "throughput_per_s": throughput}
    return summary, {k: (values[k], u) for k, u in E2E_UNITS.items()}


def entries_wall_s(r):
    """One pass over the entry list: the sum of each entry's median wall."""
    return sum(stats.percentile([b + e for b, e in zip(r["build_s"][n], r["execute_s"][n])], 50)
               for n in r["build_s"])


def layer_metrics(workload, raw):
    r = raw["result"]
    c = dict(raw["layers"])
    units = float(r.get("passes", 1)) if workload != "fads_paced" else 1.0
    m = {k: v / units for k, v in c.items()}
    m["streaming.state_bytes"] = c.get("streaming.state_bytes", 0.0)
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    tasks = c.get("spark.sched.tasks", 0.0)
    m["spark.sched.useful_task_frac"] = c.get("spark.sched.useful_tasks", 0.0) / tasks if tasks else 0.0
    trig = raw["triggers"]
    if trig.get("trigger_ms"):
        m["streaming.rows_per_trigger_p50"] = stats.percentile(trig["rows_per_trigger"], 50)
        m["streaming.trigger_ms_p50"] = stats.percentile(trig["trigger_ms"], 50)
        m["streaming.trigger_ms_p99"] = stats.percentile(trig["trigger_ms"], 99)

    eng = r.get("engine")
    if eng:
        routes = stats.classify_routes(eng["step_out"], eng["step_suppressed"], FADS_K)
        us = [n / 1e3 for n in eng["step_ns"]]
        m.update({"fads.step_us_p50": stats.percentile(us, 50),
                  "fads.step_us_p99": stats.percentile(us, 99),
                  "fads.route_fresh": routes["fresh"], "fads.route_reuse": routes["reuse"],
                  "fads.route_suppressed": routes["suppressed"],
                  "fads.live_clusters_max": eng["live_clusters_max"],
                  "fads.buffer_max": eng["buffer_max"],
                  "fads.info_loss": r["info_loss"], "fads.suppressed_frac": r["suppressed_frac"]})

    if workload == "fads_paced":
        s = r["schedule"]
        lag = stats.generator_lag_ms(s["published_ns"], s["t0_ns"], s["period_ns"])
        m["sources.gen_lag_p99_ms"] = stats.percentile(lag, 99)
        published = [(p, (j + 1) * s["per_chunk"]) for j, p in enumerate(s["published_ns"])]
        consumed, backlog = 0, 0
        for start, rows in zip(trig.get("trigger_start_ns", []), trig.get("rows_per_trigger", [])):
            out = max([n for p, n in published if p <= start], default=0)
            backlog = max(backlog, out - consumed)
            consumed += rows
        m["sources.backlog_rows_max"] = backlog
    else:
        m["sources.backlog_rows_max"] = r.get("backlog_rows", 0)

    if "build_s" in r:
        m["entry.build_s"] = sum(stats.percentile(v, 50) for v in r["build_s"].values())
        m["entry.execute_s"] = sum(stats.percentile(v, 50) for v in r["execute_s"].values())

    spans = stats.infer_parents(raw["spans"])
    a, b = raw["window_ns"]
    inside = [s for s in spans if s["start_ns"] >= a and s["end_ns"] <= b]
    sink = [s["end_ns"] - s["start_ns"] for s in inside if s["layer"] == "sink"]
    m["sink.batch_ms"] = sum(sink) / 1e6 / units
    selfs = stats.self_times_ns(inside)
    for layer in LAYERS:
        m["self_ms." + layer] = selfs.get(layer, 0) / 1e6 / units
    m["unaccounted_frac"] = stats.unaccounted_share(inside, (a, b))
    return {k: float(m.get(k, 0.0)) for k in PER_LAYER}


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.startswith("self_ms.") or name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "_us_" in name:
        return "us"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    if name == "fads.info_loss":
        return "ratio"
    return "count"


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data-dir", help="input tables of an entry workload "
                    "(default: the committed sf0.001 testdata for entries_small)")
    a = ap.parse_args(argv)
    entry_data = None
    if a.workload.startswith("entries"):
        entry_data = os.path.abspath(a.data_dir or ENTRY_DATA.get(a.workload, ""))
        if not os.path.isfile(os.path.join(entry_data, "events.parquet")):
            sys.stderr.write("%s needs its tables: pass --data-dir\n" % a.workload)
            return 2

    deadline = time.time() + RUN_LIMIT_S
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    try:
        classpath = build.build(ROOT, build_dir)
    except build.BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 2
    deadline = max(deadline, time.time() + 120)

    work = os.path.join(build_dir, "run-%d" % os.getpid())
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    try:
        setup_t0 = time.time()
        entries = []
        if entry_data:
            data = entry_data
            entries = entry_list()
        else:
            data = os.path.join(work, "data")
            make_inputs(a.workload, a.seed, a.seconds, data)
        raw_path = os.path.join(work, "raw.json")
        args = [a.workload, str(len(os.sched_getaffinity(0))), str(a.seconds), str(a.trace),
                os.path.join(work, "jvm"), data, raw_path]
        if entries:
            args += ["entries=" + ",".join(entries), "seed=%d" % a.seed]
        if a.workload == "fads_paced":
            args += ["rate=%d" % PACED_RATE, "prime=%d" % PACED_PRIME]
        run_jvm(classpath, args, work, deadline)
        with open(raw_path) as f:
            raw = json.load(f)
        r = raw["result"]
        setup_s = raw["setup_end_epoch_ms"] / 1e3 - setup_t0

        attempted, failed = int(r["attempted"]), int(r["failed"])
        problems = list(r["problems"])
        if "oracle_sql" in r:
            for name in entries:
                if not os.path.exists(os.path.join(work, "jvm", a.workload, "check", name)):
                    continue  # the JVM already counted this entry as failed
                attempted += 1
                err = oracle.compare(data, os.path.join(work, "jvm", a.workload, "check", name),
                                     r["oracle_sql"].get(name))
                if err:
                    failed += 1
                    problems.append("%s: %s" % (name, err))
        if a.workload == "fads_paced":
            s = r["schedule"]
            lag = stats.generator_lag_ms(s["published_ns"], s["t0_ns"], s["period_ns"])
            late = sum(1 for x in lag if x > s["period_ns"] / 1e6)
            if late:
                failed += late
                problems.append("generator fell behind schedule on %d chunks" % late)

        n_problems = len(problems)
        summary, e2e = e2e_metrics(a.workload, raw, setup_s, problems)
        failed += len(problems) - n_problems
        details = {"workload": a.workload, "seed": a.seed, "latency_samples": summary["n"],
                   "latency_tail_percentile": summary["tail_pct"],
                   "window_s": r["window_s"], "placements": raw["placements"],
                   "problems": problems[:20]}
        if "build_s" in r:
            details["entries_wall_s"] = entries_wall_s(r)
            details["passes"] = r["passes"]
        if "info_loss" in r:
            details["fads_info_loss"] = r["info_loss"]
            details["fads_suppressed_frac"] = r["suppressed_frac"]
        if a.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in sorted(layer_metrics(a.workload, raw).items())}
            trace_dir = os.path.join(build_dir, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            span_file = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
            with open(span_file, "w") as f:
                json.dump({"window_ns": raw["window_ns"], "spans": raw["spans"]}, f)
            details["span_file"] = os.path.relpath(span_file, ROOT)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps(details))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
