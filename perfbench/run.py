#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload, one seed, one process at
local[4]. See README.md in this directory for the workloads and metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 6 --trace 0

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 runs the
workload traced and reports the per-layer metrics, writes the spans under
.bench_build/traces/, and reports the tracing overhead against the median of
this build's untraced runs (making one first if there is none).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("backfill", "follow")
HEAP = "4g"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


BASE = os.path.join(build.ROOT, ".bench_build")


def java(classes, args, tag, jvm_opts=(f"-Xms{HEAP}", f"-Xmx{HEAP}")):
    """Run perfbench.Main in a JVM of its own; its output goes to a log under
    .bench_build/work/. Returns the log's path."""
    cmd = ["java", *jvm_opts, "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={BASE}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main"] + args
    os.makedirs(os.path.join(BASE, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BASE, "work"), exist_ok=True)
    log_path = os.path.join(BASE, "work", f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=build.ROOT, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{' '.join(args[:2])} exited {proc.returncode}:\n{tail}")
    return log_path


def generate(classes, seed):
    """Generate the inputs for this seed unless they are cached."""
    tag = f"gen-{os.getpid()}"
    t0 = time.time()
    # the generator's output is a pure function of the seed, so its JVM only
    # needs to be quick: C1 alone starts about 2 s faster than tiered C2
    log = java(classes, ["--generate", str(seed), os.path.join(BASE, "inputs"),
                         os.path.join(BASE, "work", tag)], tag,
               jvm_opts=("-Xmx2g", "-XX:TieredStopAtLevel=1"))
    os.remove(log)
    # flush freshly written inputs now, not during the measured run
    os.sync()
    return time.time() - t0


def run_jvm(classes, workload, seed, seconds, traced, tag):
    tag = f"{workload}-{os.getpid()}-{tag}"
    work = os.path.join(BASE, "work", tag)
    out = work + ".json"
    try:
        log_path = java(classes, [workload, str(seed), str(seconds), "1" if traced else "0",
                                  os.path.join(BASE, "inputs"), work, out], tag)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        raw = json.load(f)
    os.remove(out)
    os.remove(log_path)
    return raw


# ---- end-to-end metrics ----------------------------------------------------

def end_to_end(raw):
    """{name: (value, unit, samples)} for every end-to-end metric."""
    w = raw["workload"]
    if w == "backfill":
        reps = raw["replays"]
        eps = stats.median([r["events"] / r["ms"] * 1000 for r in reps])
        lat = [r["ms"] for r in reps]
    else:
        prog = raw["progress"]
        busy = sum(p["durations"].get("triggerExecution", 0) for p in prog)
        eps = sum(r["rows_in"] for r in raw["lineage"]) / busy * 1000
        lat, _ = stats.freshness(raw["deliveries"], raw["chunk_rows"],
                                 stats.epoch_commits(raw["lineage"], prog))
    setup = raw["session_s"] + stats.median(raw["setup_reps_s"]) + raw.get("warmup_s", 0.0)
    return {
        "setup_s": (setup, "s", len(raw["setup_reps_s"])),
        "events_per_s": (eps, "1/s", len(lat)),
        "latency_p50_ms": (stats.median(lat), "ms", len(lat)),
        "latency_p75_ms": (stats.percentile(lat, 75), "ms", len(lat)),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB", 1),
    }


# ---- per-layer metrics -----------------------------------------------------

def per_layer(raw, untraced):
    w = raw["workload"]
    m = {}
    fs = stats.delta(*raw["fs"])
    tk = stats.delta(*raw["tasks"])
    timed_ms = raw["timed_s"] * 1000
    lo, hi = raw["window"]
    timed = [s for s in raw["spans"] if s["startMs"] >= lo and s["endMs"] <= hi]
    sql = [s for s in timed if s["layer"] == "spark"]

    def p50(xs):
        return stats.median(xs) if xs else 0.0

    # the workload's unit of work: a replay or a stream epoch
    if w == "backfill":
        applies = [(s["startMs"], s["endMs"]) for s in timed if s["name"] == "replayBatch"]
        ops = len(raw["replays"])
        rows_in = [r["events"] for r in raw["replays"]]
        dirty = sum(r["dirty"] for r in raw["replays"])
    else:
        prog = raw["progress"]
        applies = [(p["start_ms"], p["start_ms"] + p["durations"].get("triggerExecution", 0))
                   for p in prog]
        ops = len(prog)
        rows_in = [r["rows_in"] for r in raw["lineage"]]
        dirty = sum(r["dirty"] for r in raw["lineage"])
    ops = max(ops, 1)
    epochs = max(len(applies), 1)

    # streaming: Spark's own per-trigger durationMs split
    if w == "follow":
        def dur(k):
            return p50([p["durations"].get(k, 0) for p in prog])
        m["streaming.latest_offset_ms"] = dur("latestOffset")
        m["streaming.get_batch_ms"] = dur("getBatch")
        m["streaming.query_planning_ms"] = dur("queryPlanning")
        m["streaming.wal_commit_ms"] = dur("walCommit")
        m["streaming.add_batch_ms"] = dur("addBatch")
        m["streaming.fs_list_calls_per_trigger"] = fs.get("list", 0) / epochs
        m["streaming.fs_exists_calls_per_trigger"] = \
            (fs.get("exists", 0) + fs.get("status", 0)) / epochs
        m["streaming.backlog_max_chunks"] = stats.max_backlog(
            raw["deliveries"], raw["chunk_rows"], stats.epoch_commits(raw["lineage"], prog))
        m["gen.late_ms_max"] = max(stats.lateness(raw["deliveries"]))
        apply_ms = [p["durations"].get("addBatch", 0) for p in prog]
    else:
        for k in ("latest_offset_ms", "get_batch_ms", "query_planning_ms", "wal_commit_ms",
                  "add_batch_ms", "fs_list_calls_per_trigger", "fs_exists_calls_per_trigger",
                  "backlog_max_chunks"):
            m["streaming." + k] = 0
        m["gen.late_ms_max"] = 0
        apply_ms = [e - s for s, e in applies]

    # cdc: the apply call, its accounting pass and the driver-side rest
    m["cdc.apply_ms"] = p50(apply_ms)
    m["cdc.accounting_ms"] = p50(raw.get("accounting_ms", []))
    sql_iv = [(s["startMs"], s["endMs"]) for s in sql]
    driver = []
    for a in applies:
        inside = [c for c in (stats.clip(iv, a) for iv in sql_iv) if c]
        driver.append((a[1] - a[0]) - stats.union_ms(inside))
    m["cdc.driver_ms"] = p50(driver)
    m["cdc.side_write_fs_ops"] = \
        (fs.get("create", 0) + fs.get("rename", 0) + fs.get("delete", 0)) / ops
    m["cdc.rows_in"] = p50(rows_in)
    m["cdc.dirty_rows"] = dirty

    # table: the merge write and its shuffle
    writes = raw.get("write_exec", [])
    per_apply = []
    for a in applies:
        per_apply.append(sum(ms for end, ms in writes if a[0] <= end <= a[1] + 1))
    m["table.merge_write_ms"] = p50(per_apply)
    m["table.shuffle_write_bytes"] = tk.get("shuffle_write", 0) / ops
    m["table.shuffle_read_bytes"] = tk.get("shuffle_read", 0) / ops
    m["table.spill_bytes"] = tk.get("spill", 0) / ops
    m["table.sort_fallback_tasks"] = raw.get("sort_fallback_tasks", 0)
    in_bytes = raw.get("input_bytes", 0)
    m["table.bytes_written_per_input_byte"] = \
        tk.get("output_bytes", 0) / in_bytes if in_bytes else 0
    m["table.files_written_per_epoch"] = fs.get("create", 0) / epochs
    m["table.compactions"] = max(0, raw.get("versions", 0) - raw.get("epochs", 0))
    m["table.delta_files"] = raw.get("delta_files", 0)

    # spark runtime
    m["spark.executor_run_ms"] = tk.get("run_ms", 0) / ops
    m["spark.executor_cpu_ms"] = tk.get("cpu_ns", 0) / 1e6 / ops
    m["spark.gc_ms"] = tk.get("gc_ms", 0) / ops
    m["spark.tasks"] = tk.get("tasks", 0) / ops
    m["spark.jobs_per_epoch"] = tk.get("jobs", 0) / epochs
    m["spark.busy_share"] = tk.get("run_ms", 0) / (4 * timed_ms) if timed_ms else 0
    m["spark.backfill_local1_events_per_s"] = raw.get("local1_events_per_s", 0)

    # self time per layer over the spans, per unit of work
    spans = [{"name": s["name"], "layer": s["layer"], "start_ms": s["startMs"],
              "end_ms": s["endMs"], "request": s["request"]} for s in timed]
    if w == "follow":
        spans += [{"name": "trigger", "layer": "streaming", "start_ms": s, "end_ms": e,
                   "request": f"epoch-{p['batch']}"} for (s, e), p in zip(applies, prog)]
    selfs = stats.self_times(spans)
    for layer in ("streaming", "cdc", "table", "spark"):
        m[f"{layer}.self_ms"] = selfs.get(layer, 0.0) / ops

    units = {"_ms": "ms", "_ms_max": "ms", "_bytes": "B", "_per_s": "1/s", "_share": "share",
             "per_input_byte": "ratio"}
    out = {}
    for k, v in m.items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (v, unit)
    # tracing overhead: traced minus the untraced medians of this build
    for k, (v, unit, _n) in end_to_end(raw).items():
        out["overhead." + k] = (v - stats.median([u[k] for u in untraced]), unit)
    return out, spans


def results_file(classes, workload):
    """Untraced end-to-end results of this build, one JSON object a line."""
    d = os.path.join(build.ROOT, ".bench_build", "results", os.path.basename(classes))
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, workload + ".jsonl")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    store = results_file(classes, a.workload)
    runs = []
    try:
        print(f"inputs ready in {generate(classes, a.seed):.1f} s "
              "(not part of setup_s)")
        # the traced run compares against the untraced runs of this build,
        # and makes one itself when there are none yet
        if not a.trace or not os.path.exists(store):
            runs.append(run_jvm(classes, a.workload, a.seed, a.seconds, False, "plain"))
            with open(store, "a") as f:
                f.write(json.dumps({k: v for k, (v, _u, _n) in end_to_end(runs[0]).items()})
                        + "\n")
        if a.trace:
            runs.append(run_jvm(classes, a.workload, a.seed, a.seconds, True, "traced"))
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 3
    checks = [c for r in runs for c in r["checks"]]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    if a.workload == "follow":
        # chunks the stream never committed count as failed deliveries
        for r in runs:
            failed += stats.freshness(r["deliveries"], r["chunk_rows"],
                                      stats.epoch_commits(r["lineage"], r["progress"]))[1]
    correct, attempted, failed = stats.account(attempted, failed, checks)
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'MISMATCH'} "
              f"({c['mismatches']} mismatches) {c['sample']}")
    if a.trace:
        with open(store) as f:
            untraced = [json.loads(line) for line in f if line.strip()]
        layer, spans = per_layer(runs[-1], untraced)
        tdir = os.path.join(build.ROOT, ".bench_build", "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{a.workload}-seed{a.seed}-spans.json")
        with open(path, "w") as f:
            json.dump(spans, f)
        print(f"spans: {len(spans)} written to {os.path.relpath(path, build.ROOT)}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        for k, (v, u) in layer.items():
            print(f"{k:42s} {v:14.4f} {u}")
    else:
        e2e = end_to_end(runs[0])
        r = runs[0]
        print(f"session {r['session_s']:.1f} s, set-ups "
              f"{' '.join(f'{x:.1f}' for x in r['setup_reps_s'])} s, "
              f"warm-up {r.get('warmup_s', 0.0):.1f} s, timed {r['timed_s']:.1f} s")
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in e2e.items()}
        for k, (v, u, n) in e2e.items():
            print(f"{k:20s} {v:14.4f} {u:5s} n={n}")
        n = e2e["latency_p75_ms"][2]
        tail = stats.tail_percentile(n)
        if tail is None or tail < 75:
            print(f"note: latency_p75_ms rests on {n} samples; the highest percentile "
                  f"with ten beyond them is {'none' if tail is None else f'p{tail}'}")
        if a.workload == "follow":
            # open-loop honesty, reported by every run
            r = runs[0]
            backlog = stats.max_backlog(r["deliveries"], r["chunk_rows"],
                                        stats.epoch_commits(r["lineage"], r["progress"]))
            print(f"gen.late_ms_max {max(stats.lateness(r['deliveries'])):.1f} ms, "
                  f"streaming.backlog_max_chunks {backlog}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    print(f"wall {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
