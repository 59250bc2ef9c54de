#!/usr/bin/env python3
"""Run one graft benchmark workload with one seed.

    python3 perfbench/run.py --workload <analytics|lake_sql|cdc_stream> \\
        --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the root of a checkout of the repository. The first run builds
graft and the benchmark harness with sbt (a source hash decides when to
rebuild); later runs start the JVM directly. Each run makes its inputs from
the seed, runs the workload in one JVM at local[N] (N = min(3, nproc - 1),
at least 1), checks the outputs outside the timed window, deletes its
scratch root, and prints a report followed by one JSON result line.

With --trace 1 the workload runs twice from the same seed: untraced, then
with the tracing hooks installed. The end-to-end and report lines come from
the untraced run, and both runs are checked. The result line then holds the
per-layer metrics plus `overhead.<metric>` = traced − untraced for each
end-to-end metric; per-kind layer lines are printed before it, and the
spans and layer figures are written to perfbench/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# end-to-end metrics (untraced runs) and per-layer metrics (traced runs),
# name -> unit; BENCHMARK.json lists the same names
E2E = {"setup_s": "s", "rss_peak_mb": "MB", "latency_p50_ms": "ms", "unit_s": "s"}
PER_LAYER = dict(
    [(f"spark.{m}", "count") for m in ("jobs", "stages", "tasks")]
    + [(f"spark.{m}", "s") for m in ("task_busy_s", "job_wall_s", "driver_gap_s")]
    + [("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B")]
    + [(f"planner.{m}_ms", "ms") for m in ("analysis", "optimization", "planning")]
    + [("queries.build_ms", "ms"), ("queries.exec_ms", "ms")]
    + [("scan.files_read", "count"), ("scan.bytes_read", "B"), ("scan.rows_read", "count"),
       ("scan.useful_row_frac", "fraction")]
    + [(f"storage.{side}.{c}_calls", "count") for side in ("driver", "task")
       for c in ("list", "status", "open", "create", "rename", "delete")]
    + [(f"storage.{side}.bytes_{d}", "B") for side in ("driver", "task")
       for d in ("read", "written")]
    + [("commit.bytes_written_per_row", "B/row"), ("commit.files_written", "count"),
       ("commit.stored_bytes_per_row", "B/row")]
    + [(f"sql.{k}_ms", "ms") for k in ("point", "range", "travel", "join", "insert", "update",
                                       "delete", "merge", "maint")]
    + [("stream.batches", "count"), ("stream.rows_per_batch", "count")]
    + [(f"stream.{k}_ms", "ms") for k in ("add_batch", "compact_batch", "offsets", "plan", "wal")]
    + [("stream.backlog_files", "count"), ("generator.lag_ms", "ms")]
    + [(f"self.{k}_ms", "ms") for k in ("unit", "batch", "add_batch")]
    + [(f"overhead.{k}", u) for k, u in E2E.items()])
WORKLOADS = ("analytics", "lake_sql", "cdc_stream")
RUN_BUDGET_S = 165  # one run, build excluded: the JVMs share what is left of it
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
BUILD_DIR = os.path.join(HERE, ".build")
PROBE_NOMINAL_MS = 82.0  # steal-free Probe time taken as cycle factor 1.0
CDC_EPS = 200  # cdc_stream's offered envelopes/s: see README.md, Calibration
# local[N]: three cores, one left to the driver, the generator thread, the
# garbage collector and the OS (all four busy made every figure noisier)
DEFAULT_CORES = max(1, min(3, (os.cpu_count() or 1) - 1))
CHILDREN = []


def run_child(cmd, timeout, **kw):
    """Run a command in its own process group and wait for it; on timeout
    or on our own termination the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(p)
    finally:
        CHILDREN.remove(p)
    return p.returncode


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def on_signal(signum, _frame):
    for p in list(CHILDREN):
        kill(p)
    raise SystemExit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads: graft's sources and build
    definition, and the harness's."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The harness classpath, building first when the sources changed. One
    build at a time: concurrent runs wait on a lock."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        if os.path.exists(stamp):
            with open(stamp) as f:
                s = json.load(f)
            if s["hash"] == want and all(os.path.exists(p) for p in s["cp"].split(":")):
                return s["cp"]
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                            "compile", "export perfbench/Runtime/fullClasspath"],
                           BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        with open(log) as f:
            lines = f.read().splitlines()
        if rc != 0 or not lines:
            print("\n".join(lines[-40:]), file=sys.stderr)
            fail("build failed")
        cp = lines[-1].strip()
        with open(stamp, "w") as f:
            json.dump({"hash": want, "cp": cp}, f)
        return cp


def make_inputs(args, out_dir):
    import gen
    if args.workload == "analytics":
        gen.analytics_tables(args.seed, out_dir)
    elif args.workload == "lake_sql":
        gen.lake_sql(args.seed, out_dir)
    else:
        gen.cdc_stream(args.seed, out_dir, per_tick=args.cdc_eps * gen.CDC_TICK_MS // 1000)


def java_cmd():
    return os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"


def cpu_times():
    """(busy, steal) jiffies of the whole box from /proc/stat, or None
    where there is no such file. Steal is time a runnable vCPU waited for
    the host."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, _idle, _iowait, irq, softirq, steal = t
    return user + nice + system + irq + softirq, steal


def time_share(start, end):
    """How much longer than its CPU time a runnable vCPU took between two
    cpu_times() readings: (busy + steal) / busy, 1.0 without steal."""
    if not start or not end or end[0] <= start[0]:
        return 1.0
    busy, steal = end[0] - start[0], end[1] - start[1]
    return (busy + steal) / busy


def probe(cp, cores, scratch):
    """The box's per-cycle slowness in ms, or None: graftbench.Probe's CPU
    work unit on `cores` threads, in a JVM of its own so that nothing the
    workload leaves running can slow it, less the steal time that fell
    inside it (the run's own time share accounts for steal)."""
    out = os.path.join(scratch, "probe.txt")
    start = cpu_times()
    with open(out, "w") as f:
        rc = run_child([java_cmd(), "-XX:-UsePerfData", "-Xmx64m", "-cp", cp,
                        "graftbench.Probe", str(cores)], 30, stdout=f,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
    share = time_share(start, cpu_times())
    with open(out) as f:
        words = f.read().split()
    return float(words[-1]) / share if rc == 0 and words else None


def run_jvm(cp, args, cores, trace, scratch, spans, timeout):
    """One workload run in its own JVM; returns its result document."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    out = os.path.join(scratch, "result.json")
    cmd = [java_cmd()] + [x for p in ADD_OPENS
                          for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap keeps rss_peak_mb steady; few GC threads
    # keep the collector off the workload's cores
    cmd += ["-XX:-UsePerfData", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            f"-Djava.io.tmpdir={scratch}/tmp", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--inputs", os.path.join(scratch, "inputs"),
            "--scratch", scratch, "--out", out]
    if spans:
        cmd += ["--spans", spans]
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as lf:
        rc = run_child(cmd, timeout, stdout=lf, stderr=subprocess.STDOUT, cwd=scratch,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = [line for line in f.read().splitlines() if " INFO " not in line][-30:]
        print("\n".join(tail), file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def check(workload, doc, inputs):
    import check as chk
    c = doc["checks"]
    if workload == "analytics":
        return chk.analytics(inputs, c["results_dir"], c["queries"])
    if workload == "lake_sql":
        return chk.lake_sql(inputs, c["executed"], c["results"], c["final_dir"])
    return list(c["invalid"]) + chk.cdc_stream(inputs, c["ticks_written"], c["final"])


def one_run(cp, args, cores, trace, spans, deadline):
    """Inputs, speed probe, JVM run, speed probe and checks in a fresh
    scratch root, deleted after; the JVM is killed if it runs past
    `deadline` (a time.monotonic()). The timed end-to-end figures come back
    divided by the speed factor (see README.md, Speed normalisation)."""
    scratch = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        inputs = os.path.join(scratch, "inputs")
        make_inputs(args, inputs)
        before = probe(cp, cores, scratch)
        doc = run_jvm(cp, args, cores, trace, scratch, spans,
                      max(1.0, deadline - time.monotonic()))
        after = probe(cp, cores, scratch)
        if doc is None:
            return None, ["the workload JVM failed"]
        if before is None or after is None:
            return None, ["the speed probe failed"]
        # set-up figures are scaled by the steal of set-up, window figures
        # by the steal of the window
        marks = doc["cpu_marks"]
        cycle = (before + after) / 2 / PROBE_NOMINAL_MS
        setup = cycle * time_share(marks.get("jvm_start"), marks.get("window_start"))
        window = cycle * time_share(marks.get("window_start"), marks.get("window_end"))
        doc["e2e_raw"] = dict(doc["e2e"])
        doc["e2e"] = {k: v if k == "rss_peak_mb" else v / (setup if k == "setup_s" else window)
                      for k, v in doc["e2e"].items()}
        doc["speed_factor"] = window
        doc["setup_speed_factor"] = setup
        doc["cycle_factor"] = cycle
        doc["probe_ms"] = [before, after]
        return doc, check(args.workload, doc, inputs)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def report_unit(name):
    if name in PER_LAYER:
        return PER_LAYER[name]
    for suffix, unit in (("_per_s", "1/s"), ("_eps", "1/s"), ("_per_row", "B/row"),
                         ("_ms", "ms"), ("_s", "s"), ("_rate", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count" if name in ("passes", "samples", "reads", "writes", "batches", "units") else ""


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=DEFAULT_CORES)
    # cdc_stream's offered rate; the default is the benchmark's, other
    # values are for capacity calibration only (see README.md)
    ap.add_argument("--cdc-eps", type=int, default=CDC_EPS)
    args = ap.parse_args()
    import gen
    if args.cdc_eps <= 0 or args.cdc_eps * gen.CDC_TICK_MS % 1000:
        fail("--cdc-eps must be a positive multiple of 20 (whole envelopes per 50 ms tick)")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a checkout of the repository")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None and not (tool == "java" and os.environ.get("JAVA_HOME")):
            fail(f"{tool} not found")

    load_start = os.getloadavg()[0]
    cp = classpath()
    # the end-to-end figures always come from an untraced run; --trace 1
    # adds a traced run of the same seed for the per-layer metrics
    spans = None
    deadline = time.monotonic() + RUN_BUDGET_S
    base, errors = one_run(cp, args, args.cores, False, None,
                           deadline - RUN_BUDGET_S / 2 if args.trace else deadline)
    docs = [base]
    if args.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        spans = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
        traced, traced_errors = one_run(cp, args, args.cores, True, spans, deadline)
        docs.append(traced)
        errors = errors + [f"traced run: {e}" for e in traced_errors]

    if any(d is None for d in docs):
        print(f"# errors: {errors}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 0
    attempted = sum(int(d["attempted"]) for d in docs)
    failed = min(attempted, sum(int(d["failed"]) for d in docs) + len(errors))
    report = dict(base["report"], error_rate=failed / attempted,
                  speed_factor=base["speed_factor"], cycle_factor=base["cycle_factor"],
                  setup_speed_factor=base["setup_speed_factor"], probe_ms=base["probe_ms"],
                  **{f"raw_{k}": v for k, v in base["e2e_raw"].items() if k != "rss_peak_mb"})
    meta = dict(base["meta"], load_avg_start=load_start, load_avg_end=os.getloadavg()[0])

    for k, u in E2E.items():
        print(f"# {args.workload} {k} = {base['e2e'][k]} {u}")
    for k, v in sorted(report.items()):
        print(f"# {args.workload} report {k} = {v} {report_unit(k)}".rstrip())
    print(f"# meta {json.dumps(meta, sort_keys=True)}")
    for e in errors[:20]:
        print(f"# check failed: {e}")

    if args.trace:
        traced = docs[1]
        layers = dict(traced["layers"])
        for k in E2E:
            layers[f"overhead.{k}"] = traced["e2e"][k] - base["e2e"][k]
        by_kind = traced["layers_by_kind"]
        for kind in sorted(by_kind):
            for k, v in sorted(by_kind[kind].items()):
                print(f"# {args.workload} layer {kind} {k} = {v} {report_unit(k)}".rstrip())
        with open(spans.replace(".spans.jsonl", ".layers.json"), "w") as f:
            json.dump({"layers": layers, "by_kind": by_kind}, f, indent=1, sort_keys=True)
        metrics = {k: metric(float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
        print(f"# spans and layers written to {os.path.relpath(spans, ROOT)} and .layers.json")
    else:
        metrics = {k: metric(base["e2e"][k], u) for k, u in E2E.items()}
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
