#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client timing calls into the
engine's public layers, one JVM per run.

Usage:
  python3 graftbench/run.py --workload {knn_truth,graph_iter,vec_ingest} \
      --seed N --seconds S --trace {0,1}

Builds the engine and the benchmark from source (graftbench/build.py), runs
one `local[nproc]` JVM that sets up, warms up with a fixed number of
sequential operations and then measures single operations for S seconds,
checks every recorded output against an independent reference
(graftbench/checks.py), prints a report, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the trace files are written to graftbench/.work/traces/.
All scratch data lives under graftbench/.work/ and is deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("knn_truth", "graph_iter", "vec_ingest")
LISTED = ("knn_truth", "graph_iter")  # the workloads BENCHMARK.json lists
DEADLINE_S = 170      # a run (after any build) ends within this, result or not
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("work_per_s", "1/s"), ("op_cpu_s", "s"), ("peak_rss_mb", "MB")]
QUERIES = ("q287", "q301", "q311")
PER_LAYER = (
    [("spark.plan_s", "s"), ("spark.driver_gap_s", "s"), ("spark.job_busy_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.cpu_util", "ratio"), ("spark.task_cpu_s", "s"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
     ("spark.spill_bytes", "bytes"), ("spark.storage_peak_mb", "MB"),
     ("spark.cached_blocks_left", "count")]
    + [(f"queries.{q}_{m}", u) for q in QUERIES
       for m, u in (("s", "s"), ("jobs", "count"), ("gap_s", "s"))]
    + [("sources.read_s", "s"), ("sources.read_partitions", "count"),
       ("sources.write_s", "s"), ("sources.write_driver_s", "s"),
       ("sources.write_shuffle_ratio", "ratio"),
       ("functions.cpu_ns_per_pair", "ns"), ("functions.kernel_ns_per_pair", "ns"),
       ("predicates.compile_s", "s"), ("predicates.pass_frac", "ratio"),
       ("predicates.hybrid_cpu_ratio", "ratio"),
       ("operators.knn_s", "s"), ("operators.knn_hybrid_s", "s"), ("operators.recall_s", "s"),
       ("operators.gen_s", "s"), ("operators.profile_s", "s"),
       ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("bench.trace_overhead_s", "s")])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def say(msg):
    print(msg, flush=True)


def tail_percentile(xs):
    """Highest percentile leaving at least ten samples above it: the value at
    sorted index n-11, and the percentile it sits at. None below 11 samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None, None
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


def java(jar, work, jvm_opts, main_args):
    """The benchmark JVM's command line and environment; scratch in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    # a fixed, pre-touched heap: resident memory does not depend on when the
    # collector first reaches each heap page (see peak_rss_mb in README.md)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + jvm_opts + ["-cp", cp, "graftbench.Main", "--work", work] + main_args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_TMPDIR=tmp, TMPDIR=tmp)
    return cmd, env


def run_process(cmd, env, logf, timeout):
    """Exit code of `cmd` (None on timeout); it runs in its own process
    group, which is killed and reaped if it is still alive at the end."""
    with open(logf, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def class_archive(jar, workload, runs):
    """A class-data sharing archive of the classes one short run of the
    workload loads, made once per build and workload: later runs map those
    classes instead of loading and verifying them. Returns the JVM options
    that use it (none if it could not be made)."""
    jsa = os.path.join(os.path.dirname(jar), f"{workload}.jsa")
    if not os.path.exists(jsa):
        work = tempfile.mkdtemp(prefix=f"cds-{workload}-", dir=runs)
        try:
            cmd, env = java(jar, work, [f"-XX:ArchiveClassesAtExit={jsa}.part"],
                            ["--workload", workload, "--seed", "0", "--seconds", "0",
                             "--trace", "0", "--warmup", "3" if workload == "graph_iter" else "1",
                             "--trace-dir", os.path.join(work, "trace")])
            ok = run_process(cmd, env, os.path.join(work, "jvm.log"), 120) == 0
            if ok and os.path.exists(f"{jsa}.part"):
                os.replace(f"{jsa}.part", jsa)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def run_jvm(args, jar, work, trace_dir, deadline, cds):
    cmd, env = java(jar, work, cds,
                    ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--trace-dir", trace_dir, "--t0-epoch-ns", str(time.time_ns())])
    logf = os.path.join(work, "jvm.log")
    rc = run_process(cmd, env, logf, deadline - time.monotonic())
    if rc != 0:
        with open(logf) as fh:
            lines = [ln for ln in fh.read().splitlines() if "WARN" not in ln]
        log("\n".join(lines[-40:]))
        raise SystemExit(f"graftbench: JVM {'timed out' if rc is None else f'exit {rc}'}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def end_to_end(rec):
    ops = rec["ops"]
    lat = [o["latency_s"] for o in ops]
    tail, pct = tail_percentile(lat)
    wall = rec["noise"]["measured_s"]
    m = {
        "setup_s": rec["phases"]["setup_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail if tail is not None else max(lat),
        "work_per_s": sum(o["work"] for o in ops) / wall,
        # process CPU over all JVM threads, less the JIT compiler's share
        "op_cpu_s": statistics.median(o["cpu_s"] - o["jit_s"] for o in ops),
        "peak_rss_mb": rec["vm_hwm_mb"],
    }
    samples = {"setup_s": 1, "op_p50_s": len(lat), "op_tail_s": len(lat),
               "work_per_s": len(lat), "op_cpu_s": len(lat), "peak_rss_mb": 1}
    half = len(lat) // 2
    drift = (statistics.median(lat[half:]) / statistics.median(lat[:half])
             if half else float("nan"))
    return m, samples, pct, drift


def per_layer(rec):
    traced = rec["layers"]
    untraced = [o["latency_s"] for o in rec["ops"] if not o["traced"]]
    vals = {}
    for name, _ in PER_LAYER:
        xs = [t[name] for t in traced if name in t]
        vals[name] = (statistics.median(xs), len(xs)) if xs else (0.0, 0)
    lat_t = [t["op.latency_s"] for t in traced]
    if lat_t and untraced:
        vals["bench.trace_overhead_s"] = (
            statistics.median(lat_t) - statistics.median(untraced), len(lat_t))
    vals["jvm.jit_s"] = (rec["noise"]["jit_s"], 1)
    return vals


def self_times(trace_dir):
    """Median per traced op of each (layer, function)'s self time."""
    per = {}
    with open(os.path.join(trace_dir, "spans.jsonl")) as fh:
        for line in fh:
            sp = json.loads(line)
            per.setdefault((sp["layer"], sp["name"]), {}).setdefault(sp["op"], 0.0)
            per[(sp["layer"], sp["name"])][sp["op"]] += sp["self_s"]
    return sorted(((k, statistics.median(v.values()), len(v)) for k, v in per.items()),
                  key=lambda x: -x[1])


def report(rec, args, checked):
    ph, nz = rec["phases"], rec["noise"]
    say(f"[graftbench] {args.workload} seed {args.seed}: {len(rec['ops'])} measured ops "
        f"in {nz['measured_s']:.1f} s ({rec['cpus']} cores), work unit: {rec['work_unit']}")
    say(f"[graftbench] set-up {ph['setup_s']:.2f} s = jvm {ph['jvm_boot_s']:.2f} + session "
        f"{ph['session_s']:.2f} + fixtures {ph['fixtures_s']:.2f} + warm-up "
        f"{ph['warmup_s']:.2f} ({ph['warmup_ops']} ops); cold first op "
        f"{ph['cold_first_op_s']:.2f} s")
    say(f"[graftbench] noise: steal {nz['steal_pct']:.2f}%, loadavg {nz['loadavg_1m']:.2f}, "
        f"gc {nz['gc_s']:.2f} s, jit {nz['jit_s']:.2f} s over the measured phase")
    say(f"[graftbench] checks: {checked['attempted']} ops attempted, {checked['failed']} "
        f"failed; {'; '.join(checked['notes'])}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.monotonic()
    jar = build.build()
    runs = os.path.join(build.WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    # the first run in a checkout makes the class archives of every listed
    # workload, so no later run pays for one
    cds = class_archive(jar, args.workload, runs)
    for w in LISTED:
        class_archive(jar, w, runs)
    t_built = time.monotonic()
    deadline = time.monotonic() + max(DEADLINE_S, args.seconds + 150)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    trace_dir = os.path.join(build.WORK, "traces", f"{args.workload}-seed{args.seed}")
    try:
        rec = run_jvm(args, jar, work, trace_dir, deadline - 10, cds)
        t_jvm = time.monotonic()
        checked = checks.check(args.workload, rec, work)
        report(rec, args, checked)
        say(f"[graftbench] wall: build + class archive {t_built - t_start:.1f} s, JVM {t_jvm - t_built:.1f} s, "
            f"checks {time.monotonic() - t_jvm:.1f} s")
        correct = checked["failed"] == 0
        if args.trace:
            vals = per_layer(rec)
            for name, unit in PER_LAYER:
                v, n = vals[name]
                say(f"[graftbench] {name:32s} {v:14.6g} {unit:6s} (n={n})")
            for (layer, name), v, n in self_times(trace_dir):
                say(f"[graftbench] self time per op  {layer:10s} {name:46s} {v:9.4f} s (n={n})")
            say(f"[graftbench] tracing overhead on {args.workload}: "
                f"{vals['bench.trace_overhead_s'][0]:+.4f} s per op; trace files in {trace_dir}")
            metrics = {n: {"value": vals[n][0], "unit": u} for n, u in PER_LAYER}
        else:
            m, samples, pct, drift = end_to_end(rec)
            for name, unit in END_TO_END:
                extra = f" (p{pct:.1f})" if name == "op_tail_s" and pct else ""
                say(f"[graftbench] {name:12s} {m[name]:12.6g} {unit:4s} "
                    f"n={samples[name]}{extra}")
            say(f"[graftbench] second-half / first-half median op latency: {drift:.4f}")
            metrics = {n: {"value": m[n], "unit": u} for n, u in END_TO_END}
        print(json.dumps({"correct": correct, "attempted": checked["attempted"],
                          "failed": checked["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
