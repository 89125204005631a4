#!/usr/bin/env python3
"""graft benchmark launcher. Run from the repository root:

    python3 perfbench/run.py --workload <permits_etl|corpus_prep|query_suite>
                             --seed <n> --seconds <s> --trace <0|1>

It builds the library and the benchmark from source (perfbench/build.py),
checks the host (free disk, leftover Spark dirs of dead runs), then starts
one fresh JVM with a pinned posture -- fixed heap, G1, local[k] with
k = min(4, nproc) -- which generates the workload's inputs from the seed,
runs cold iterations for the given seconds, checks every output, and
reports. A JVM that lost more than STEAL_MAX of its CPU time to the
hypervisor is set aside and the run repeated (see STEAL_MAX). The last
stdout line is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The line before it is the full report: every metric,
the host state, the JVM flags, failed checks and failure causes.

Extra option: --record <file>: run every declared query (not the suite's
cross-section) and write the digests seen as query_suite's expected file. Everything a run writes stays under
.bench_build/ and is removed after it; the JVM's log is shown if it fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

TIMEOUT_S = 170
# A JVM whose measured iteration lost more than this share of the CPU time
# to the hypervisor (steal in /proc/stat) timed the host, not the program:
# on a shared host such spells come and go within minutes, stretch a cold
# run by up to three quarters, and a calm run steals under half a percent.
# Its result is set aside and the run repeated in a fresh JVM while the
# time limit allows; every attempt is listed in the report. Traced runs are
# not repeated: their per-layer figures carry no bound.
STEAL_MAX = 0.02
DISK_NEED_MB = 2048
CORES = min(4, os.cpu_count() or 1)
# Per-layer metrics a workload must report (by span prefix). A layer the
# workload never enters reads 0; a metric missing from a layer it does
# enter means a span or a call site was not found, and the run fails.
LAYERS = {
    "permits_etl": ("sources.read_zip.", "validation.", "etl."),
    "corpus_prep": ("sources.warc.", "functions.", "dedup.", "Pipeline."),
    "query_suite": ("SparkEntry.",),
}
WORKLOADS = tuple(LAYERS)
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Xss4m", "-XX:-UsePerfData"]

# Spark 4 on JDK 17 outside spark-submit needs these opens (the set
# org.apache.spark.launcher.JavaModuleOptions lists).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def preflight(runs_dir):
    """Remove the work dirs of runs whose process is gone, and report what
    they left: a killed run's blockmgr dirs once filled a disk."""
    orphans = []
    if os.path.isdir(runs_dir):
        for name in sorted(os.listdir(runs_dir)):
            path = os.path.join(runs_dir, name)
            if name.isdigit() and not pid_alive(int(name)):
                blockmgr = 0
                for _, dirs, _ in os.walk(path):
                    blockmgr += sum(d.startswith("blockmgr-") for d in dirs)
                orphans.append({"dir": path, "blockmgr_dirs": blockmgr})
                shutil.rmtree(path, ignore_errors=True)
    return orphans


def launch(cmd, env, work, deadline):
    """Run the benchmark JVM once, in a fresh work dir; returns its report
    and the seconds it took. Fails the run if the JVM gives no report."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--t0-ms", str(int(t0 * 1000))],
                                stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - t0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            stdout = ""
            print(f"[perfbench] JVM killed at the {TIMEOUT_S}s limit", file=sys.stderr)
    report = None
    for line in stdout.splitlines():
        if line.startswith("GRAFTBENCH_REPORT "):
            report = json.loads(line[len("GRAFTBENCH_REPORT "):])
    with open(log_path) as fh:
        log_text = fh.read()
    for line in log_text.splitlines():
        if line.startswith("[graftbench]"):
            print(line, file=sys.stderr)
    if report is None:
        fail(f"no result from the JVM (exit {proc.returncode}); log tail:\n{log_text[-4000:]}", 5)
    return report, time.time() - t0


def load_metric_specs(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        e2e_spec, layer_spec = load_metric_specs(root)
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json: {e}", 2)
    out_root = os.path.join(root, ".bench_build")
    try:
        classes, modules, jars = build.build(root, out_root)
    except RuntimeError as e:
        fail(f"build failed: {e}", 2)

    runs_dir = os.path.join(out_root, "runs")
    orphans = preflight(runs_dir)
    work = os.path.join(runs_dir, str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    free_mb = shutil.disk_usage(work).free // (1024 * 1024)
    if free_mb < DISK_NEED_MB:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"refusing to start: {free_mb} MB free, need {DISK_NEED_MB} MB", 3)

    cmd = (["java"] + JVM_FLAGS +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            f"-Dgraftbench.modules={modules}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--bench", BENCH_DIR, "--cores", str(CORES)])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record), "--all", "1"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    deadline = time.time() + TIMEOUT_S
    reports, attempts = [], []
    try:
        while True:
            report, took = launch(cmd, env, work, deadline)
            steal = report["host"]["steal_frac"]
            reports.append(report)
            attempts.append({"steal_frac": steal, "seconds": took,
                             "correct": report["correct"]})
            if (a.trace or not report["correct"] or steal <= STEAL_MAX or
                    time.time() + 1.2 * took > deadline):
                break
            print(f"[perfbench] the hypervisor stole {steal:.1%} of the CPU time; "
                  "repeating the run in a fresh JVM", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # every attempt but the last was correct: a wrong output is never set aside
    report = reports[-1] if not reports[-1]["correct"] else \
        min(reports, key=lambda r: r["host"]["steal_frac"])

    report["launcher"] = {"jvm_flags": JVM_FLAGS, "cores": CORES,
                          "orphaned_runs_removed": orphans, "attempts": attempts}
    if a.trace:
        have = report["per_layer"]
        mine = [m["name"] for m in layer_spec if m["name"] == "trace_overhead_s" or
                m["name"].startswith(LAYERS[a.workload])]
        missing = [n for n in mine if n not in have]
        if missing:
            fail(f"per-layer metrics missing from the report: {missing}", 6)
        metrics = {m["name"]: {"value": have.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in layer_spec}
    else:
        have = report["end_to_end"]
        missing = [m["name"] for m in e2e_spec if m["name"] not in have]
        if missing:
            fail(f"metrics missing from the report: {missing}", 6)
        metrics = {m["name"]: {"value": have[m["name"]]["value"], "unit": m["unit"]}
                   for m in e2e_spec}
    print(json.dumps(report))
    print(json.dumps({"correct": bool(report["correct"]),
                      "attempted": int(report["attempted"]),
                      "failed": int(report["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
