"""Layered benchmark of the graft text-analytics engine.

    python3 perfbench/run.py --workload corpus|serve|ingest --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --all --seed N --seconds S

Run from the repository root. The first run builds the harness and the
program from source with sbt (into .bench_build/); later runs reuse the
build while the sources are unchanged. Each run generates the workload's
inputs from the seed, runs the workload in one JVM for S seconds on
local[4], checks every result against the ground truth, and prints the
full report, then one JSON line: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). `--all` runs every workload untraced and prints every metric.
A traced run also reports its slowdown against an untraced run of the same
workload, seed and build in this checkout, when there is one.
Needs SPARK_HOME (Spark's jars) and sbt on PATH.
"""

import argparse
import glob
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

import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("corpus", "serve", "ingest")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
HEAP = "2g"
DEADLINE_S = 170.0
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile the harness with the program's sources unless the stamp of
    the last successful build matches them. Returns the stamp."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail("no program sources under src/main/scala/graft; run from a repository checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(CLASSES):
        return h.hexdigest()
    # sbt's global state and temp files stay inside the checkout too
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
                              f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "compile"],
                             cwd=HERE, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see .bench_build/build.log")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return h.hexdigest()


def run_jvm(workload, inputs, work, seconds, trace, deadline):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    # A fixed, pre-touched heap: the heap is resident from the start, so
    # peak RSS minus the heap is the peak of native memory.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["perfbench.Main", "--workload", workload, "--input", inputs, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Two malloc arenas: native memory then depends on the program's
        # allocations, not on how many threads happened to allocate at once.
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, env=env)
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: run exceeded its deadline")
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload}: harness exited {rc}; see {os.path.join(work, 'jvm.log')}")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


def run_workload(workload, seed, seconds, trace):
    """One run: generate, execute, check. Returns the result dict. The work
    directory is kept when the harness fails, for its log."""
    stamp = build()
    t_start = time.monotonic()
    work = os.path.join(WORK, f"{workload}-{seed}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.monotonic()
    gen.generate(workload, seed, inputs)
    gen_s = time.monotonic() - t0
    with open(os.path.join(inputs, "truth.json"), encoding="utf-8") as f:
        truth = json.load(f)
    raw = run_jvm(workload, inputs, work, seconds, trace, t_start + DEADLINE_S)
    try:
        attempted, failed, failures = report.verdict(workload, raw, truth)
        e2e, extra = report.end_to_end(workload, raw, truth, attempted, failed)
        layers = {}
        # untraced throughput of this workload, seed and build
        rate_file = os.path.join(WORK, "untraced", f"{workload}-{seed}-{stamp[:16]}.json")
        if trace:
            spans, jobs = report.read_trace(raw["spans"])
            layers = report.per_layer(workload, raw, truth, spans, jobs)
            if os.path.exists(rate_file) and failed == 0:
                with open(rate_file) as f:
                    untraced = json.load(f)["items_per_s"]
                extra["trace_slowdown_vs_untraced"] = (untraced / e2e["items_per_s"][0] - 1.0, "ratio")
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(raw["spans"], os.path.join(traces, f"{workload}-{seed}.jsonl"))
        elif failed == 0:
            os.makedirs(os.path.dirname(rate_file), exist_ok=True)
            with open(rate_file, "w") as f:
                json.dump({"items_per_s": e2e["items_per_s"][0]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"workload": workload, "gen_s": gen_s, "attempted": attempted, "failed": failed,
            "failures": failures, "e2e": e2e, "extra": extra, "layers": layers}


def print_report(r):
    w = r["workload"]
    print(f"[{w}] input generation {r['gen_s']:.2f} s (not in setup_s)")
    for name, (v, unit) in list(r["e2e"].items()) + sorted(r["extra"].items()):
        print(f"[{w}] {name} = {v:.6g} {unit}")
    units = dict(report.per_layer_names())
    for name, v in r["layers"].items():
        print(f"[{w}] {name} = {v:.6g} {units[name]}")
    for f in r["failures"]:
        print(f"[{w}] FAILED {f}")


def main():
    ap = argparse.ArgumentParser(description="Layered benchmark; see the module docstring.")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="loop length; BENCHMARK.json's run_seconds for comparable figures")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    os.chdir(ROOT)
    if a.all:
        results = [run_workload(w, a.seed, a.seconds, False) for w in WORKLOADS]
        for r in results:
            print_report(r)
        ok = all(r["failed"] == 0 for r in results)
        print(json.dumps({"correct": ok, "attempted": sum(r["attempted"] for r in results),
                          "failed": sum(r["failed"] for r in results)}))
        return
    r = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    print_report(r)
    if a.trace:
        units = dict(report.per_layer_names())
        metrics = {k: {"value": v, "unit": units[k]} for k, v in r["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in r["e2e"].items()}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
