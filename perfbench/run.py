#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the program
(src/main/scala) and the harness (perfbench/harness) into .bench_build/;
later runs reuse the classes while the sources are unchanged. Each run:

  1. generates the workload's inputs from the seed (untimed: the generator
     is benchmark code, not the program's set-up);
  2. starts one JVM with local[nproc] that warms the engine up on its own
     root, makes the timed calls, then exports the final state;
  3. checks the exported state against the generated inputs (checks.py);
  4. prints, as the last stdout line, one JSON object with `correct`,
     `attempted`, `failed` and `metrics`: the end-to-end metrics with
     --trace 0, the per-layer metrics of a traced run with --trace 1.

The work a run measures is fixed by gen.py (one call of each kind; about
40 s of timed calls on a 4-core host), so every seed and every commit time
the same calls; --seconds names that budget and does not change the work.
Inputs come from SPARK_GRAFT_SF_DIR (default ~/testdata/sf0.1).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion_incremental", "curation_cycles")
BUILD = ".bench_build"
# Class-data-sharing archive written by a short training JVM at build time;
# every run maps it instead of loading and verifying ~15k classes, which
# halves JVM and Spark start-up on a 4-core host.
CDS_ARCHIVE = os.path.abspath(f"{BUILD}/classes.jsa")
RUN_LIMIT_S = 170
JVM_OPTS = [
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # moves the peak resident set by ~20% between identical runs
    "-Xms3g", "-Xmx3g", "-Xmn1g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
TRACE_OPTS = [
    # the job's recorded call site must reach past Spark's frames into
    # the pipeline's own; the counting filesystem covers both the
    # FileSystem and the FileContext (pointer swap) paths
    "-Dspark.callstack.depth=400",
    "-Dspark.hadoop.fs.file.impl=perfbench.CountingFileSystem",
    "-Dspark.hadoop.fs.AbstractFileSystem.file.impl=perfbench.CountingLocalFs",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        die("no Spark jars found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile the program and the harness into one jar, once per source
    state; returns the run classpath."""
    srcs = []
    for top in ("src/main/scala", os.path.join(HERE, "harness")):
        for base, _, files in os.walk(top):
            srcs += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    srcs.sort()
    if not any(s.startswith("src/main/scala") for s in srcs):
        die("no program sources under src/main/scala; run from a source checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    # the classes are compiled against, and the archive maps, this JDK and
    # these Spark jars: a change to either must rebuild both (the JVM
    # silently ignores a mismatched archive)
    for j in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, j))
        h.update(f"{j}:{st.st_size}:{st.st_mtime_ns}".encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    digest = h.hexdigest()
    jar, stamp = f"{BUILD}/program.jar", f"{BUILD}/program.stamp"
    classpath = [os.path.abspath(jar)] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath
    for f in (stamp, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    classes = f"{BUILD}/classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    with open(f"{BUILD}/sources.txt", "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", f"{jars}/*", f"@{BUILD}/sources.txt"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed")
    # a jar, not a class directory: the JVM's class-data archive (below)
    # only covers classes loaded from jars
    with zipfile.ZipFile(jar, "w") as z:
        for base, _, files in sorted(os.walk(classes)):
            for n in sorted(files):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    train = f"{BUILD}/cds-training"
    os.makedirs(train, exist_ok=True)
    r = subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={os.path.abspath(train)}", "-cp", ":".join(classpath),
            "perfbench.Harness", "--cds-training", os.path.abspath(train)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0:
        die("the class-data-sharing training run failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


def cpu_steal():
    """(steal, total) CPU ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def step_s(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def end_to_end(res, setup_s, input_bytes, rows):
    steps = res["steps"]
    load = [step_s(s) for s in steps if s["kind"] == "load"]
    batch = [step_s(s) for s in steps if s["kind"] == "batch"]
    erase = [step_s(s) for s in steps if s["kind"] in ("erasure", "forget")]
    rest = [s for s in steps if s["kind"] != "load"]
    inc_s = (rest[-1]["end_ms"] - rest[0]["start_ms"]) / 1e3 if rest else 0.0
    m = {
        "setup_s": (setup_s, "s"),
        "load_s": (load[0] if load else 0.0, "s"),
        "batch_p50_s": (statistics.median(batch) if batch else 0.0, "s"),
        "erasure_p50_s": (statistics.median(erase) if erase else 0.0, "s"),
        "rows_per_s": (rows / inc_s if inc_s > 0 else 0.0, "rows/s"),
        "stored_bytes_per_input_byte": (res["stored_bytes"] / input_bytes, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        die("run from the root of a source checkout (src/main/scala/graft missing)")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        die(f"no testdata tables in {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classpath = build(jars)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    run_dir = os.path.abspath(f"{BUILD}/run-{run_id}")
    shutil.rmtree(run_dir, ignore_errors=True)
    started = time.time()
    try:
        inputs = f"{run_dir}/inputs"
        input_bytes = gen.generate(args.workload, args.seed, sf_dir, inputs)
        tmp = f"{run_dir}/tmp"
        os.makedirs(tmp)
        traces = os.path.abspath(f"{BUILD}/traces")
        os.makedirs(traces, exist_ok=True)
        cmd = (["java", f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] + JVM_OPTS
               + (TRACE_OPTS if args.trace else []) + [
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", ":".join(classpath), "perfbench.Harness",
            "--workload", args.workload, "--inputs", inputs,
            "--work", f"{run_dir}/work", "--cores", str(os.cpu_count()),
            "--trace", str(args.trace), "--input-bytes", str(input_bytes),
            "--run-id", run_id, "--out", f"{run_dir}/result.json",
            "--spans", f"{traces}/{run_id}.jsonl"])
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        launched = time.time()
        steal0 = cpu_steal()
        with open(f"{run_dir}/jvm.log", "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=log, env=env,
                                   timeout=RUN_LIMIT_S - (launched - started))
            except subprocess.TimeoutExpired:
                die(f"the run exceeded {RUN_LIMIT_S} s")
        steal1 = cpu_steal()
        if r.returncode != 0 or not os.path.exists(f"{run_dir}/result.json"):
            with open(f"{run_dir}/jvm.log") as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"the harness JVM exited with code {r.returncode}")
        with open(f"{run_dir}/result.json") as f:
            res = json.load(f)

        notes = {}
        failures = [] if not res["exported"] else checks.check(
            args.workload, inputs, f"{run_dir}/work/export", notes)
        if res["error"]:
            failures.append(f"call failed: {res['error']}")
        steps = res["steps"]
        setup_s = res["setup_end_ms"] / 1e3 - launched
        rows = checks.incremental_rows(inputs)
        e2e = end_to_end(res, setup_s, input_bytes, rows)
        layers = {m["name"]: {"value": m["value"], "unit": m["unit"]}
                  for m in res["per_layer"]}
        # context lines before the result: the steal canary and the share
        # of CPU the hypervisor stole while the JVM ran, every call's time,
        # and in traced runs the end-to-end figures plus the trace report
        # (chain blocking, wall accounting, FS ops by phase)
        timeline = {k: round(v / 1e3 - launched, 3)
                     for k, v in res["timeline_ms"].items()}
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        print(json.dumps({"canary_s": res["canary_s"],
                          "host_steal_share": round(steal, 4),
                          "timeline_s": timeline,
                          "steps": [[s["name"], step_s(s)] for s in steps],
                          "checks": notes}))
        for f in failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        if args.trace:
            print(json.dumps({"end_to_end_traced": e2e, "trace_report": res["report"]}))
        print(json.dumps({
            "correct": not failures and all(s["ok"] for s in steps),
            "attempted": max(len(steps), 1),
            "failed": len(failures),
            "metrics": layers if args.trace else e2e,
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
