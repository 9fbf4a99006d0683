#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload soccer_season --seed 7 --seconds 12 --trace 0

Run from the root of a checkout. The script builds the product together
with the benchmark (sbt, into .bench_build/), generates the workload's
inputs from the seed, runs one benchmark JVM, compares the set-up outputs
with DuckDB running the registered oracle SQL, and prints every metric by
name. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 carries the
end-to-end metrics, --trace 1 the per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's own directory unchanged

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("soccer_season", "corpus_curation")
DEFAULT_SEED = 20261017
BUILD_DIR = ".bench_build"
# the JVM must end within this many seconds after the build, and the
# DuckDB comparison within the rest of the 180 s a run may take
RUN_LIMIT_S = 140
CHECK_LIMIT_S = 30


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if "target" not in base]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED", "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED", "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED", "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED", "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED", "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED", "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
]


def run_jvm(cp, work, args, deadline, log_name):
    """Runs one benchmark JVM and stops it at the deadline; returns (stdout
    lines, seconds from launch to SETUP_DONE or None)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main", "--dir", work, *args]
    t0 = time.monotonic()
    setup_done = []
    lines = []

    def read(stream):
        for line in stream:
            line = line.rstrip("\n")
            if line == "SETUP_DONE":
                setup_done.append(time.monotonic() - t0)
            lines.append(line)

    with open(os.path.join(work, log_name), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        reader = threading.Thread(target=read, args=(p.stdout,))
        reader.start()
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            lines.append("CHECK FAIL benchmark JVM stopped at the run time limit")
            lines.append("GATE 1 1")
        reader.join()
    if p.returncode != 0 and not any(l.startswith("GATE ") for l in lines):
        lines.append(f"CHECK FAIL benchmark JVM exited with code {p.returncode}")
        lines.append("GATE 1 1")
    return lines, (setup_done[0] if setup_done else None)


def parse(lines):
    e2e, layer = {}, {}
    attempted = failed = 0
    for line in lines:
        parts = line.split(" ")
        if parts[0] in ("E2E", "LAYER") and len(parts) == 4:
            (e2e if parts[0] == "E2E" else layer)[parts[1]] = (float(parts[2]), parts[3])
        elif parts[0] == "GATE":
            attempted += int(parts[1])
            failed += int(parts[2])
    return e2e, layer, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    cp = build(root)
    deadline = time.monotonic() + RUN_LIMIT_S

    # set-up, part 1: the inputs, generated three times (median time kept)
    work = os.path.join(root, BUILD_DIR, "work", f"{a.workload}-{a.seed}-{a.trace}")
    gen_s = []
    for _ in range(3):
        shutil.rmtree(work, ignore_errors=True)
        t0 = time.monotonic()
        props = gen.generate(a.workload, a.seed, work)
        gen_s.append(time.monotonic() - t0)
    print("INPUT " + json.dumps(props, sort_keys=True))

    jvm_args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    lines, jvm_setup_s = run_jvm(cp, work, jvm_args, deadline, "jvm.log")

    # set-up, part 2: the set-up outputs against DuckDB
    t0 = time.monotonic()
    try:
        results = oracle.compare(work, time.monotonic() + CHECK_LIMIT_S)
    except Exception as e:  # a check that cannot run has failed
        results = [("set-up", False, str(e).splitlines()[0][:300])]
    oracle_s = time.monotonic() - t0
    for name, ok, msg in results:
        lines.append(f"CHECK {'ok' if ok else 'FAIL'} oracle {name} {msg}")
    lines.append(f"GATE {len(results)} {sum(1 for _, ok, _ in results if not ok)}")

    for line in lines:
        if line.startswith(("METRIC", "E2E", "LAYER", "CHECK", "INFO")):
            print(line)
    e2e, layer, attempted, failed = parse(lines)
    if jvm_setup_s is None:
        failed += 1
        attempted += 1
        print("CHECK FAIL set-up did not finish")
    setup_s = statistics.median(gen_s) + (jvm_setup_s or 0.0) + oracle_s
    print(f"METRIC setup_s {setup_s:.6f} s")
    e2e["setup_s"] = (setup_s, "s")

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    src = layer if a.trace else e2e
    metrics = {}
    for m in want:
        if m["name"] in src:
            metrics[m["name"]] = {"value": src[m["name"]][0], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not run did no work
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            failed += 1
            attempted += 1
            print(f"CHECK FAIL metric {m['name']} was not measured")
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
