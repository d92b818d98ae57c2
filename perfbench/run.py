#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/build.sbt) into .bench_build/; later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed, the
workload runs in one local[nproc] Spark JVM, outputs are checked, and the
last line of stdout is the result object (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
DEADLINE_S = 170.0
WORKLOADS = ("daily_cadence", "operator_mix")

# rows per generated table (daily_cadence reads events and documents in its
# streaming phase; its lake days are generated inside the JVM)
TABLES = {
    "daily_cadence": {"customer": 150, "orders": 150, "lineitem": 100, "events": 8000, "event_days": 20,
                     "documents": 300, "embeddings": 100},
    "operator_mix": {"customer": 150, "orders": 1500, "lineitem": 6000, "events": 1000, "event_days": 30,
                     "documents": 500, "embeddings": 500},
}
# streaming phase: event files landed one at a time, variant files for the gate
STREAM_FILES, GATE_FILES = 6, 3
# per-layer metric prefixes each workload exercises; the others report 0
LAYERS = {
    "daily_cadence": ("ingest.", "runner.", "agg.", "stream.", "gate.", "trace_overhead_frac"),
    "operator_mix": ("key.", "mix.", "trace_overhead_frac"),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    cps = [l.strip() for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate_tables(workload, seed, data_dir):
    """Generate the workload's tables three times; return the median time."""
    if workload not in TABLES:
        return 0.0
    sys.path.insert(0, HERE)
    import gen_tables
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        gen_tables.generate(data_dir, seed, TABLES[workload])
        if workload == "daily_cadence":
            gen_tables.stage_stream(data_dir, STREAM_FILES, GATE_FILES)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def oracle_check(data_dir, out_dir):
    """Compare each key's output with its DuckDB oracle (tools/selfcheck.py).
    Returns (checked, failure lines)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        selfcheck.main(data_dir, out_dir)
    lines = buf.getvalue().splitlines()
    checked = [l for l in lines if l.startswith(("PASS ", "FAIL "))]
    return len(checked), [l for l in checked if l.startswith("FAIL ")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    t_run = time.monotonic()  # the first run in a checkout also builds; time the rest
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    os.makedirs(os.path.join(work, "tmp"))

    gen_s = generate_tables(args.workload, args.seed, data_dir)

    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
              "--work", work, "--data", data_dir, "--out", out])
    spawn_ms = time.time() * 1000
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=DEADLINE_S - (time.monotonic() - t_run))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload timed out; see {log_path}")
    jvm_s = time.time() - spawn_ms / 1000
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)

    attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
    phases = dict(res["phases"], jvm_s=jvm_s)
    if args.workload == "operator_mix":
        t0 = time.perf_counter()
        n, bad = oracle_check(data_dir, os.path.join(work, "mix_out"))
        phases["oracle_s"] = time.perf_counter() - t0
        attempted += n
        failed += len(bad)
        failures += bad

    setup = res["setup"]
    setup_s = (gen_s + (setup.pop("session_ready_epoch_ms") - spawn_ms) / 1000.0
               + sum(setup.values()))
    e2e = dict(res["metrics"])
    e2e["setup_s"] = {"value": setup_s, "unit": "s"}
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "heap": HEAP, "setup_split_s": dict(setup, tables=gen_s),
              "phases_s": dict(phases, run_s=time.monotonic() - t_start),
              "metrics": {**e2e, **res["report"]}, "samples": res["samples"],
              "failures": failures[:20]}

    if args.trace:
        layer = res["per_layer"]
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in layer:
                metrics[name] = {"value": layer[name]["value"], "unit": m["unit"]}
            elif name.startswith(LAYERS[args.workload]):
                die(f"traced run did not produce {name}")
            else:
                metrics[name] = {"value": 0.0, "unit": m["unit"]}
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(BUILD, "trace", f"{args.workload}-{args.seed}.spans.jsonl"))
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
