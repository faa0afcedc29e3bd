#!/usr/bin/env python3
"""Benchmark runner for the graft message-analytics engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload stream_catchup --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source into `.bench_build/` (or
`$CARGO_TARGET_DIR`) on first use, runs one workload in a fresh JVM with
a private temp/work/local dir, checks the outputs, and prints a report
line followed by the result line (the last line of stdout):

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics (perfbench/layers.json) of a separate traced pass.
See perfbench/README.md for the workloads and every metric.
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
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load(name):
    with open(os.path.join(HERE, name), encoding="utf-8") as f:
        return json.load(f)


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found at {jars} (set SPARK_HOME)")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jvm_base(cfg, jars, app_jar, run_dir):
    """JVM command prefix shared by workload runs and the data-generation run."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    cmd = ["java", f"-Xmx{cfg['heap']}", "-Xss4m", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jar_list = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([app_jar] + jar_list), "perfbench.Main"]
    return cmd


def gen_data(cfg, jars, app_jar, build_dir, data):
    """Build step: generate the read-only `query_mix` data sets."""
    qm = cfg["workloads"]["query_mix"]
    run_dir = os.path.join(build_dir, "gen_data")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = jvm_base(cfg, jars, app_jar, run_dir) + [
        "--workload", "gen_data", "--seed", "1", "--trace", "0", "--cpus", "4",
        "--work", os.path.join(run_dir, "work"), "--out", os.path.join(run_dir, "out.json"),
        "--spawn-ms", str(int(time.time() * 1000)),
        "--data", data, "--bench-sf", str(qm["bench-sf"]), "--warm-sf", str(qm["warm-sf"])]
    r = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S, env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local")))
    out = os.path.join(run_dir, "out.json")
    ok = r.returncode == 0 and os.path.isfile(out) and json.load(open(out))["failed"] == 0
    shutil.rmtree(run_dir, ignore_errors=True)
    if not ok:
        raise SystemExit(f"query data generation failed (exit {r.returncode})")


def build(build_dir, jars, cfg):
    """Compile the engine and the harness with scalac into one jar and
    generate the `query_mix` data. Cached by a digest of every source and
    resource file, so an unchanged tree is built once."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src) or not os.path.isdir(resources):
        raise SystemExit("engine sources (src/main/scala, src/main/resources) not found; "
                         "run from the repository root")
    srcs = sources(main_src, os.path.join(HERE, "src"))
    res_files = sorted(os.path.join(b, f) for b, _, fs in os.walk(resources) for f in fs)
    digest = hashlib.sha256()
    for s in srcs + res_files:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    digest.update(jars.encode())
    stamp = digest.hexdigest()
    app_jar = os.path.join(build_dir, "app.jar")
    stamp_file = os.path.join(build_dir, "build.stamp")
    # one build at a time per checkout; the lock is released on exit
    lock = open(os.path.join(build_dir, "build.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isfile(app_jar):
        return app_jar, stamp
    for f in (stamp_file, app_jar):
        if os.path.exists(f):
            os.remove(f)
    log(f"building {len(srcs)} sources ...")
    t0 = time.time()
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("build failed")
    with zipfile.ZipFile(app_jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base_dir in (classes, resources):
            for b, _, fs in os.walk(base_dir):
                for f in sorted(fs):
                    z.write(os.path.join(b, f), os.path.relpath(os.path.join(b, f), base_dir))
    os.rename(app_jar + ".tmp", app_jar)
    shutil.rmtree(classes, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f} s; generating the query data ...")
    gen_data(cfg, jars, app_jar, build_dir, os.path.join(build_dir, "data"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return app_jar, stamp


def git_commit():
    head = os.path.join(ROOT, ".git")
    if not os.path.exists(head):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(args, app_jar, jars, cfg, run_dir):
    wl = cfg["workloads"][args.workload]
    tmp, local, work = (os.path.join(run_dir, d) for d in ("tmp", "local", "work"))
    for d in (tmp, local, work):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    cpus = len(os.sched_getaffinity(0))
    jvm = jvm_base(cfg, jars, app_jar, run_dir) + [
        "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
        "--cpus", str(cpus), "--work", work, "--out", out, "--spawn-ms", str(int(time.time() * 1000))]
    for k, v in wl.items():
        jvm += ["--" + k, ",".join(v) if isinstance(v, list) else str(v)]
    jvm += ["--data", os.path.join(os.path.dirname(app_jar), "data")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.Popen(jvm, cwd=run_dir, env=env, stdout=sys.stderr, stderr=subprocess.PIPE,
                            text=True, errors="replace")
    watchdog = threading.Timer(max(1.0, RUN_TIMEOUT_S - (time.time() - START)), proc.kill)
    watchdog.start()
    tail = []
    try:
        for line in proc.stderr:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
            tail = (tail + [line])[-60:]
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if not os.path.isfile(out):
        sys.stderr.write("".join(tail))
        raise SystemExit(f"harness produced no result (exit {proc.returncode})")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


def check_queries(res, expected):
    """Row count and content hash of every query sample against the file
    captured at the seed commit; `rows_only` queries are checked by row
    count alone. A wrong query fails all its samples. Returns (failed
    samples, messages)."""
    failed, msgs = 0, []
    exp = expected["queries"]
    for name, q in res.get("queries", {}).items():
        e = exp.get(name)
        if e is None:
            msgs.append(f"{name}: no expected output recorded")
        elif q["rows"] != [e["rows"]]:
            msgs.append(f"{name}: rows {q['rows']} != expected {e['rows']}")
        elif name not in expected["rows_only"] and q["hash"] != [e["hash"]]:
            msgs.append(f"{name}: content hash {q['hash']} != expected {e['hash']}")
        else:
            continue
        failed += q["samples"]
    return failed, msgs


def main():
    # a termination request unwinds through the `finally` blocks, which stop
    # the harness JVM, wait for it and delete the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
    cfg = load("config.json")
    layers = load("layers.json")
    if args.workload not in cfg["workloads"]:
        raise SystemExit(f"unknown workload {args.workload}; known: {sorted(cfg['workloads'])}")
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    app_jar, stamp = build(build_dir, jars, cfg)

    global START
    START = time.time()
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(args, app_jar, jars, cfg, run_dir)
        spans = os.path.join(run_dir, "spans.jsonl")
        if args.trace and os.path.isfile(spans):
            keep = os.path.join(build_dir, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if args.workload in ("query_mix",):
        qf, msgs = check_queries(res, load(os.path.join("expected", "query_mix.json")))
        failed += qf
        failures += msgs
    failed = min(failed, attempted)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        source = res["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        source = res["e2e"]
    metrics = {}
    for name, unit in names:
        v = source.get(name, 0.0 if args.trace else None)
        if v is None:
            failures.append(f"metric {name} not produced")
            failed = max(failed, 1)
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}

    prov = dict(res["provenance"])
    prov["git_commit"] = git_commit()
    prov["source_sha256"] = stamp
    prov["seconds"] = args.seconds
    report = {"report": args.workload, "provenance": prov, "inputs": res["inputs"],
              "named": {k: {"value": v, "unit": UNITS.get(k, "")} for k, v in res["named"].items()},
              "tails": res["tails"], "failures": failures[:50],
              "setup": {k: v for k, v in res["layers"].items() if k.startswith("setup.")}}
    if args.trace:
        report["layers"] = {k: dict(layers["metrics"].get(k, {}), value=v)
                            for k, v in sorted(res["layers"].items())}
        report["trace_file"] = os.path.relpath(
            os.path.join(build_dir, "traces", f"{args.workload}-{args.seed}.jsonl"), ROOT)
    if res.get("queries"):
        report["queries"] = res["queries"]
    print(json.dumps(report, sort_keys=False))
    correct = failed == 0 and not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


UNITS = {"setup_s": "s", "heap_live_peak_mb": "MB", "error_rate": "ratio", "stream_rps": "records/s",
         "stream_s": "s", "batch_ms_p50": "ms", "batch_ms_late": "ms", "batch_ms_tail": "ms", "read_ms_p50": "ms",
         "read_ms_tail": "ms", "store_bytes_per_input_byte": "ratio", "query_total_s": "s",
         "query_geomean_ms": "ms", "query_ms_p50": "ms", "query_ms_tail": "ms",
         "op_cpu_ms_unscaled": "ms", "host_ref_ms": "ms", "setup_s_unscaled": "s"}
START = time.time()

if __name__ == "__main__":
    sys.exit(main())
