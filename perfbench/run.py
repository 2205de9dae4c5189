#!/usr/bin/env python3
"""Benchmark of the graft engine: the paper's ETL pipeline plus three
registry workloads, each one closed-loop client in one JVM.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

Workloads: etl_pipeline, registry_iterative, registry_windows,
registry_corpus. The first run in a checkout builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`. Each run
generates its inputs from the seed, runs `perfbench.Main` on
`local[<cores>]`, checks every output against an oracle, and prints one
JSON object as its last line: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["etl_pipeline", "registry_iterative", "registry_windows",
             "registry_corpus"]
# Registry inputs do not depend on the run's seed, so their query results
# can be pinned in expected.json; the seed orders the queries instead.
REGISTRY_SEED = 7
JVM_HEAP = "3g"
# C1 only: with C2, each JVM of a run this short settled at its own speed
# (one seed measured 4.35 s and 5.37 s per pass in two runs); C1 reaches
# the same code every time. The parallel collector has no concurrent
# threads competing with the task threads.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC"]
# Class-data-sharing archive of the classes a run loads, dumped once per
# build: JVM and session start, and the cold check pass, load Spark's
# classes from it instead of from jars, which takes 6-9 s off set-up.
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def source_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark once per source tree and dumps
    the class archive; returns the JVM arguments: the root project's
    javaOptions and the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the benchmark builds the engine from "
                 "its sources", 2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    launch = os.path.join(HERE, "target", "jvm-launch.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(launch) and \
            os.path.exists(ARCHIVE) and open(stamp).read() == digest:
        return open(launch).read().splitlines()
    for f in (launch, ARCHIVE, stamp):
        with contextlib.suppress(FileNotFoundError):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "jvmLaunchFile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=650)
    if proc.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"build failed (exit {proc.returncode}), log in {log}")
    jvm_args = open(launch).read().splitlines()
    dump_archive(jvm_args)
    with open(stamp, "w") as f:
        f.write(digest)
    return jvm_args


def dump_archive(jvm_args):
    """One short etl_pipeline run (seed 0) whose JVM writes the archive of
    every class it loaded as it exits. Archives need a classpath of jars,
    which the benchmark's build exports."""
    import inputs as gen
    work = os.path.join(BUILD, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    try:
        in_dir = os.path.join(work, "inputs")
        oracle = gen.etl_sources(in_dir, 0)
        run_jvm(jvm_args, [
            "--workload", "etl_pipeline", "--seed", "0", "--seconds", "1",
            "--trace", "0", "--inputs", in_dir, "--work", work,
            "--out", os.path.join(work, "result.json"), "--t0-ms",
            str(int(time.time() * 1000)), "--cores", str(cores()),
            "--source-rows", str(oracle["source_rows"])],
            work, time.time() + RUN_TIMEOUT_S,
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("the JVM wrote no class archive")


def run_jvm(jvm_args, args, work, deadline,
            archive=(f"-XX:SharedArchiveFile={ARCHIVE}",)):
    # The heap flags come after the root project's options: the last -Xmx
    # wins.
    cmd = ["java"] + jvm_args + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] + \
        JVM_FLAGS + list(archive) + \
        [f"-Djava.io.tmpdir={work}/tmp", "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM failed ({code})")


def percentile(xs, q):
    """Nearest rank: the smallest sample with at least a share q of all
    samples at or below it. Always one measured value, never a blend."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def check_etl(result, oracle):
    """Every pass's written tables and profile numbers against the oracle.
    Returns the number of operations whose output is wrong."""
    from inputs import parquet_fingerprint
    bad = 0
    for d in result["load_dirs"]:
        for table, want in oracle["tables"].items():
            got = parquet_fingerprint(os.path.join(d, table))
            if got != (want["rows"], want["fingerprint"]):
                print(f"[perfbench] {d}/{table}: rows/fingerprint {got} != "
                      f"{(want['rows'], want['fingerprint'])}", file=sys.stderr)
                bad += 1
                break
    for p in result["profiles"]:
        if p != oracle["profile"]:
            print(f"[perfbench] profile {p} != {oracle['profile']}", file=sys.stderr)
            bad += 1
    return bad


def check_registry(result, work, inputs, expected):
    """Oracle SQL through scripts/check.py's compare_one, and every query's
    result fingerprint against expected.json. Returns the number of wrong
    results."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    from inputs import parquet_fingerprint
    check_dir = os.path.join(work, "check")
    con = duckdb.connect()
    check.make_views(con, inputs)
    bad = 0
    for q in result["order"]:
        qdir = os.path.join(check_dir, q)
        if not os.path.isdir(qdir):
            continue  # the JVM already counted this query as failed
        sql = result["oracle_sql"].get(q)
        with contextlib.redirect_stdout(sys.stderr):
            ok = sql is None or check.compare_one(con, check_dir, q, sql)
        rows, fp = parquet_fingerprint(qdir)
        got = {"rows": rows, "fingerprint": fp}
        if expected.get(q) != got:
            print(f"[perfbench] {q}: result {got} != expected "
                  f"{expected.get(q)}", file=sys.stderr)
            ok = False
        bad += not ok
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    sys.path.insert(0, HERE)
    import inputs as gen
    jvm_args = build()
    t_start = time.time()
    deadline = t_start + RUN_TIMEOUT_S

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "inputs")
    try:
        if a.workload == "etl_pipeline":
            oracle = gen.etl_sources(in_dir, a.seed)
            source_rows = oracle["source_rows"]
        else:
            source_rows = gen.registry_tables(in_dir, REGISTRY_SEED)
        out = os.path.join(work, "result.json")
        run_jvm(jvm_args, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", in_dir, "--work", work, "--out", out,
            "--t0-ms", str(int(t_start * 1000)), "--cores", str(cores()),
            "--source-rows", str(source_rows)], work, deadline)
        result = json.load(open(out))

        if a.workload == "etl_pipeline":
            wrong = check_etl(result, oracle)
            properties = oracle["properties"]
        else:
            expected = json.load(open(os.path.join(HERE, "expected.json")))
            wrong = check_registry(result, work, in_dir, expected)
            properties = {}
        with open(os.path.join(BUILD, f"last-{a.workload}.json"), "w") as f:
            json.dump(result, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = [p for p in result["passes"] if not p["traced"]]
    pass_s = [p["seconds"] for p in passes]
    ops = [o["seconds"] for p in passes for o in p["ops"]]
    setup_s = result["first_pass_ms"] / 1000 - t_start
    failed = result["failed"] + wrong
    for e in result["errors"]:
        print(f"[perfbench] failed: {e}", file=sys.stderr)
    print(f"# {a.workload} seed={a.seed} cores={result['cores']} "
          f"order={','.join(result['order'])}")
    print(f"# pass_s n={len(pass_s)} q1={percentile(pass_s, .25):.4f} "
          f"median={statistics.median(pass_s):.4f} q3={percentile(pass_s, .75):.4f}")
    if a.workload != "etl_pipeline":
        print(f"# op_p50_s = {percentile(ops, .5):.4f} s, op_p90_s = "
              f"{percentile(ops, .9):.4f} s (n={len(ops)})")
    print(f"# failed_ops = {failed}/{result['attempted']}")
    print(f"# setup phases {json.dumps(result['setup_phases_s'])}; "
          f"shared stages {json.dumps(result['shared_stages_s'])}")
    for k, v in properties.items():
        print(f"# property {k} = {v:.4f}")
    if a.trace:
        per_layer = dict(result["per_layer"])
        per_layer["util.shared_stage_pct"] = \
            100 * sum(result["shared_stages_s"].values()) / setup_s
        per_layer["trace.overhead_s"] = result["trace_overhead_s"]
        for k, v in sorted(result["layer_self_s"].items()):
            print(f"# self_s {k} = {v:.4f}")
        units = {m["name"]: m["unit"] for m in
                 json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]}
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(pass_s), "unit": "s"},
            # The first timed pass: its peak follows the same work in every
            # run, however many passes the run makes.
            "storage_peak_mb": {"value": passes[0]["peak_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
