#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source (sbt, offline; cached under .bench_build/ until a source file
changes), writes the input tables, runs the workload in one JVM on
local[N] (N = SPARK_GRAFT_CPUS, else the number of cores) as a closed loop
with one client, checks the outputs, and prints every metric by name and
unit. The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). A traced run also writes its spans, with
self times, to .bench_build/traces/.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
JVM_BUDGET_S = 165  # a run must end within 180 s once built
# what a pass leaves on disk, under the run's work dir (space_amp): the
# lake it refreshed, the store it mutated, or, for the catalog, whatever
# Spark scratch (shuffle, spill, checkpoint blocks) is still held
STATE = {"catalog_floor": "spark-local", "catalog_heavy": "spark-local",
         "lake_cycle": "lake/p{pass},index"}

sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env.isdigit() and int(env) > 0 else os.cpu_count()


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in [os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if f.endswith((".sbt", ".scala", ".java", ".properties")):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def input_tables():
    import datagen
    d = os.path.join(BUILD, f"data-v{datagen.VERSION}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write(d)
        open(os.path.join(d, "_done"), "w").close()
    return d


# JDK 17 module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# A fixed heap and young generation. With only -Xmx, G1 sized both from
# GC pause times, which the host's load moves, and the peak RSS of ten
# catalog_floor runs spread 0.26 (interquartile range / median); with these
# it spread 0.02 over five runs and lake_cycle's 0.03 over three.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]


def run_jvm(classpath, plan_path, work, deadline, main=("graftbench.Main",)):
    """Runs a harness main (with the plan as its last argument) in a JVM
    of its own, stopping it at the deadline. Returns its exit code."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *ADD_OPENS, *HEAP,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, *main, plan_path]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time budget; stopping the JVM")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def write_plan(path, conf, passes):
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}\t{v}\n")
        for ops in passes:
            f.write("pass\n")
            for kind, arg in ops:
                f.write(f"op\t{kind}\t{arg}\n")


def input_bytes(data, ops):
    """Bytes a pass reads as input: the tables a refresh reads, the batches
    a churn pass applies, or every table for the catalog."""
    size = lambda t: os.path.getsize(os.path.join(data, f"{t}.parquet"))
    total = sum(os.path.getsize(a) for k, a in ops if k in ("ingest", "forget_logical", "forget"))
    if any(k == "stage" for k, _ in ops):
        total += size("events") + size("nation")
    return total or sum(os.path.getsize(os.path.join(data, f))
                        for f in os.listdir(data) if f.endswith(".parquet"))


def run_checks(record, work, data, expect):
    """Every output check that applies to the run's ops."""
    import checks
    expected = checks.load_expected()
    warm = [o for o in record["ops"] if o["pass"] == 0]
    problems = []
    queries = [o["name"] for o in warm if o["kind"] == "query"]
    if queries:
        problems += checks.check_catalog(os.path.join(work, "out"), queries, record["oracles"],
                                         data, expected)
    if any(o["kind"] == "stage" for o in warm):
        # the last lake the run refreshed
        last = record["passes"][-1]["pass"]
        problems += checks.check_lake(os.path.join(work, "lake", f"p{last}"), expected["lake"])
    if expect:
        problems += checks.check_store(record["checks"], expect)
    return problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    import workloads
    import metrics
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload}; known: {workloads.WORKLOADS}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no engine sources under {ROOT}: run from the root of a full checkout")

    classpath = build()
    deadline = time.time() + JVM_BUDGET_S
    data = input_tables()
    n = cpus()
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        warmup = workloads.WARMUP_PASSES[args.workload]
        timed = workloads.timed_passes(args.workload, args.seconds)
        passes, expect = workloads.plan(args.workload, args.seed, work,
                                        warmup + timed * (2 if args.trace else 1))
        conf = {"workload": args.workload, "trace": args.trace,
                "cpus": n, "data": data, "work": work, "out": os.path.join(work, "record.json"),
                "setup_reps": 3, "warmup_passes": warmup, "timed_passes": timed,
                "probe": "events,lineitem", "state": STATE[args.workload]}
        plan_path = os.path.join(work, "plan.tsv")
        write_plan(plan_path, conf, passes)
        code = run_jvm(classpath, plan_path, work, deadline)
        if code != 0 or not os.path.exists(conf["out"]):
            raise SystemExit(f"harness JVM failed (exit {code})")
        with open(conf["out"]) as f:
            record = json.load(f)
        attempted, failed, failed_names = metrics.op_accounting(record)
        for name in failed_names:
            log(f"failed op: {name}")
        problems = run_checks(record, work, data, expect)
        for p in problems:
            log(f"wrong output: {p}")
        e2e, notes = metrics.end_to_end(record, input_bytes(data, passes[warmup]), len(problems))
        print(f"# {args.workload} seed={args.seed} N={n} (local[{n}], closed loop, 1 client) "
              f"attempted={attempted} failed={failed}")
        for k, unit in metrics.END_TO_END.items():
            print(f"{k:14s} {e2e[k]:>14.6g} {unit:6s} {notes.get(k, '')}")
        if args.trace:
            layer, traced = metrics.per_layer(record, n)
            for k, unit in metrics.PER_LAYER.items():
                print(f"{k:26s} {layer[k]:>14.6g} {unit}")
            trace_path = write_trace(args, record, traced)
            log(f"spans with self times: {trace_path}")
            chosen = {k: layer[k] for k in bench_names("per_layer")}
        else:
            chosen = {k: e2e[k] for k in bench_names("end_to_end")}
        units = {**metrics.END_TO_END, **metrics.PER_LAYER}
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": units[k]}
                                      for k, v in chosen.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench_names(section):
    return [m["name"] for m in bench_spec()[section]]


def write_trace(args, record, traced):
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-s{args.seed}.json")
    t0 = record["jvm_start_ms"]
    ops = [{"op": t["op"]["name"], "pass": t["op"]["pass"], "ok": t["op"]["ok"],
            "wall_ms": t["op"]["wall_s"] * 1e3, "self_ms_by_layer": t["self_ms"],
            "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in t["spans"]]}
           for t in traced]
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "ops": ops}, f, indent=1)
    return path


if __name__ == "__main__":
    main()
