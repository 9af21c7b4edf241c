#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 graftbench/run.py --workload relational_warm --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It compiles the engine and the harness
(`build.py`), generates the seed's inputs (`gen.py`), computes the oracle's
expected digests for them (`oracle.py`), runs the workload in one JVM at
local[<cores / 2>] and prints, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones, and the run's spans go to
`.bench_build/graftbench/spans/<workload>-<seed>.jsonl`.

It exits non-zero when any operation failed or any output was wrong.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("relational_warm", "pipeline_dag", "sensor_stream")
KEEP_SEEDS = 6
JVM_TIMEOUT_S = 165
# the engine's own JVM options (build.sbt) at a 3 GB heap; no hsperfdata
# file under /tmp, so a run writes only inside its checkout
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:MaxHeapFreeRatio=100", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar")
     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg: str) -> None:
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cpus() -> int:
    """Spark's task slots: half the cores. The JVM's JIT compiler threads stay
    busy through a whole run (in a 2-3 s round of the pipeline queries they
    compile for 6 CPU-s at first, still 2-3 CPU-s after fifteen rounds), so at
    local[<cores>] they and the task threads oversubscribe the cores, and the
    timings follow how the host schedules them (README.md)."""
    return max(1, cores() // 2)


def start_java(cp: str, args: list, work: str, extra=()) -> subprocess.Popen:
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work}/scratch")
    os.makedirs(f"{work}/scratch", exist_ok=True)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = ["java"] + JVM_OPTS + list(extra) + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
                                 f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
                                 "-cp", cp, "graftbench.Main"] + args
    with open(f"{work}/jvm.log", "w") as logf:
        return subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)


def wait_java(p: subprocess.Popen, deadline: float) -> int:
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("JVM timed out")
        return stop_java(p)


def stop_java(p: subprocess.Popen) -> int:
    """Kill the JVM's process group if it still runs; wait for it."""
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()
    return -1 if p.returncode < 0 else p.returncode


def run_java(cp: str, args: list, work: str, timeout: float, extra=()) -> int:
    p = start_java(cp, args, work, extra)
    try:
        return wait_java(p, time.time() + timeout)
    finally:
        stop_java(p)


def oracle_sql(cp: str, bench: str, build_dir: str) -> dict:
    path = f"{build_dir}/oracle_sql.json"
    if not os.path.exists(path):
        work = f"{bench}/runs/oracle-sql-{os.getpid()}"
        os.makedirs(work)
        try:
            if run_java(cp, ["oracle-sql", "--out", path], work, 120) != 0:
                sys.stderr.write(open(f"{work}/jvm.log").read()[-3000:])
                raise SystemExit("graftbench: could not list the workload queries")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return json.load(open(path))


def class_archive(cp: str, bench: str, build_dir: str, tables: str, drop: str) -> list:
    """JVM options that map the classes a run loads from a class-data archive
    (AppCDS), which takes about 5 s of class loading off every JVM start and
    so keeps the benchmark's runs inside its time budget (README.md). The
    archive is written once per build by a training JVM that runs every
    workload's code path on the small fixture tables and one drop file; if
    that fails, runs go without."""
    jsa = f"{build_dir}/graft.jsa"
    if not os.path.exists(jsa) and not os.path.exists(f"{jsa}.failed"):
        work = f"{bench}/runs/train-{os.getpid()}"
        os.makedirs(work)
        t0 = time.time()
        try:
            rc = run_java(cp, ["train", "--tables", tables, "--drop", drop, "--cpus", str(spark_cpus()),
                               "--work", work], work, 300, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
            if rc == 0 and os.path.exists(f"{jsa}.tmp"):
                os.rename(f"{jsa}.tmp", jsa)
                log(f"class-data archive written in {time.time() - t0:.1f} s")
            else:
                open(f"{jsa}.failed", "w").close()
                log("class-data archive failed; running without it")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def expected_digests(path: str, tables: str, queries: list) -> None:
    if os.path.exists(path):
        return
    t0 = time.time()
    # the JVM waits meanwhile, so the oracle may use every core
    exp = oracle.expected(tables, {q["name"]: q["sql"] for q in queries}, cores())
    with open(f"{path}.tmp", "w") as f:
        json.dump(exp, f, sort_keys=True)
    os.rename(f"{path}.tmp", path)
    log(f"oracle digests for {len(exp)} queries in {time.time() - t0:.1f} s")


def prune_seeds(seeds_dir: str, keep: str) -> None:
    dirs = sorted((os.path.join(seeds_dir, d) for d in os.listdir(seeds_dir)),
                  key=os.path.getmtime)
    for d in dirs[:-KEEP_SEEDS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    bench = f"{root}/.bench_build/graftbench"
    build_dir, cp = build.build(root, bench)
    base = gen.base_root(root)
    data = gen.generate(a.seed, f"{bench}/seeds/{a.seed}", base)
    os.utime(data)
    prune_seeds(f"{bench}/seeds", data)
    sql = oracle_sql(cp, bench, build_dir) if a.workload != "sensor_stream" else None
    cds = class_archive(cp, bench, build_dir, f"{base}/{gen.WARM_BASE}", f"{data}/drops/drop_00000.json")
    # keyed by the oracle SQL too, so a changed query never reads stale digests
    sql_key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:12]
    expected = f"{data}/expected_{a.workload}_{sql_key}.json"

    work = f"{bench}/runs/{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = f"{bench}/spans/{a.workload}-{a.seed}.jsonl"
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        p = start_java(cp, ["run", "--workload", a.workload, "--data", data, "--expected", expected,
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--cpus", str(spark_cpus()), "--work", work, "--out", f"{work}/raw.json",
                            "--spans", spans], work, cds)
        try:
            if sql is not None:
                # on a seed's first run the oracle runs after the JVM's timed
                # set-ups, while the JVM waits for it before its warm-up
                while not os.path.exists(f"{work}/setup.done") and p.poll() is None:
                    time.sleep(0.05)
                if p.poll() is None:
                    expected_digests(expected, f"{data}/tables", sql[a.workload])
            rc = wait_java(p, deadline)
        finally:
            stop_java(p)
        if rc != 0 or not os.path.exists(f"{work}/raw.json"):
            sys.stderr.write(open(f"{work}/jvm.log").read()[-5000:])
            log(f"JVM exited with {rc}")
            return 1
        raw = json.load(open(f"{work}/raw.json"))
        os.makedirs(f"{bench}/raw", exist_ok=True)
        shutil.copy(f"{work}/raw.json", f"{bench}/raw/{a.workload}-{a.seed}-trace{a.trace}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = stats.count_ops(raw)
    for f in raw.get("failures", []):
        log(f"FAILED {f}")
    metrics = stats.per_layer(raw) if a.trace else stats.end_to_end(raw)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
