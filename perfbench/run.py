#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state; the classpath is cached under $CARGO_TARGET_DIR or .bench_build),
runs the JVM harness (graft.perfbench.Main) in a per-run scratch dir that is
removed at exit, checks relational results against DuckDB, and prints each
metric by name with its unit and sample count. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Exits non-zero
when a correctness check fails or the run cannot complete.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("resolve_full", "dedup_sql")
END_TO_END = ("setup_s", "wall_s", "cpu_s", "peak_rss_mb")
RUN_LIMIT_S = 170  # a run, build excluded, must finish well inside 180 s

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*"]
    pats += [os.path.join(os.path.basename(BENCH), p) for p in
             ("build.sbt", "project/build.properties", "src/**/*")]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build(build_dir):
    """Classpath of the harness, rebuilt with sbt when any source changed."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            fresh = fh.read().strip() == stamp
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if fresh and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env.setdefault("SBT_OPTS", opts)
    log("building engine + harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        fail(f"sbt build failed (rc {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def host():
    cores = len(os.sched_getaffinity(0))
    mem_mb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    # a sixth of the host for the heap, between 1 and 2 GB
    heap_mb = max(1024, min(2048, mem_mb // 6))
    return cores, heap_mb


def check_oracles(res):
    """Compare each engine result with its DuckDB oracle over the same tables.
    Returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in glob.glob(os.path.join(res["tables_dir"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}/*.parquet'")

    def canon(cols, recs):
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        return ([cols[i].lower() for i in order],
                sorted(tuple(str(r[i]) for i in order) for r in recs))

    bad = []
    for o in res["oracles"]:
        try:
            rel = con.sql(o["sql"])
            exp = canon(rel.columns, rel.fetchall())
            with open(o["result"]) as fh:
                recs = [json.loads(l) for l in fh if l.strip()]
            cols = list(recs[0]) if recs else list(rel.columns)
            got = canon(cols, [[r[c] for c in cols] for r in recs])
            if exp != got:
                bad.append(o["name"])
                log(f"oracle mismatch {o['name']}: {len(got[1])} rows vs oracle {len(exp[1])}")
            else:
                log(f"oracle ok {o['name']} ({len(got[1])} rows)")
        except Exception as e:  # a query the oracle cannot run is a failure too
            bad.append(o["name"])
            log(f"oracle error {o['name']}: {e}")
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    t_start = time.time()

    cores, heap_mb = host()
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_dir = os.path.join(build_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    result_file = os.path.join(run_dir, "result.json")
    spans_file = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")

    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:+UseG1GC", f"-XX:ParallelGCThreads={cores}", f"-XX:ConcGCThreads={max(1, cores // 4)}",
        f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        "-Dspark.scheduler.listenerbus.eventqueue.capacity=100000",
        # whole driver call stacks on each job, for the traced run's layer
        # attribution (Spark keeps 20 frames by default)
        "-Dspark.callstack.depth=200",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--cores", str(cores),
        "--dir", f"{run_dir}/data", "--out", result_file, "--spans", spans_file,
    ]
    # the engine reads SPARK_GRAFT_* tuning knobs from the environment; the
    # benchmark measures its defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_TMPFS"] = "0"

    child = None

    def stop(*_):
        if child is not None and child.poll() is None:
            child.kill()
            child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
            f"cores={cores} heap={heap_mb}m")
        child = subprocess.Popen(java, cwd=run_dir, env=env, stdout=sys.stderr,
                                 stderr=sys.stderr)
        try:
            rc = child.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
            fail("harness exceeded its time limit", 1)
        if rc != 0 or not os.path.exists(result_file):
            fail(f"harness failed (rc {rc})", 1)
        with open(result_file) as fh:
            res = json.load(fh)
        bad = check_oracles(res) if res["oracles"] else []
    finally:
        if child is not None and child.poll() is None:
            child.kill()
            child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = res["attempted"]
    failed = res["failed"] + (1 if bad else 0)
    metrics = res["metrics"]
    for name, m in metrics.items():
        print(f"{name:30s} {m['value']:>14.6g} {m['unit']:6s} n={m['n']}")
    print(f"{'error_rate':30s} {failed / attempted:>14.6g} {'ratio':6s} n={attempted}")
    if a.trace == "0":
        # docs_per_s (resolve_full) and task_s are printed above but not
        # reported: with a fixed corpus docs_per_s is wall_s inverted, and
        # task_s also counts the time a task thread waits for a core, so it
        # follows the VM's CPU steal far more than cpu_s does
        missing = [k for k in END_TO_END if k not in metrics]
        if missing:
            fail(f"harness result lacks {missing}", 1)
        metrics = {k: metrics[k] for k in END_TO_END}
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
