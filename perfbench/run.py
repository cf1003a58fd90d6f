#!/usr/bin/env python3
"""Sync benchmark: initial sync, change backlog, reads beside writes,
iterative queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload reads_with_writes --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark from source with sbt (offline) on
first use, then runs one workload in its own JVM on local[nproc] and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
and writes the spans to perfbench/results/. Extra options, used by the
benchmark's own tests: --scale tiny, --inject drop-event|oracle-row,
--keep (leave the run's inputs and warehouses in .bench_build/).
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

# BENCHMARK.json lists the last two; initial_sync and change_backlog run
# by hand (see README.md)
WORKLOADS = ["initial_sync", "change_backlog", "reads_with_writes", "iterative_queries"]
QUERIES = ["graph_pagerank", "graph_ppr", "graph_bfs", "graph_communities",
           "graph_triangles", "text_bpe_merges", "text_unigram_lm"]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(HERE, "results")
ARCHIVE = os.path.join(BUILD, "classes.jsa")

# Spark on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout
    or interrupt, and always wait for it. Returns (returncode, rusage)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    deadline = time.time() + timeout
    try:
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru
            if time.time() > deadline:
                raise TimeoutError(f"{cmd[0]} exceeded {timeout}s")
            time.sleep(0.05)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        os.wait4(p.pid, 0)
        raise


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(cp, work, extra):
    g = heap()
    return (["java", f"-Xmx{g}g", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", f"-Dlog4j.configurationFile={HERE}/log4j2.properties"]
            + extra
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"])


def java_env():
    return {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}


def build():
    """Compile and package the program and the benchmark (offline sbt,
    no server), then write a class-data archive from one training run
    of every workload at tiny scale, unless the checkout's sources are
    already built. Returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, cp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out_path = os.path.join(BUILD, "sbt.log")
    log("building the program and the benchmark with sbt (first run only)")
    with open(out_path, "w") as out:
        rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export Runtime/fullClasspathAsJars"],
                          timeout=600, cwd=HERE, env=env, stdout=out,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        fail(f"sbt build failed (exit {rc}); see {out_path}")
    cp = lines[-1]
    if "perfbench" not in cp or ".jar" not in cp:
        fail(f"could not read the classpath from sbt; see {out_path}")

    # the archive holds the classes every workload loads, so a run's JVM
    # starts without reading and verifying them from ~300 jars again
    log("writing the class-data archive from a training run")
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "--workload", "train", "--seed", "0", "--seconds", "1", "--trace", "1",
        "--scale", "tiny", "--work", work, "--out", os.path.join(work, "out.json"),
        "--start-ms", str(int(time.time() * 1000))]
    with open(os.path.join(BUILD, "train.log"), "w") as out:
        rc, _ = run_child(cmd, timeout=600, cwd=work, env=java_env(), stdout=out,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        log(f"no class-data archive (training run exit {rc}); runs load classes from the jars")

    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def preread(cp):
    """Read the jars and the class-data archive once, so a run does not
    start on files the page cache has dropped (the first run after an
    idle spell was up to 40% slower without this)."""
    buf = bytearray(1 << 20)
    for f in cp.split(":") + [ARCHIVE]:
        if os.path.isfile(f):
            with open(f, "rb", buffering=0) as fh:
                while fh.readinto(buf):
                    pass


def heap():
    """A quarter of memory, 2-4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 3


def oracle_check(results_dir, data_dir, inject):
    """Compare each query result with its DuckDB oracle in rows,
    columns and hash, with the helpers of tools/check_oracle.py."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for name in QUERIES:
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files or name not in oracles:
            problems.append(f"{name}: no result or no oracle")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        want = con.sql(oracles[name])
        g_cols = [c.lower() for c in got.columns]
        w_cols = [c.lower() for c in want.columns]
        g_types = [str(t).upper() for t in got.types]
        w_types = [str(t).upper() for t in want.types]
        g_rows, w_rows = got.fetchall(), want.fetchall()
        if inject == "oracle-row" and name == QUERIES[0] and w_rows:
            row = list(w_rows[0])
            row[-1] = (row[-1] + 1) if isinstance(row[-1], (int, float)) else f"{row[-1]}x"
            w_rows[0] = tuple(row)
        if len(g_rows) != len(w_rows):
            problems.append(f"{name}: {len(g_rows)} rows, oracle {len(w_rows)}")
        if sorted(g_cols) != sorted(w_cols):
            problems.append(f"{name}: columns {g_cols}, oracle {w_cols}")
            continue
        gt, wt = dict(zip(g_cols, g_types)), dict(zip(w_cols, w_types))
        bad = [c for c in g_cols if not co._types_compatible(gt[c], wt[c])]
        if bad:
            problems.append(f"{name}: column types differ for {bad}")
        if co.table_hash(g_rows, g_cols) != co.table_hash(w_rows, w_cols):
            problems.append(f"{name}: result hash differs from the oracle")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    ap.add_argument("--inject", default="none", choices=["none", "drop-event", "oracle-row"])
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = build()
    preread(cp)
    start_ms = int(time.time() * 1000)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(RESULTS, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(RESULTS, f"{tag}.json")
    for f in (out, out + ".trace.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(cp, work, share) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", a.scale, "--inject", a.inject,
        "--work", work, "--out", out, "--start-ms", str(start_ms)]
    try:
        # the run must end within 180 s at the length BENCHMARK.json
        # asks for (a run of 8 s takes 40-50 s); longer runs get four
        # seconds more per second asked
        rc, ru = run_child(cmd, timeout=max(170, 60 + 4 * a.seconds), cwd=work, env=java_env(),
                           stdin=subprocess.DEVNULL, stdout=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            fail(f"{a.workload} run failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        if a.workload == "iterative_queries":
            res["problems"] += oracle_check(os.path.join(work, "results"),
                                            os.path.join(work, "data"), a.inject)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    metrics = res["layers"] if a.trace else res["metrics"]
    # the JVM's peak resident set (ru_maxrss is in KiB on Linux); kept in
    # the result file only, as it does not repeat within a tenth
    res["peak_rss_mb"] = ru.ru_maxrss / 1024.0
    correct = not res["problems"]
    for p in res["problems"]:
        log(f"CHECK FAILED: {p}")
    counts = ", ".join(f"{k}={v}" for k, v in res["counts"].items())
    print(f"{a.workload}: attempted={res['attempted']} failed={res['failed']} ({counts})")
    with open(out, "w") as f:
        json.dump(dict(res, correct=correct), f, indent=1)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
