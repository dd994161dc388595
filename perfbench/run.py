#!/usr/bin/env python3
"""Launcher for the repository benchmark.

    python3 perfbench/run.py --workload <north|api> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark main from source with sbt (into .bench_build/); later runs reuse
the build while the sources are unchanged. The launcher sizes the JVM from
the host (heap from MemTotal, local[nproc]), keeps every scratch file under
.bench_build/, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. The line before it is the
full report (host facts, sizes, every named metric, failures). After the
JVM ends, the launcher compares every entry leaf the run wrote with the
leaf's DuckDB oracle over the same generated tables; a mismatch is a failed
operation.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
MAIN_CLASS = "perfbench.Main"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build; a change triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timeout after {timeout}s: {cmd[0]}")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile engine + benchmark with sbt; cache the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    out_file = os.path.join(BUILD, "build.log")
    log("building engine + benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    with open(out_file, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    with open(out_file) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt build failed (exit {rc})")
    cp = lines[-1]
    if MAIN_CLASS.split(".")[0] not in cp and ".bench_build" not in cp:
        raise SystemExit("sbt build did not print a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp


def heap_gb():
    """Same rule as the repository's test runs: MemTotal/2, clamped 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return min(8, max(2, g))
    except OSError:
        pass
    return 2


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def medium_of(path):
    """Filesystem type of the mount holding `path` (tmpfs, ext4, overlay...)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) >= 3:
                    mnt = parts[1]
                    if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                        best, fstype = mnt, parts[2]
    except OSError:
        pass
    return fstype


def check_leaves(path):
    """Compare each leaf's written rows with its DuckDB oracle over the same
    tables, as tools/compare.py does. Returns one problem per mismatch, and
    the row count of each leaf that could be read."""
    with open(path) as f:
        spec = json.load(f)
    try:
        import duckdb
    except ImportError:
        return ["leaves: duckdb is not importable, so no leaf could be checked"], {}
    con = duckdb.connect()
    tables = spec["tables"]
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{tables}/{name}/*.parquet'")
    problems, rows = [], {}
    for leaf in spec["leaves"]:
        try:
            got = con.execute(f"SELECT * FROM '{leaf['rows']}/*.parquet'").df()
            exp = con.execute(leaf["oracle"]).df()
        except Exception as e:  # a leaf whose rows or oracle cannot be read fails
            problems.append(f"leaves.{leaf['name']}: {e}"[:400])
            continue
        rows[leaf["name"]] = len(got)
        cols = sorted(got.columns)
        if cols != sorted(exp.columns) or len(got) != len(exp):
            problems.append(f"leaves.{leaf['name']}: {len(got)} rows {cols} vs oracle "
                            f"{len(exp)} rows {sorted(exp.columns)}")
            continue
        g = got[cols].sort_values(cols).reset_index(drop=True)
        e = exp[cols].sort_values(cols).reset_index(drop=True)
        if not g.equals(e):
            problems.append(f"leaves.{leaf['name']}: {int((g != e).any(axis=1).sum())} of "
                            f"{len(g)} rows differ from the oracle")
    return problems, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["north", "api"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: smoke-test sizes")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one checked output (tests the output checks)")
    a = ap.parse_args()
    # a terminated launcher still stops the JVM it started (run_group's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")) or not os.path.isdir(BENCH_SRC):
        log(f"no engine sources under {ROOT}; run from the root of a full checkout")
        return 2

    cp = build()
    cpus = nproc()
    heap = heap_gb()
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    spans = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-spans.json")
    result_file = os.path.join(work, "result.json")
    report_file = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-report.json")

    # initial heap 2g: early heap growth would add GC churn to short runs
    cmd = ["java", f"-Xmx{heap}g", f"-Xms{min(heap, 2)}g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, MAIN_CLASS,
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--fault", "1" if a.inject_fault else "0",
            "--work", work, "--nproc", str(cpus), "--heap-gb", str(heap),
            "--medium", medium_of(work), "--spans", spans,
            "--result", result_file, "--report", report_file]
    try:
        # entry leaves that keep state put it under SPARK_GRAFT_LOCAL_DIR
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM failed (exit {rc})")
            return 1
        with open(report_file) as f:
            report = json.load(f)
        with open(result_file) as f:
            result = json.load(f)
        checks = os.path.join(work, "leaf-checks.json")
        if os.path.exists(checks):
            problems, report["info"]["leaf_rows_checked"] = check_leaves(checks)
            result["failed"] += len(problems)
            result["correct"] = result["correct"] and not problems
            report["problems"] += problems
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=False))
    print(json.dumps(result, sort_keys=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
