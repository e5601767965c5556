#!/usr/bin/env python3
"""Layered benchmark for the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload write_mix --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. The last line of standard output is
the result as JSON; the lines before it are the full report, and the
same report is kept under .bench_build/artifacts/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["write_mix", "query_mix"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A run must end within 180 s after the build; the DuckDB check and the
# report need a few seconds after the JVM exits.
JVM_LIMIT_S = 160
CORES = os.cpu_count() or 4  # local[CORES], and as many shuffle partitions
SF = 0.1  # scale of the read-side tables (sf0.1: 600k lineitem rows)
HEAP = "3g"


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    pats = ["src/main/**/*.scala", "src/main/**/*.java", "build.sbt", "project/*.properties",
            "project/*.sbt", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*.scala"]
    return sorted(p for pat in pats for p in glob.glob(os.path.join(root, pat), recursive=True))


def source_digest(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, log_dir):
    """Compile with sbt unless the classpath file is newer than every source."""
    cp_file = os.path.join(root, "perfbench", "target", "classpath.txt")
    newest = max(os.path.getmtime(p) for p in sources(root))
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest:
        return cp_file, 0.0
    t0 = time.time()
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=os.path.join(root, "perfbench"), stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}", 1)
    return cp_file, time.time() - t0


def scratch_medium(path):
    """tmpfs or disk, from the mount table entry that holds `path`."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) >= 3 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, fstype = parts[1], parts[2]
    except OSError:
        pass
    return "tmpfs" if fstype == "tmpfs" else f"disk ({fstype})"


def git_head(root):
    try:
        # a checkout that is not a repository must not report an enclosing one
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10,
                           env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root)))
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def proc_cpu_s():
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def oracle_check(root, results, data):
    """The repository's DuckDB oracle over the answers the run wrote.
    Returns (passed, failed, failure lines)."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check_correctness.py"),
                        results, data], capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    summary = next((ln for ln in lines if ln.endswith(" pass")), None)
    if r.returncode != 0 or summary is None:
        return 0, 1, [f"oracle did not run: {r.stderr.strip()[-500:]}"]
    ok, total = (int(x) for x in summary.split()[0].split("/"))
    return ok, total - ok, [ln for ln in lines if ln.startswith("FAIL")]


def main():
    ap = argparse.ArgumentParser(description="Layered engine benchmark (one run).")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    wall0, cpu0, load0 = time.time(), proc_cpu_s(), os.getloadavg()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "tools/check_correctness.py",
                 "perfbench/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
    cp_file, build_s = build(root, base)
    built = time.time()

    run_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    for d in (data, work, os.path.join(work, "tmp"), os.path.join(work, "fixtures")):
        os.makedirs(d)
    try:
        t0 = time.time()
        gen.write(data, a.seed, SF, gen.WORKLOAD_TABLES.get(a.workload, []))
        gen_s = time.time() - t0

        raw_path = os.path.join(run_dir, "raw.json")
        with open(cp_file) as f:
            cp = f.read().strip()
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for o in JVM_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
                "--data", data, "--work", work, "--out", raw_path]
        env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(work, "fixtures"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        log_path = os.path.join(base, "jvm.log")
        with open(log_path, "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                    stdin=subprocess.DEVNULL,
                                    timeout=JVM_LIMIT_S - (time.time() - built)).returncode
            except subprocess.TimeoutExpired:
                fail(f"benchmark JVM exceeded the run limit; log in {log_path}", 1)
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited {rc}; log in {log_path}", 1)
        with open(raw_path) as f:
            raw = json.load(f)

        rec, phases = raw["record"], raw["phases"]
        untraced = phases[0]
        attempted = sum(p["attempted"] for p in phases)
        failed = sum(p["failed"] for p in phases)
        failures = [f"{c['name']}: {c['detail']}" for p in phases for c in p["checks"]
                    if not c["ok"]]
        results = os.path.join(work, "results")
        if os.listdir(results) != ["oracle_sql.json"]:
            ok, bad, lines = oracle_check(root, results, data)
            attempted += ok + bad
            failed += bad
            failures += lines
        setup_s = gen_s + rec["timed_start_s"]
        e2e = report.end_to_end(a.workload, untraced, setup_s, failed, attempted)
        metrics = report.per_layer(a.workload, untraced, phases[1]) if a.trace else e2e
        names = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
        line = report.final_line(failed == 0, attempted, failed, metrics, names)

        wall = time.time() - wall0
        record = dict(rec, git_head=git_head(root), source_digest=source_digest(root),
                      scratch_medium=scratch_medium(work), gen_s=gen_s, build_s=build_s,
                      sf=SF, loadavg_start=load0[0],
                      loadavg_end=os.getloadavg()[0],
                      runner_cpu_per_wall=(proc_cpu_s() - cpu0) / wall,
                      jvm_process=untraced["process"])
        artifact = {"record": record, "end_to_end": e2e, "failures": failures,
                    "result": line, "samples": untraced["samples"],
                    "counters": untraced["counters"]}
        if a.trace:
            tr = report.Trace(phases[1])
            artifact["per_layer"] = metrics
            artifact["self_ms_by_span"] = tr.self_by_name()
            artifact["traced_timed_s"] = phases[1]["timed_s"]
        stamp = time.strftime("%Y%m%dT%H%M%S")
        art_path = os.path.join(base, "artifacts",
                                f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}.json")
        with open(art_path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)

        print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
              f"{rec['master']} heap={rec['max_memory_mb']:.0f}MiB "
              f"shuffle_partitions={rec['shuffle_partitions']} spark={rec['spark']} "
              f"jdk={rec['jdk']} head={record['git_head'] or 'n/a'} "
              f"src={record['source_digest']} scratch={record['scratch_medium']}")
        print(f"# loadavg {record['loadavg_start']:.2f} -> {record['loadavg_end']:.2f}; "
              f"jvm cpu/wall {untraced['process']['cpu_per_wall']:.2f}")
        for name, m in sorted(metrics.items()):
            n = f" (n={m['n']})" if "n" in m else ""
            print(f"{name} = {m['value']:.6g} {m['unit']}{n}")
        for ln in failures:
            print(f"FAILED {ln}")
        print(f"# artifact {os.path.relpath(art_path, root)}")
        print(json.dumps(line))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
