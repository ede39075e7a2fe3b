#!/usr/bin/env python3
"""graft lake benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 lakebench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Builds the engine plus the harness (lakebench/harness) with sbt when the
sources changed since the last build, generates the workload's inputs from
the seed, runs the workload in one JVM (Spark local[N], N = min(nproc, 4)),
checks its outputs, and prints a record line followed by the result JSON:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones. See lakebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HARNESS, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("etl_daily", "operator_suite")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
JVM_TIMEOUT_S = 170
HEAP = "1536m"
CPUS = min(os.cpu_count() or 1, 4)

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# repository's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for build_file in (os.path.join(HARNESS, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        with open(build_file, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = os.path.join(BUILD, "lakebench.classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("hash") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(os.path.join(BUILD, "lakebench.classpath")) as f:
        cp = f.read().strip()
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


def git_commit():
    """The commit being measured: from git when available, else unknown."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, workload, seed, seconds, trace, work, ops_data):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the heap is fixed and touched up front, so peak RSS does not depend on
    # how much of it the collector happened to touch
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "lakebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--cpus", str(CPUS)]
    if ops_data:
        cmd += ["--ops-data", ops_data]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("LAKEBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"{workload} exited with {p.returncode} and no result")
    return json.loads(lines[-1][len("LAKEBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
             "run from a checkout of the repository")
    cp = build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(work)
    try:
        ops_data = None
        if args.workload == "operator_suite":
            sys.path.insert(0, HERE)
            import opsdata
            ops_data = os.path.join(work, "ops_data")
            opsdata.generate(ops_data)
        rec = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace == 1, work, ops_data)
        if ops_data:
            rec["info"]["table_rows"] = opsdata.rows(ops_data)
        problems = list(rec["problems"])
        failed = rec["failed"]
        if args.workload == "operator_suite":
            wrong = opsdata.check(ops_data, os.path.join(work, "ops_out"))
            for name, why in wrong.items():
                problems.append(f"{name}: {why}")
                failed += rec["info"]["passes"]
        failed = min(failed, rec["attempted"])
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    attempted = rec["attempted"]
    m = rec["metrics"]
    e2e = {
        "setup_s": ("s", m["setup_s"]),
        "peak_rss_mb": ("MB", m["peak_rss_mb"]),
        "work_cpu_s": ("s", m["work_cpu_s"]),
    }
    # in the record only: items_per_cpu_s follows work_cpu_s, and the
    # wall-clock figures carry the host's steal noise
    extra = {
        "items_per_cpu_s": ("1/s", m["items_per_cpu_s"]),
        "setup_wall_s": ("s", m["setup_wall_s"]),
        "throughput_per_s": ("1/s", m["throughput_per_s"]),
        "op_s_p50": ("s", m["op_s_p50"]),
        "op_s_tail": ("s", m["op_s_tail"]),
    }
    correct = failed == 0 and not problems
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "commit": git_commit(), "sources_sha256": source_hash(),
        "nproc": os.cpu_count(),
        "local": rec["local"], "driver_heap_mb": rec["driver_heap_mb"], "jvm": rec["jvm"],
        "spark": rec["spark"], "error_rate": failed / attempted,
        "end_to_end": {k: {"value": v, "unit": u} for k, (u, v) in e2e.items()},
        "not_gated": {k: {"value": v, "unit": u} for k, (u, v) in extra.items()},
        "inputs": rec["info"], "problems": problems[:20],
    }
    if args.trace:
        record["spans"] = rec["spans"]
    print("LAKEBENCH_RECORD " + json.dumps(record, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(rec["layers"].items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (u, v) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def layer_unit(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("per_raw_mb"):
        return "ratio"
    if leaf == "mb" or leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_s") or "_s_" in leaf:
        return "s"
    return "count"


if __name__ == "__main__":
    main()
