#!/usr/bin/env python3
"""Build and run the graft KG-construction benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload build_zipf --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke          # all workloads, tiny inputs, checks
    python3 perfbench/run.py --smoke --trace 1  # the same, traced

The first call compiles the library sources together with the harness
(perfbench/build.sbt) into $CARGO_TARGET_DIR (default .bench_build) and
records the runtime classpath; later calls reuse it until a source file
changes. The harness then runs in one JVM with the launch settings below,
which are part of the benchmark definition so that every commit measured
runs identically. Everything the run writes stays under the build
directory. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build_zipf", "build_hub", "ingest_rounds")
RUN_TIMEOUT_S = 170

# Same module opens as the library's own build (Spark 4 on JDK 17).
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
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every input of the build: library sources and harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d != "target")
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("library sources (src/main/scala) not found next to perfbench/")
        sys.exit(2)
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "perfbench.classpath")
    stamp_file = os.path.join(bdir, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    log("building harness and library sources with sbt")
    t0 = time.time()
    env = dict(os.environ, CARGO_TARGET_DIR=bdir)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         "-Dsbt.supershell=false", "-Dsbt.color=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=840)
    if proc.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        log("build failed")
        sys.exit(3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log("build took %.1f s" % (time.time() - t0))
    with open(cp_file) as cf:
        return cf.read().strip()


def run_harness(cp, args, workload, seed, seconds, trace, smoke):
    bdir = build_dir()
    work = os.path.join(bdir, "work", "%s-%d" % (
        "smoke" if smoke else workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx" + args.driver_mem,
        "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--master", args.master,
        "--shuffle-partitions", str(args.shuffle_partitions),
        "--work", work,
    ]
    if smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("%s: timed out after %d s" % (workload, RUN_TIMEOUT_S))
        return 4, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    for line in lines[:-1]:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload, output checks; "
                    "--trace applies")
    # Launch settings: fixed here so parent and change run identically.
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-mem", default="3g")
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")

    cp = ensure_built()
    if args.smoke:
        # One JVM runs every workload in turn, so the cold start is paid once.
        t0 = time.time()
        code, res = run_harness(cp, args, ",".join(WORKLOADS), args.seed, 1,
                                args.trace, True)
        ok = code == 0 and res is not None and res["correct"]
        log("smoke: %s in %.1f s" % ("ok" if ok else "FAILED", time.time() - t0))
        print(json.dumps({"smoke": "ok" if ok else "failed"}))
        sys.exit(0 if ok else 1)

    code, res = run_harness(cp, args, args.workload, args.seed, args.seconds,
                            args.trace, False)
    if res is not None:
        print(json.dumps(res))
    if res is None or code != 0 or not res["correct"]:
        log("%s: harness exited with code %s" % (args.workload, code))
        sys.exit(code or 1)


if __name__ == "__main__":
    main()
