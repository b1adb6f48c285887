#!/usr/bin/env python3
"""Build graft from source (once per checkout) and run one benchmark workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload mask_distinct --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles the program and the benchmark with sbt, caches the
runtime classpath under $CARGO_TARGET_DIR (default `.bench_build`) and
records a class-data-sharing archive from one self-test run, which cuts JVM
start-up by several seconds. Later calls reuse both while the sources are
unchanged and start the JVM directly. The last line of standard output is
the run's JSON result.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
MAIN_CLASS = "graft.perfbench.Main"
WORKLOADS = ("mask_distinct", "mask_skewed", "curate_batch", "curate_stream")
BUILD_TIMEOUT_S = 550
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's own build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Environment that would silently change what is measured: the codec and
# passphrase (graft.Defaults switches on ETL_CONF_MASK_DATA_*) and the memo cap.
PINNED_AWAY = ("ETL_CONF_MASK_DATA_", "GRAFT_MASK_CACHE_ENTRIES")


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the program's build and sources, and the
    benchmark's own build and sources."""
    bench = os.path.relpath(BENCH_DIR, root)
    singles = ["build.sbt", os.path.join("project", "build.properties"),
               os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    trees = [os.path.join("src", "main"), os.path.join(bench, "src")]
    out = [p for p in singles if os.path.isfile(os.path.join(root, p))]
    for t in trees:
        for d, dirs, files in os.walk(os.path.join(root, t)):
            dirs.sort()
            out.extend(os.path.relpath(os.path.join(d, f), root) for f in sorted(files))
    return out


def fingerprint(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except KeyboardInterrupt:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, build_dir):
    """Compile program + benchmark; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp = fingerprint(root)
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    log_path = os.path.join(build_dir, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspathAsJars"],
                         BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env,
                         stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(log_path) as f:
        lines = [ln.strip() for ln in f if ln.strip() and not ln.startswith("[")]
    cp = lines[-1] if lines else ""
    entries = cp.split(os.pathsep)
    if not cp or not all(os.path.exists(e) for e in entries):
        fail(f"build printed no usable classpath; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    jsa = os.path.join(build_dir, "perfbench.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def heap_mb():
    """An eighth of physical memory, between 1 and 2 GiB."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        total_kb = 4 << 20
    return max(1024, min(2048, total_kb // 1024 // 8))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that a planted fault (a column left unmasked) fails the output check")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    work = os.path.join(build_dir, "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jsa = os.path.join(build_dir, "perfbench.jsa")
    if not os.path.isfile(jsa):
        rc = run_bounded(java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={jsa}"], ["--selftest"]),
                         RUN_TIMEOUT_S, cwd=root, env=java_env(), stdin=subprocess.DEVNULL,
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if rc != 0 or not os.path.isfile(jsa):
            fail(f"self-test run failed (exit {rc}); run `python3 perfbench/run.py --selftest` to see why")
    if args.selftest:
        bench_args = ["--selftest"]
    else:
        bench_args = ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace)]
    rc = run_bounded(java_cmd(cp, work, [f"-XX:SharedArchiveFile={jsa}"], bench_args),
                     RUN_TIMEOUT_S, cwd=root, env=java_env(), stdin=subprocess.DEVNULL)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
    sys.exit(rc)


def java_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith(PINNED_AWAY)}
    env["TZ"] = "UTC"
    return env


def java_cmd(cp, work, jvm_extra, bench_args):
    heap = heap_mb()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java, f"-Xmx{heap}m", f"-Xms{heap}m", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
            # JVM logging (class-sharing warnings included) must not reach stdout
            "-Xlog:disable", "-Xlog:all=error:stderr",
            # no hsperfdata file in the system temp directory
            "-XX:-UsePerfData",
            *jvm_extra, *opens, "-cp", cp, MAIN_CLASS, "--work", work, "--heap-mb", str(heap), *bench_args]


if __name__ == "__main__":
    main()
