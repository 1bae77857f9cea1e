#!/usr/bin/env python3
"""Product-path benchmark of the engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload webhook_live --seed 1 --seconds 10 --trace 0

Workloads: webhook_live, backfill_sync (or `all` to run both in turn). The
first run builds the benchmark and the engine from source with sbt (the
build under perfbench/ depends on the repository's own build) and keeps the
classpath under .bench_build/; later runs start the JVM directly.

stdout carries a `stamp` line, a `named` line and, last, the result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Full records are written to
.bench_build/results/, spans of traced runs to .bench_build/traces/.
Exit code 1 when an output check fails, 2 when the engine sources or the
toolchain are missing, 3 on a timeout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["webhook_live", "backfill_sync"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: engine and benchmark sources, build defs."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath(sha):
    """Build once per source state; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    sha_file = os.path.join(OUT, "classpath.sha")
    if os.path.exists(cp_file) and os.path.exists(sha_file):
        with open(sha_file) as f:
            if f.read().strip() == sha:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail(2, "sbt is not on PATH")
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        # jars, not class directories: the JVM's class-data sharing archive
        # (see class_archive) only covers classes loaded from jars
        code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                               "export Runtime/fullClasspathAsJars"],
                              BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE,
                              stderr=log, stdin=subprocess.DEVNULL, text=True)
        if out:
            log.write(out)
    if code is None:
        fail(3, f"build timed out; see {log_path}")
    lines = [l for l in (out or "").splitlines() if ".jar" in l and os.pathsep in l]
    if code != 0 or not lines:
        fail(2, f"build failed (exit {code}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(sha_file, "w") as f:
        f.write(sha)
    return cp


def class_archive(sha):
    """JVM flags for a class-data-sharing archive of this build's classes.
    The first run of a build records the archive as it exits; later runs
    map it instead of loading and verifying the same classes from the jars
    again, which is most of a cold start. No engine code is involved."""
    jsa = os.path.join(OUT, f"classes-{sha}.jsa")
    tried = jsa + ".tried"
    for old in os.listdir(OUT):  # archives of earlier builds are stale
        if old.startswith("classes-") and not old.startswith(f"classes-{sha}."):
            os.remove(os.path.join(OUT, old))
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if os.path.exists(tried):
        return []
    open(tried, "w").close()
    return [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def run_one(cp, args, stamp):
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    tmp = os.path.join(OUT, "tmp", tag)
    spark_local = os.path.join(OUT, "work", tag, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    if not java:
        fail(2, "no java found")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"] + class_archive(stamp["source_sha"])
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", OUT]
    for k, v in stamp.items():
        cmd += [f"--stamp.{k}", v]
    env = dict(os.environ, SPARK_LOCAL_DIRS=spark_local)
    log_path = os.path.join(OUT, "logs", f"{tag}.log")
    with open(log_path, "w") as log:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stderr=log, stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(3, f"{args.workload} timed out after {RUN_TIMEOUT_S} s; see {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else None
    if result is None or "correct" not in result:
        fail(2 if code == 0 else code, f"{args.workload} printed no result (exit {code}); "
                                       f"see {log_path}")
    return code, lines, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(2, f"engine sources not found under {ROOT}; run from a full checkout")
    sha = source_sha()
    cp = classpath(sha)
    stamp = {"git_sha": git_sha(), "source_sha": sha}
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results, worst = {}, 0
    for w in workloads:
        code, lines, result = run_one(cp, argparse.Namespace(**{**vars(args), "workload": w}),
                                      stamp)
        for l in lines[:-1]:
            print(l)
        results[w] = result
        worst = max(worst, code)
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()}}))
    sys.exit(worst)


if __name__ == "__main__":
    main()
