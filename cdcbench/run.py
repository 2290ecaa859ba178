#!/usr/bin/env python3
"""The CDC benchmark's one command.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline, against the local ivy/coursier cache
and the Spark jars the build file names); later runs reuse the build while no
source is newer than it. Each run starts one JVM at local[nproc], prints every
metric as a `# ` line and, as the last line of stdout, one JSON object. With
`--trace 1` on bulk-replay it also runs the single-core scaling leg in its
own JVM and prints `bulk.scaling_eff_1_to_n`.

Build outputs, work directories and spans go under `.bench_build/` (or
`$CARGO_TARGET_DIR` when set); the sbt build leaves `cdcbench/target/` and
`cdcbench/project/target/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORKLOADS = ["bulk-replay", "tail-cow", "tail-mor-read", "operator-queries"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# one run, legs included, stays inside this
RUN_DEADLINE_S = 170


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(build_dir):
    """Compile program + harness; returns the runtime classpath."""
    sources = [os.path.join(REPO, "src", "main", "scala"), os.path.join(BENCH, "src", "main"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        log("no program sources at src/main/scala/graft: nothing to build")
        sys.exit(2)
    stamp = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_mtime(sources):
        return open(stamp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                        stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        log(f"build failed (sbt exit {rc})")
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(build_dir, exist_ok=True)
    shutil.copyfile(os.path.join(BENCH, "target", "classpath.txt"), stamp)
    return open(stamp).read().strip()


def run_jvm(classpath, build_dir, args, deadline):
    """One benchmark JVM; returns (exit code, stdout lines)."""
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}-{args.cores or 'n'}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", "1" if args.trace else "0", "--work", work,
            "--data", os.path.join(BENCH, "data")]
    if args.cores:
        cmd += ["--cores", str(args.cores)]
    if args.leg:
        cmd += ["--leg"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{args.workload} JVM passed the run deadline and was stopped")
        return 4, []
    finally:
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "trace"), exist_ok=True)
            shutil.copyfile(spans, os.path.join(
                build_dir, "trace", f"{args.workload}-seed{args.seed}.spans.json"))
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def last_json(lines):
    for line in reversed(lines):
        if line.startswith("{"):
            return json.loads(line)
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # the main run uses local[nproc]; only the single-core leg sets cores
    args.cores, args.leg = 0, False
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(REPO, ".bench_build"))
    classpath = build(build_dir)
    deadline = time.time() + RUN_DEADLINE_S

    rc, lines = run_jvm(classpath, build_dir, args, deadline)
    result = last_json(lines)
    if result is None:
        log(f"{args.workload} printed no result (exit {rc})")
        sys.exit(rc or 5)
    for line in lines:
        if not line.startswith("{"):
            print(line)

    if args.trace and args.workload == "bulk-replay" and rc == 0:
        # the single-core leg, in its own JVM and traced like this run, so
        # that both rates carry the same tracing overhead
        n = os.cpu_count()
        leg = argparse.Namespace(**vars(args))
        leg.leg, leg.cores, leg.seconds = True, 1, max(4, args.seconds // 2)
        leg_rc, leg_lines = run_jvm(classpath, build_dir, leg, deadline)
        leg_res = last_json(leg_lines)
        if leg_rc == 0 and leg_res:
            eps1 = leg_res["metrics"]["events_per_s"]["value"]
            epsn = result["metrics"]["trace.events_per_s"]["value"]
            print(f"# bulk.scaling_eff_1_to_n = {epsn / (n * eps1):.4f} ratio "
                  f"(local[1] {eps1:.0f} events/s, local[{n}] {epsn:.0f} events/s, "
                  f"both traced, one JVM each)")
        else:
            print("# bulk.scaling_eff_1_to_n: not measured (the single-core leg failed or ran "
                  "out of the run's time)")
    print(json.dumps(result))
    sys.exit(rc)


if __name__ == "__main__":
    main()
