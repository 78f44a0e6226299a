#!/usr/bin/env python3
"""Runs one benchmark workload of this repository and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. On first use (or when a Scala source or
build file is newer than the last build) it builds the repository and the
benchmark with sbt, from `perfbench/build.sbt`, and records the JVM options
of the repository's forked `run` and the runtime classpath in
`perfbench/target/launch.txt`. Every run then starts one JVM with exactly
those options, in which `perfbench.Main` runs the workload.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; everything else goes to
standard error. The exit code is 0 only when every operation succeeded and
every output check matched.

`fleet_sf01` reads the sf0.1 tables from $PERFBENCH_SF_DIR, by default
~/testdata/sf0.1 (see TESTDATA.md); everything a run writes stays in
.perfbench_work/ at the root of the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("ea1141", "fleet_sf01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
WORK = os.path.join(ROOT, ".perfbench_work")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # The repository's build.sbt sizes the heap from this variable.
    env.setdefault("SPARK_DRIVER_MEM", "4g")
    log("building with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        log(f"build failed (exit {r.returncode})")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f} s")


def launch_command(args):
    opts, cp = [], []
    with open(LAUNCH) as f:
        for line in f:
            kind, _, value = line.rstrip("\n").partition(" ")
            (opts if kind == "opt" else cp).append(value)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp),
                               "perfbench.Main",
                               "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--work", WORK, "--bench", BENCH])


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("run this from the root of a checkout of the repository: "
            "no build.sbt or src/main/scala/graft here")
        sys.exit(2)
    if not os.path.isfile(LAUNCH) or os.path.getmtime(LAUNCH) < newest_source_mtime():
        build()

    shutil.rmtree(WORK, ignore_errors=True)
    child = subprocess.Popen(launch_command(args), cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=sys.stderr, text=True)
    try:
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        log(f"workload did not finish within {RUN_TIMEOUT_S} s")
        sys.exit(3)
    lines = [l for l in out.splitlines() if l.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"no result line (exit {child.returncode})")
        sys.exit(child.returncode or 4)
    print(json.dumps(result))
    sys.exit(child.returncode if child.returncode else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
