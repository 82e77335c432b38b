#!/usr/bin/env python3
"""Run one benchmark workload against the program in the current checkout.

    python3 perfbench/run.py --workload hunt --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. The first run compiles the program and
the benchmark with sbt (its own build in perfbench/) and caches the launch
classpath under .bench_build/; later runs start the JVM directly. The last
line of standard output is one JSON object with the keys correct, attempted,
failed and metrics. The exit code is not 0, and no result is printed, when
the program cannot be built or a run fails.
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
import uuid

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("hunt", "pipeline")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Files whose content decides the build: program and benchmark."""
    files = []
    for top in ("build.sbt", os.path.join("project", "build.properties")):
        files.append(os.path.join(ROOT, top))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HERE):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    files.append(os.path.join(HERE, "project", "build.properties"))
    return sorted(set(f for f in files if os.path.isfile(f)))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; return the launch description."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources here: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    launch_f = os.path.join(BUILD, "launch.json")
    stamp_f = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.isfile(launch_f) and os.path.isfile(stamp_f):
        with open(stamp_f) as fh:
            if fh.read().strip() == want:
                with open(launch_f) as lf:
                    return json.load(lf), want
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_f = os.path.join(BUILD, "build.log")
    t0 = time.time()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_f, "w") as log:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                        "-J-XX:-UsePerfData", "benchLaunch"],
                       cwd=HERE, env=env, stdout=log, timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(launch_f):
        with open(log_f, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (rc {rc})")
    with open(stamp_f, "w") as fh:
        fh.write(want + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(launch_f) as lf:
        return json.load(lf), want


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def revision(src_stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + src_stamp[:12]


def main():
    # a terminated runner takes its children down with it (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0,
                    help="self-test: corrupt one expected answer")
    args = ap.parse_args()

    launch, src_stamp = build()
    work = os.path.join(BUILD, "work", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + launch["java_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", ROOT, "--work", work, "--out", os.path.join(BUILD, "records"),
              "--rev", revision(src_stamp), "--plant-wrong", str(args.plant_wrong)])
    out_f = os.path.join(BUILD, "work", os.path.basename(work) + ".out")
    try:
        with open(out_f, "w") as out:
            rc = run_child(cmd, timeout=RUN_TIMEOUT_S, cwd=ROOT, stdout=out)
        with open(out_f) as fh:
            lines = [l.rstrip("\n") for l in fh if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out_f):
            os.remove(out_f)
    if rc != 0 or not lines:
        fail(f"run failed (rc {rc})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("run printed no result")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
