#!/usr/bin/env python3
"""Self-test of the benchmark's generator and checkers.

    python3 perfbench/selftest.py

Run it from the root of a checkout. It checks that:
  1. the same seed gives byte-identical STIX bundles;
  2. a different seed gives different bundles;
  3. a planted wrong answer shows up as a failed operation
     (pipeline workload, one corrupted expected answer).
Exits 0 when all three hold.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def gen(launch, out, seed):
    os.makedirs(out)
    cmd = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}"] + launch["java_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
              "--gen", out, "--seed", str(seed)])
    subprocess.run(cmd, check=True, timeout=120)
    return sorted(os.listdir(out))


def main():
    launch, _ = run.build()
    base = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    ok = True
    try:
        dirs = {k: os.path.join(base, k) for k in ("a", "b", "c")}
        names = gen(launch, dirs["a"], 7)
        gen(launch, dirs["b"], 7)
        gen(launch, dirs["c"], 8)
        same = filecmp.cmpfiles(dirs["a"], dirs["b"], names, shallow=False)[0] == names
        differ = all(not filecmp.cmp(os.path.join(dirs["a"], n), os.path.join(dirs["c"], n),
                                     shallow=False) for n in names)
        print(f"[selftest] same seed, byte-identical bundles: {same} ({len(names)} files)")
        print(f"[selftest] other seed, different bundles: {differ}")
        ok = same and differ and len(names) > 0
    finally:
        shutil.rmtree(base, ignore_errors=True)

    out = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "pipeline",
                          "--seed", "1", "--seconds", "1", "--plant-wrong", "1"],
                         capture_output=True, text=True, timeout=400)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
    planted = res is not None and res["failed"] >= 1 and res["correct"] is False
    print(f"[selftest] planted wrong answer counted as failed: {planted} "
          f"({res and res['failed']} of {res and res['attempted']})")
    ok = ok and planted
    print("[selftest] " + ("ok" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
