#!/usr/bin/env python3
"""Flow-path benchmark: one command, run from the repository root.

    python3 flowbench/run.py --workload archive_replay --seed 1 \
        --seconds 10 --trace 0

`--workload all` runs every workload in turn. `--self-test` runs the
benchmark's own tests. The last stdout line of a run is its JSON record;
the line before it carries the run metadata. Exit code 0 only when every
result matched the generator's ground truth.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["archive_replay", "live_alerts"]
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m",
    "-Dlog4j2.configurationFile=flowbench/log4j2.properties",
    "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def commit():
    """HEAD of the checkout when it is a git work tree, else unknown."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], text=True,
                             stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def java(main, args, timeout):
    """Run a benchmark main; returns (exit code, stdout lines)."""
    cmd = ["java", *JVM_OPTS, *build.tmp_opts(), "-cp", build.classpath(),
           main, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write(f"flowbench: {main} exceeded {timeout} s\n")
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(build.TMP, ignore_errors=True)
    return proc.returncode, out.splitlines()


def run_one(a, workload):
    tag = f"{workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.OUT, "work", tag)
    code, lines = java("flowbench.Main", [
        "--workload", workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--commit", commit(),
        "--out", os.path.join(build.OUT, "out")], RUN_TIMEOUT_S)
    records = [ln for ln in lines if ln.startswith("{")]
    if len(records) < 2:
        sys.stderr.write(f"flowbench: {workload} printed no record\n")
        return None
    meta, result = json.loads(records[-2]), json.loads(records[-1])
    os.makedirs(os.path.join(build.OUT, "records"), exist_ok=True)
    with open(os.path.join(build.OUT, "records", tag + ".json"), "w") as fh:
        json.dump({"meta": meta["flowbench_meta"], "result": result}, fh)
    return records[-2], records[-1], code == 0 and result["correct"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="all",
                   choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    build.build()
    if a.self_test:
        code, lines = java("flowbench.SelfTest", [], 900)
        print("\n".join(lines))
        return code
    ok = True
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        rec = run_one(a, w)
        if rec is None:
            ok = False
            continue
        meta, result, good = rec
        ok = ok and good
        print(meta)
        print(result, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
