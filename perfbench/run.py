"""Log-service benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload produce_tail --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload consume_catchup --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --workload produce_tail --seed 1 --seconds 5 --trace 0 --plant wrong_payload
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), then runs
the coordinator JVM, which starts the log service and a separate generator
JVM. The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is 0 only when every output check passed.
Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--plant", choices=["wrong_payload", "gap"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        cp, key = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    os.makedirs(build.OUT_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=build.OUT_ROOT)
    jvm = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.commit={commit()}", f"-Dperfbench.source={key}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties")]
    jvm += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    jvm += ["-cp", os.pathsep.join(cp)]
    if a.selftest:
        cmd = jvm + ["perfbench.SelfTest"]
    else:
        cmd = jvm + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace]
        if a.plant:
            cmd += ["--plant", a.plant]
    p = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        code = 3
    finally:
        # The coordinator's process group also holds the generator JVM.
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
