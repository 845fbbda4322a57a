"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness from source if they changed (build.py),
generates the seeded inputs (datagen.py, cached per seed), then runs one
JVM — `local[nproc]`, one client thread — that sets up, warms up, measures
for `--seconds`, checks every output and writes the result. The last line
printed is the result JSON; every metric is also printed by name with its
unit on a `metric` line before it. Run from the repository root.
"""
import argparse
import ctypes
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["ingest_stream", "batch_read"]
DEADLINE_S = 170
JAVA_OPTS = ["-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def _die_with_parent():
    """Have the kernel kill the JVM if this process dies first."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def data_dir(seed):
    """Generated inputs for `seed`, made once per generator and oracle
    version (the oracle's results are cached beside them)."""
    h = hashlib.sha256()
    for mod in (datagen, oracle):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    version = h.hexdigest()[:12]
    path = os.path.join(build.BUILD, "data", f"{version}-{seed}")
    if not os.path.exists(os.path.join(path, "done")):
        shutil.rmtree(path, ignore_errors=True)
        datagen.generate(path, seed)
        open(os.path.join(path, "done"), "w").close()
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    data = data_dir(args.seed)
    started = time.time()   # the deadline covers the run, not the build
    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "runs", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    log = os.path.join(build.BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
                                  "perfbench.Main", "--workload", args.workload,
                                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                                  "--trace", args.trace, "--data", data, "--work", work,
                                  "--out", result,
                                  "--trace-file", os.path.join(build.BUILD, f"trace-{tag}.jsonl")]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                                preexec_fn=_die_with_parent)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"benchmark timed out; log: {log}")
    sys.stdout.write("".join(l + "\n" for l in out.splitlines()
                             if l.startswith(("metric ", "info "))))
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark failed (exit {proc.returncode}); log: {log}")
    with open(result) as f:
        line = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
