#!/usr/bin/env python3
"""End-to-end benchmark of the live page-view pipeline.

    python3 pipebench/run.py --workload live_pipeline --seed 1 --seconds 10 --trace 0

Builds the program and the harness (see build.py), runs one workload in a
fresh JVM on `GraftSession.local()` and prints, as the last line of stdout,
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
Workloads and metrics are described in pipebench/README.md.

Everything it writes stays under `.bench_build/` in the checkout; the JVM's
log goes to `.bench_build/pipebench/logs/`.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("live_pipeline", "backlog_drain", "publish_http")
RUN_TIMEOUT_S = 160

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--break-expected", action="store_true",
                   help="add 1 to every expected count: the correctness "
                        "gate must then fail the run")
    return p.parse_args(argv)


def check_result(res):
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    for name, m in res["metrics"].items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise ValueError(f"metric {name} has no numeric value: {v!r}")
    if res["attempted"] < 1:
        raise ValueError("nothing attempted")


def main(argv):
    args = parse_args(argv)
    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[pipebench] build: {e}", file=sys.stderr)
        return 2

    base = build.BUILD
    work = os.path.join(base, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    logs = os.path.join(base, "logs")
    for d in (tmp, local, logs):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(
        logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")

    # heap fixed so GC sizing does not drift between runs; the two HotSpot
    # settings are the ones build.sbt runs the program with
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           "-XX:ActiveProcessorCount=4", "-Xss4m",
           "-XX:PerMethodRecompilationCutoff=10000",
           "-XX:ReservedCodeCacheSize=512m"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", classpath, "pipebench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work,
            os.path.join(build.ROOT, ".bench_build", "traces")]
    if args.break_expected:
        cmd.append("--break-expected")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)

    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    env=env, cwd=work, start_new_session=True)
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        if proc.returncode != 0:
            raise RuntimeError(f"harness exited {proc.returncode}")
        lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
        if not lines:
            raise RuntimeError("harness printed no result")
        res = json.loads(lines[-1])
        check_result(res)
    except (subprocess.TimeoutExpired, RuntimeError, ValueError) as e:
        print(f"[pipebench] {args.workload}: {e}; log: {log_path}", file=sys.stderr)
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
