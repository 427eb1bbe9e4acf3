"""Run one benchmark run and print its result as the last stdout line.

    python3 loopbench/run.py --workload extract|serve --seed N \
        --seconds S --trace 0|1

Builds the program from source when needed (loopbench/build.py), runs
the harness JVM with fixed heap and steadiness settings, checks that the
printed metrics match BENCHMARK.json by name and unit, and prints
{"correct", "attempted", "failed", "metrics"}. The full run record
(controls, host evidence, per-op rows, spans) is kept under
.loopbench/records/. Exits non-zero without a result on any failure.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
HEAP = "2g"
RUN_LIMIT_S = 170     # one run, build excluded
BUILD_RUN_LIMIT_S = 880  # a run that also built
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = bench["per_layer"] if trace else bench["end_to_end"]
    return {m["name"]: m["unit"] for m in names}, [w["name"] for w in bench["workloads"]]


def validate(result, trace):
    want, _ = expected_metrics(trace)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys %s" % sorted(result))
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(result["failed"], int) or not isinstance(result["correct"], bool):
        raise ValueError("failed/correct have the wrong type")
    got = result["metrics"]
    if set(got) != set(want):
        raise ValueError("metric names differ from BENCHMARK.json: missing %s, extra %s"
                         % (sorted(set(want) - set(got)), sorted(set(got) - set(want))))
    for name, m in got.items():
        if m.get("unit") != want[name]:
            raise ValueError("%s has unit %s, BENCHMARK.json says %s" % (name, m.get("unit"), want[name]))
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError("%s has no finite value: %r" % (name, v))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()
    t0 = time.time()

    def on_signal(signum, _frame):
        for proc in list(build.CHILDREN):
            build.stop(proc)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    _, workloads = expected_metrics(a.trace)
    if a.workload not in workloads:
        print("unknown workload %s (have %s)" % (a.workload, workloads), file=sys.stderr)
        return 2
    built_before = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 1
    limit = BUILD_RUN_LIMIT_S if time.time() - built_before > 5 else RUN_LIMIT_S
    deadline = t0 + limit

    work = os.path.join(build.OUT, "work-%d" % os.getpid())
    record = os.path.join(build.OUT, "records", "%s-seed%d-trace%d-%d.json"
                          % (a.workload, a.seed, a.trace, int(t0)))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graft.loopbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--record", record]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    out = b""
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                    cwd=work, start_new_session=True)
            build.CHILDREN.append(proc)
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                build.stop(proc)
                print("run exceeded %d s" % limit, file=sys.stderr)
                return 3
            finally:
                if proc in build.CHILDREN:
                    build.CHILDREN.remove(proc)
        if proc.returncode != 0:
            with open(log_path, "rb") as f:
                sys.stderr.write(f.read()[-6000:].decode(errors="replace"))
            print("harness exited with %d" % proc.returncode, file=sys.stderr)
            return 4
        lines = [l for l in out.decode(errors="replace").splitlines() if l.startswith("{")]
        if not lines:
            print("harness printed no result", file=sys.stderr)
            return 4
        result = json.loads(lines[-1])
        try:
            validate(result, a.trace)
        except ValueError as e:
            print("invalid result: %s" % e, file=sys.stderr)
            return 5
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("run record: %s" % os.path.relpath(record, ROOT), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
