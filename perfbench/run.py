#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <crunch_ingest|serve_mixed> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from this checkout if needed (perfbench/build.py),
runs the JVM harness (perfbench/scala) on inputs generated from the seed,
checks the program's outputs, and prints the workload's metrics by name,
then as the last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are the per-layer metrics, from a run that alternates traced
and untraced slices (trace.overhead_ms is the difference).

Everything it writes stays under .bench_build/ and .bench_work/ in the
checkout; the JVM is stopped (and waited for) before it exits.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = tuple(metrics.PRIMARY)
RUN_LIMIT_S = 175  # a run must end within 180 s, plus the build when it builds
# a fixed, pre-touched heap: no heap resizing and no first-touch page faults
# while measuring (the live heap is ~100 MB)
HEAP = "1536m"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def run_jvm(args, classes, work, limit_s):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData", "-Xss8m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
           "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.jars_dir(), "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus()), "--work", work, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: harness exceeded %ds, killed" % limit_s)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: harness exited with %s" % proc.returncode)
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, compiled = build.build()
    limit = RUN_LIMIT_S - (0 if compiled else time.monotonic() - start)

    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, classes, work, limit)
    finally:
        # keep the last run's JVM log and raw observations per workload
        for name, ext in (("jvm.log", "log"), ("result.json", "json")):
            if os.path.isfile(os.path.join(work, name)):
                shutil.copyfile(os.path.join(work, name), os.path.join(
                    ROOT, ".bench_work", "last-%s.%s" % (args.workload, ext)))
        shutil.rmtree(work, ignore_errors=True)

    if not raw.get("complete"):
        for why in raw.get("failures", []):
            print("failure: " + why, file=sys.stderr)
        raise SystemExit("perfbench: the harness did not complete the run")
    failed = raw["failed"]
    correct = failed == 0 and all(v == "ok" for v in raw["checks"].values())
    for name, value, unit, n in metrics.named(raw):
        print("%-24s %14.4f %-8s (n=%d)" % (name, value, unit, n))
    print("%-24s %14.4f %-8s" % ("run_wall_s", time.monotonic() - start, "s"))
    for why in raw.get("failures", []):
        print("failure: " + why)
    if args.trace:
        layer = metrics.per_layer(raw)
        for name in sorted(layer):
            print("%-36s %16.4f %s" % (name, layer[name], metrics.layer_unit(name)))
        out = {k: {"value": layer[k], "unit": metrics.layer_unit(k)} for k in per_layer_names()}
    else:
        out = metrics.end_to_end(raw)
    print(json.dumps({"correct": correct, "attempted": metrics.attempted(raw), "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
