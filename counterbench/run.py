"""The counter-pipeline benchmark: one command per workload run.

    python3 counterbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0
    python3 counterbench/run.py --selftest

Builds the engine and the benchmark from source if needed (build.py), runs
one workload in a fresh JVM, and prints as its last stdout line one JSON
object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are BENCHMARK.json's `end_to_end` list, with `--trace 1` its
`per_layer` list. The traced run also writes its spans and every metric to
counterbench/out/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=512m", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("counterbench: " + msg, file=sys.stderr)
    sys.exit(2)


def java(main, args, work):
    """Runs one JVM main; returns its stdout lines. Stops the JVM on timeout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_RES, "log4j2.properties"),
        "-cp", build.classpath(), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("%s timed out after %d s" % (main, RUN_TIMEOUT_S))
    if proc.returncode != 0:
        fail("%s exited with %d" % (main, proc.returncode))
    return out.decode(errors="replace").splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec_file = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("no BENCHMARK.json at the repository root")
    spec = json.load(open(spec_file))
    try:
        build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e)

    work_root = os.path.join(build.BENCH, ".work")
    name = "selftest" if a.selftest else "%s-%s-%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(work_root, "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            for line in java("graftbench.SelfTest", [], work):
                print(line)
            return
        if a.workload not in [w["name"] for w in spec["workloads"]]:
            fail("unknown workload %r" % a.workload)
        if a.seed is None or a.seconds is None:
            fail("--seed and --seconds are required")
        out_dir = os.path.join(build.BENCH, "out")
        os.makedirs(out_dir, exist_ok=True)
        trace_out = os.path.join(out_dir, "trace-%s-%d.json" % (a.workload, a.seed))
        lines = java("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--trace-out", trace_out], work)
        if not lines:
            fail("no result line")
        result = json.loads(lines[-1])
        measured = result["metrics"]
        listed = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in listed:
            if m["name"] not in measured:
                fail("metric %s was not measured" % m["name"])
            v = measured[m["name"]]
            if v["value"] is None or v["unit"] != m["unit"]:
                fail("metric %s is %r, want unit %s" % (m["name"], v, m["unit"]))
            metrics[m["name"]] = v
        if a.trace:
            with open(os.path.join(out_dir, "metrics-%s-%d.json" % (a.workload, a.seed)), "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
        for k in sorted(measured):
            print("  %-40s %14.6g %s" % (k, measured[k]["value"] or 0, measured[k]["unit"]),
                  file=sys.stderr)
        print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                          "failed": int(result["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
