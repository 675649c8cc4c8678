"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload log_consume --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (see
build.py), then runs the workload in one JVM: one client thread in a closed
loop over one local SparkSession with one core per available CPU. Inputs are
generated from --seed into a scratch directory under .bench_build/ and
removed afterwards. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
BENCHMARK.json names, or with --trace 1 its per-layer ones); the lines
before it are JSON reports: the environment, every end-to-end figure with
its sample counts, the failure causes and, when traced, every per-layer
figure and the file the spans were written to.

Extra flags, used by selftest.py: --scale tiny runs on inputs about a
hundredth of the normal size; --plant 1 corrupts a share of results before
they are checked, so the checks must report failures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("log_consume", "log_produce", "index_serve", "corpus_batch")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list of JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    jars = os.path.join(build.spark_jars(), "*")
    work = os.path.join(build.BUILD_DIR, "work",
                        "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", a.scale, "--plant", str(a.plant),
              "--work", work,
              "--trace-out", os.path.join(build.BUILD_DIR, "traces")])
    out = ""
    code = 1
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            code = proc.returncode
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write("run: workload exceeded %d s\n" % JVM_TIMEOUT_S)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-8000:])
        sys.stderr.write(out[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    lines[-1] = json.dumps(gated(json.loads(lines[-1]), a.trace))
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


def gated(result, trace):
    """The result with only the metrics BENCHMARK.json names for this kind
    of run (all of them are also on the report lines above it)."""
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return result
    with open(spec_path) as f:
        names = [m["name"] for m in
                 json.load(f)["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        raise SystemExit("run: metrics not produced: %s" % ", ".join(missing))
    result["metrics"] = {n: result["metrics"][n] for n in names}
    return result


if __name__ == "__main__":
    main()
