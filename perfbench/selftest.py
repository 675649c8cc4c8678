"""Self-test of the graft benchmark.

    python3 perfbench/selftest.py

Runs every workload on tiny inputs (about a hundredth of the normal size),
untraced and traced, and checks that:
  - the last line is the result object, every operation passed its check,
    and every metric named in BENCHMARK.json is printed with its unit;
  - the end-to-end report carries every end-to-end figure that applies to
    the workload, with its unit, and the sample counts;
  - the traced run's report carries every per-layer figure with its unit,
    and each operation's make, job and driver-gap self times sum to its
    wall;
  - a planted wrong result (--plant 1) is caught: `failed` > 0 and the
    cause is reported.
Exits non-zero on the first failed expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]

# every end-to-end figure defined in layers.json, and the workloads it
# applies to (None: all)
REPORTED = {
    "setup_s": None, "lat_p50_ms": None, "lat_tail_ms": None,
    "read_p50_ms": None, "ops_per_s": None, "failed_ratio": None,
    "bytes_stored_ratio": None, "rss_peak_mb": None,
    "build_s": {"index_serve"},
    "write_p50_ms": {"log_produce", "index_serve"},
    "docs_per_s": {"corpus_batch"},
}
WORKLOADS = ["log_consume", "log_produce", "index_serve", "corpus_batch"]

# every per-layer figure defined in layers.json (the traced run's report
# line); the result line carries the ones BENCHMARK.json gates
PER_LAYER = [
    "graft.make_ms", "api.make_ms", "operators.make_ms", "driver.gap_ms",
    "driver.gap_share", "sched.jobs_per_op", "sched.stages_per_op",
    "sched.tasks_per_op", "sched.job_ms", "sources.files_read",
    "sources.bytes_read", "sources.rows_read", "sources.rows_read_per_result",
    "sources.write_ms", "sources.files_written", "sources.bytes_written",
    "sources.files_live", "sources.build_ms", "sources.append_ms",
    "sources.catalog_ops", "index.rows_scanned_per_result",
    "exchange.shuffles_per_op", "exchange.shuffle_write_bytes",
    "exchange.shuffle_read_bytes", "compute.executor_cpu_ms",
    "compute.executor_run_ms", "compute.core_util", "compute.spill_bytes",
    "compute.gc_ms", "trace.overhead_share",
]


def fail(msg):
    sys.stderr.write("selftest: FAIL " + msg + "\n")
    sys.exit(1)


def run(workload, trace, plant=0, seconds=4):
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds",
                 str(seconds), "--trace", str(trace), "--scale", "tiny",
                 "--plant", str(plant)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=400)
    if p.returncode != 0:
        fail("%s trace=%d exited %d:\n%s" % (workload, trace, p.returncode,
                                             p.stderr[-3000:]))
    lines = [json.loads(l) for l in p.stdout.strip().splitlines()]
    reports = {l["report"]: l for l in lines[:-1] if "report" in l}
    return lines[-1], reports


def check_metrics(where, metrics, spec):
    for m in spec:
        got = metrics.get(m["name"])
        if got is None or got.get("unit") != m["unit"] or \
                not isinstance(got.get("value"), (int, float)):
            fail("%s: metric %s missing or without unit %s: %r"
                 % (where, m["name"], m["unit"], got))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in WORKLOADS:
        res, rep = run(w, 0)
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            fail("%s: result keys %s" % (w, sorted(res)))
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            fail("%s: %r" % (w, rep.get("failures")))
        if w in [x["name"] for x in bench["workloads"]]:
            check_metrics(w, res["metrics"], bench["end_to_end"])
        e2e = rep["end_to_end"]
        for name, only in REPORTED.items():
            if only is not None and w not in only:
                continue
            v = e2e.get(name)
            if not isinstance(v, dict) or "unit" not in v:
                fail("%s: end-to-end report lacks %s" % (w, name))
        for k in ("timed_ops", "lat_tail_percentile", "lat_tail_samples_beyond"):
            if k not in e2e:
                fail("%s: end-to-end report lacks sample count %s" % (w, k))
        for k in ("nproc", "load1_at_start", "other_jvms_at_start", "jvm",
                  "spark"):
            if k not in rep["env"]:
                fail("%s: environment lacks %s" % (w, k))

        res, rep = run(w, 1)
        check_metrics(w + " traced", res["metrics"], bench["per_layer"])
        layers = rep["per_layer"]
        for name in PER_LAYER:
            v = layers.get(name)
            if not isinstance(v, dict) or "unit" not in v:
                fail("%s: per-layer report lacks %s" % (w, name))
        spans = layers["spans_file"]
        n = 0
        with open(os.path.join(ROOT, spans)) as f:
            for line in f:
                s = json.loads(line)
                if s.get("check") != "self_sum":
                    continue
                n += 1
                parts = s["make_self_ms"] + s["job_ms"] + s["gap_ms"]
                if abs(parts - s["wall_ms"]) > 0.01 or min(
                        s["make_self_ms"], s["job_ms"]) < 0 or s["gap_ms"] < -2:
                    fail("%s: op %d self times %r do not sum to its wall"
                         % (w, s["op"], s))
        if n == 0:
            fail("%s: traced run wrote no operation spans" % w)
        print("selftest: %s ok (%d traced operations)" % (w, n))

    res, rep = run("log_consume", 0, plant=1)
    causes = rep["failures"]["causes"]
    if res["failed"] == 0 or res["correct"] or \
            not any("wrong result" in c for c in causes):
        fail("a planted wrong result was not caught: %r" % (rep["failures"],))
    print("selftest: planted wrong results caught (%d of %d operations)"
          % (res["failed"], res["attempted"]))
    print("selftest: ok")


if __name__ == "__main__":
    main()
