"""Run one graftbench workload and print its result as one JSON line.

    python3 graftbench/run.py --workload catalog --seed 1 --seconds 9 --trace 0 \\
        --cores 4 --heap 4g --ingest-docs-per-s 400

Builds graft and the harness from source if needed (graftbench/build.py),
runs the harness in a fresh JVM, checks every output against
graftbench/expected.json, and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The run record (raw.json, result.json and, when traced,
spans.jsonl) stays under .bench_build/graftbench/runs/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("catalog", "curation", "ingest")
# the read-only sf0.1 test tables (TESTDATA.md), so every output can be checked
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
RUN_TIMEOUT_S = 170  # the harness JVM's share of a run's 180 s

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--heap", required=True)
    ap.add_argument("--ingest-docs-per-s", type=float, required=True)
    return ap.parse_args()


def java_cmd(a, classes, out):
    cores = min(a.cores, os.cpu_count() or a.cores)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return (["java", f"-Xmx{a.heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", cp, "graftbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cores", str(cores), "--sf", SF_DIR, "--out", out,
               "--ingest-docs-per-s", str(a.ingest_docs_per_s)])


def run_jvm(cmd, log_path, timeout):
    """Run the harness in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"run: harness exceeded {timeout:.0f} s (log: {log_path})")


def main():
    a = parse()
    t0 = time.monotonic()
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"run: data directory {SF_DIR} not found")
    stamp_before = os.path.join(build.CLASSES, ".stamp")
    prior = open(stamp_before).read() if os.path.exists(stamp_before) else None
    classes = build.build()
    built = prior != open(stamp_before).read()
    # a run that compiled first gets the first-run allowance
    budget = (880.0 if built else RUN_TIMEOUT_S) - (time.monotonic() - t0)

    out = os.path.join(build.OUT, "runs",
                       f"{a.workload}-s{a.seed}-t{a.trace}-{time.time_ns()}")
    os.makedirs(out)
    rc = run_jvm(java_cmd(a, classes, out), os.path.join(out, "jvm.log"), budget)
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        raise SystemExit(f"run: harness failed with code {rc}")
    for d in ("spark-local", "warehouse", "ingest", "probe-ingest"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    with open(raw_path) as fh:
        raw = json.load(fh)
    attempted, failed, problems = metrics.check(raw)
    e2e = metrics.end_to_end(raw)
    spans = metrics.load_spans(out)
    layers = metrics.per_layer(raw, spans) if a.trace else {}
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)
    tail = metrics.tail(raw)
    print(f"run: {a.workload} seed {a.seed}: {attempted} attempted, {failed} failed, "
          f"error_rate {failed / max(1, attempted):.4f}; op_p50_s over {tail['samples']} "
          f"samples, p90 {tail['p90_s']:.4g} s; record in {out}", file=sys.stderr)
    shown = layers if a.trace else e2e
    bad = [k for k, v in shown.items() if not math.isfinite(v)]
    if bad:
        raise SystemExit(f"run: no finite value for {bad}; record in {out}")
    units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()}}
    with open(os.path.join(out, "result.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "end_to_end": e2e, "tail": tail, "per_layer": layers, "attempted": attempted,
                   "failed": failed, "problems": problems}, fh, indent=1)
    if a.trace:
        import report
        report.print_report(out, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
