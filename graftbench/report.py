"""Self-time report for a traced graftbench run.

    python3 graftbench/report.py <traced run dir> [<untraced run dir>...]

Prints, from the run's spans.jsonl and raw.json:
  * self time per layer and per op: a span's duration minus the part of
    it that its child spans cover;
  * the Spark listener counters per op, next to the self times;
  * the tracing overhead on each end-to-end metric: the traced run's
    value against the median of untraced runs of the same workload
    (the given run dirs, or by default every untraced run recorded under
    .bench_build/graftbench/runs).
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def self_times(spans):
    """Map span id -> (span, self seconds)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge, s["start"]), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s, s["end"] - s["start"] - covered)
    return out


def op_name(key):
    """Group op instances: 'q_scan_page#17' -> 'q_scan_page', 'batch#3' -> 'batch'."""
    return re.sub(r"#\d+$", "", key)


def _table(rows, header, file):
    widths = [max(len(str(r[i])) for r in rows + [header]) for i in range(len(header))]
    for r in [header] + rows:
        print("  ".join(str(v).rjust(w) if i else str(v).ljust(w)
                        for i, (v, w) in enumerate(zip(r, widths))), file=file)


def _untraced_runs(workload, given):
    dirs = given or glob.glob(os.path.join(HERE, os.pardir, ".bench_build", "graftbench",
                                           "runs", f"{workload}-*-t0-*"))
    out = []
    for d in dirs:
        p = os.path.join(d, "result.json")
        if os.path.exists(p):
            with open(p) as fh:
                r = json.load(fh)
            if r["workload"] == workload and r["trace"] == 0:
                out.append(r["end_to_end"])
    return out


def print_report(run_dir, untraced=(), file=sys.stdout):
    with open(os.path.join(run_dir, "raw.json")) as fh:
        raw = json.load(fh)
    spans = metrics.load_spans(run_dir)
    st = self_times(spans)

    by_layer, by_op = {}, {}
    for s, self_s in st.values():
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + self_s
        k = (op_name(s["op"]), s["layer"])
        by_op[k] = by_op.get(k, 0.0) + self_s
    print(f"== self time by layer ({raw['workload']}, seed {raw['seed']}, "
          f"{len(spans)} spans)", file=file)
    _table([[k, f"{v:.3f}"] for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1])],
           ["layer", "self_s"], file)

    counters = {}
    for key, c in raw.get("op_counters", {}).items():
        agg = counters.setdefault(op_name(key), {})
        for k, v in c.items():
            agg[k] = agg.get(k, 0) + v
    ops = sorted({k[0] for k in by_op} | set(counters))
    layers = sorted({k[1] for k in by_op})
    rows = []
    for o in ops:
        c = counters.get(o, {})
        rows.append([o] + [f"{by_op.get((o, l), 0.0):.3f}" for l in layers]
                    + [c.get("jobs", 0), c.get("stages", 0), c.get("tasks", 0),
                       f"{c.get('shuffle_write_bytes', 0) / metrics.MB:.2f}",
                       f"{c.get('spill_bytes', 0) / metrics.MB:.2f}",
                       f"{c.get('task_run_ms', 0) / 1e3:.2f}"])
    print("\n== self time (s) by op and layer, with listener counters", file=file)
    _table(rows, ["op"] + layers + ["jobs", "stages", "tasks", "shuf_w_mb", "spill_mb",
                                    "task_s"], file)

    with open(os.path.join(run_dir, "result.json")) as fh:
        traced = json.load(fh)["end_to_end"]
    base = _untraced_runs(raw["workload"], list(untraced))
    print(f"\n== tracing overhead (traced run vs median of {len(base)} untraced runs)",
          file=file)
    if not base:
        print("  no untraced run of this workload recorded yet", file=file)
        return
    rows = []
    for k, v in traced.items():
        med = statistics.median(b[k] for b in base)
        rows.append([k, f"{v:.4g}", f"{med:.4g}", f"{(v - med) / med:+.1%}"])
    _table(rows, ["metric", "traced", "untraced", "overhead"], file)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    print_report(sys.argv[1], sys.argv[2:])
