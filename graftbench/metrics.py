"""Turn a run record (raw.json written by the harness) into metrics.

End-to-end metrics come from the measured window of every run; per-layer
metrics from the traced run's listener counters, spans and probes. The
correctness check compares every op against the pinned expectations.
"""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "heap_retained_mb": "MB",
}

PER_LAYER = {
    "plans.plan_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_run_s": "s",
    "spark.core_util": "ratio",
    "spark.storage_held_mb": "MB",
    "spark.storage_retained_mb": "MB",
    "artifacts.lm_train_s": "s",
    "artifacts.dsir_train_s": "s",
    "artifacts.ppl_cuts_train_s": "s",
    "artifacts.ensemble_build_s": "s",
    "artifacts.cold_extra_s": "s",
    "functions.ensemble_rows_per_s": "1/s",
    "functions.bpe_ids_rows_per_s": "1/s",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.state_mem_mb": "MB",
    "streaming.generator_late_s": "s",
    "streaming.backlog_files_end": "count",
    "sources.latest_offset_ms_p50": "ms",
    "sources.shard_mb": "MB",
    "sources.shard_files": "count",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.pass_drift": "ratio",
    "tables.scan_rows_per_s": "1/s",
}

MB = 1048576.0


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latency(op):
    return op["build"] + op["plan"] + op["exec"]


def measured_ops(raw):
    """The ops of the measured window: the catalog loop, curation's warm passes."""
    ops = raw["work"].get("ops", [])
    return [o for o in ops if o["phase"] in ("loop", "warm")]


def end_to_end(raw):
    w = raw["work"]
    m = {"setup_s": raw["setup_s"], "heap_retained_mb": raw["heap_retained_mb"]}
    if raw["workload"] == "ingest":
        lag = [x for x in w["lag_s"] if x is not None]
        m.update(cold_s=w["train_s"], ops_per_s=w["drain_docs"] / w["drain_s"],
                 op_p50_s=pct(lag, 0.5))
    else:
        lat = [latency(o) for o in measured_ops(raw)]
        # closed loop: clients / mean latency (Little's law). Unlike ops over
        # wall time it leaves out the idle tail of a client that finished
        # the last round while the other still ran its final op.
        clients = w.get("clients", 1)
        m.update(cold_s=w["cold_s"], ops_per_s=clients * len(lat) / sum(lat),
                 op_p50_s=pct(lat, 0.5))
    return {k: m[k] for k in END_TO_END}


def tail(raw):
    """Sample count and p90 of the op latencies behind op_p50_s. Not an
    end-to-end metric: at these run lengths fewer than ten samples lie
    beyond p90, so it is reported, not gated."""
    if raw["workload"] == "ingest":
        xs = [x for x in raw["work"]["lag_s"] if x is not None]
    else:
        xs = [latency(o) for o in measured_ops(raw)]
    return {"samples": len(xs), "p90_s": pct(xs, 0.9)}


def _thirds_drift(xs):
    """Median of the last third over median of the first third."""
    if len(xs) < 3:
        return float("nan")
    k = len(xs) // 3
    return statistics.median(xs[-k:]) / statistics.median(xs[:k])


def _streaming(ing):
    """Streaming and source metrics from one ingest record."""
    batches = [b for b in ing["batches"] if b["query"] == ing["paced_query"]]
    rows = [b for b in batches if b["rows"] > 0]
    return {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch_p50": pct([b["rows"] for b in rows], 0.5),
        "streaming.add_batch_ms_p50": pct([b["add_batch_ms"] for b in rows], 0.5),
        "streaming.trigger_ms_p50": pct([b["trigger_ms"] for b in rows], 0.5),
        "streaming.state_mem_mb": max([b["state_bytes"] for b in batches] or [0]) / MB,
        "streaming.generator_late_s": ing["generator_late_s"],
        "streaming.backlog_files_end": ing["backlog_files_end"],
        "sources.latest_offset_ms_p50": pct([b["latest_offset_ms"] for b in batches], 0.5),
        "sources.shard_mb": ing["shard_bytes"] / MB,
        "sources.shard_files": ing["shard_files"],
    }


def load_spans(run_dir):
    path = os.path.join(run_dir, "spans.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def per_layer(raw, spans):
    w, p, meas = raw["work"], raw["probes"], raw["measured"]
    c = meas["counters"]
    wall = meas["end"] - meas["start"]
    ops = measured_ops(raw)
    if raw["workload"] == "ingest":
        ing = w
        # no graft queries here: the op layers are read off the probes
        probe = [s for s in spans if s["op"].startswith("probe:")]
        def mean_span(name):
            xs = [s["end"] - s["start"] for s in probe if s["name"] == name]
            return statistics.fmean(xs) if xs else float("nan")
        plan_s, build_s, exec_s = mean_span("plan"), mean_span("build"), mean_span("exec")
        units = max(1, len(w["batches"]))  # micro-batches of both phases
        trig = [b["trigger_ms"] for b in w["batches"]
                if b["query"] == w["paced_query"] and b["rows"] > 0]
        drift = _thirds_drift(trig)
        cold_extra = sum(v - statistics.median(v2) for v, v2 in _first_rest(probe))
    else:
        ing = p["ingest"]
        plan_s = statistics.fmean(o["plan"] for o in ops)
        build_s = statistics.fmean(o["build"] for o in ops)
        exec_s = statistics.fmean(o["exec"] for o in ops)
        units = len(ops)
        if raw["workload"] == "curation":
            passes = w["warm_pass_s"]
            drift = passes[-1] / passes[0]
        else:
            drift = _thirds_drift([latency(o) for o in ops])
        by_name = {}
        for o in w["ops"]:
            by_name.setdefault(o["name"], []).append(latency(o))
        cold_extra = sum(v[0] - statistics.median(v[1:]) for v in by_name.values() if len(v) > 1)
    held = [o["storage_mb"] for o in w.get("ops", [])]
    m = {
        "plans.plan_s": plan_s,
        "operators.build_s": build_s,
        "operators.exec_s": exec_s,
        "spark.jobs": c["jobs"] / units,
        "spark.stages": c["stages"] / units,
        "spark.tasks": c["tasks"] / units,
        "spark.shuffle_write_mb": c["shuffle_write_bytes"] / MB / units,
        "spark.shuffle_read_mb": c["shuffle_read_bytes"] / MB / units,
        "spark.spill_mb": c["spill_bytes"] / MB / units,
        "spark.task_run_s": c["task_run_ms"] / 1e3 / units,
        "spark.core_util": c["task_run_ms"] / 1e3 / (wall * raw["cores"]),
        "spark.storage_held_mb": max(held) if held else raw["storage_retained_mb"],
        "spark.storage_retained_mb": raw["storage_retained_mb"],
        "artifacts.lm_train_s": p["lm_train_s"],
        "artifacts.dsir_train_s": p["dsir_train_s"],
        "artifacts.ppl_cuts_train_s": p["ppl_cuts_train_s"],
        "artifacts.ensemble_build_s": p["ensemble_build_s"],
        "artifacts.cold_extra_s": cold_extra,
        "functions.ensemble_rows_per_s": p["ensemble_rows_per_s"],
        "functions.bpe_ids_rows_per_s": p["bpe_ids_rows_per_s"],
        "jvm.gc_s": meas["gc_s"],
        "jvm.heap_peak_mb": meas["heap_peak_mb"],
        "jvm.pass_drift": drift,
        "tables.scan_rows_per_s": p["scan_rows_per_s"],
    }
    m.update(_streaming(ing))
    return {k: m[k] for k in PER_LAYER}


def _first_rest(spans):
    """(first duration, later durations) per repeated probe span name."""
    by = {}
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["parent"] == 0:
            by.setdefault(s["name"], []).append(s["end"] - s["start"])
    return [(v[0], v[1:]) for v in by.values() if len(v) > 1]


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def _ingest_problems(ing, exp):
    """Failed checks of one ingest record, as (files affected, reason)."""
    out = []
    gated, copies = exp["ingest"]["gated_per_copy"], ing["copies"]
    if ing["gated_per_copy"] != gated:
        out.append((ing["drain_files"] + ing["paced_files"],
                    f"gate kept {ing['gated_per_copy']} docs per copy, expected {gated}"))
    if ing["drain_rows"] != gated * copies:
        out.append((ing["drain_files"],
                    f"drain landed {ing['drain_rows']} shard rows, expected {gated * copies}"))
    if ing["over_budget"] or ing["dup_sources"]:
        out.append((ing["paced_files"], f"budget broken: over={ing['over_budget']} "
                                        f"duplicated={ing['dup_sources']}"))
    if ing["uncommitted_files"] or ing["paced_rows"] <= 0:
        out.append((ing["paced_files"], f"paced phase: {ing['uncommitted_files']} files "
                                        f"never committed, {ing['paced_rows']} rows"))
    return out


def check(raw, exp=None):
    """Return (attempted, failed, problems) against the pinned outputs."""
    exp = exp or load_expected()
    attempted, failed, problems = 0, 0, []
    for o in raw["work"].get("ops", []):
        attempted += 1
        e = exp["ops"].get(o["name"])
        why = None
        if o["err"]:
            why = o["err"]
        elif e is None:
            why = "no pinned expectation"
        elif o["rows"] != e["rows"]:
            why = f"rows {o['rows']} != {e['rows']}"
        elif e["check"] == "hash" and o["hash"] != e["hash"]:
            why = f"hash {o['hash']} != {e['hash']}"
        if why:
            failed += 1
            problems.append(f"{o['key']}: {why}")
    ingests = [raw["work"]] if raw["workload"] == "ingest" else []
    if raw["probes"].get("ingest"):
        ingests.append(raw["probes"]["ingest"])
    for ing in ingests:
        attempted += ing["drain_files"] + ing["paced_files"]
        bad = _ingest_problems(ing, exp)
        failed += min(sum(n for n, _ in bad), ing["drain_files"] + ing["paced_files"])
        problems += [why for _, why in bad]
    return attempted, failed, problems
