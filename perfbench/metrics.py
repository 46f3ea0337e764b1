"""Metric arithmetic over the raw samples the JVM harness writes.

Times in the raw file are epoch milliseconds; every metric is in seconds,
bytes, rows or a count, as named in perfbench/README.md.
"""
import statistics
from collections import defaultdict


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(window, intervals):
    """Length of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    return union_length((max(a, lo), min(b, hi)) for a, b in intervals)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["t1"] - span["t0"]) - covered(
        (span["t0"], span["t1"]), [(c["t0"], c["t1"]) for c in children])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """setup_s, run_s and op_p50_s, with their sample counts. Set-up ends
    with an untimed warm pass, so every timed pass is a warm one; the times
    come from the untraced passes."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    return {
        "setup_s": (raw["setup_s"], 1),
        "run_s": (median([p["wall_s"] for p in passes]), len(passes)),
        "op_p50_s": (median([(o["t1"] - o["t0"]) / 1e3 for o in ops]), len(ops)),
    }


def per_layer(raw, cores):
    """Per-pass layer metrics from the traced passes of a traced run."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    n = max(1, len(traced))
    lay = raw["layers"]
    stages, plans, spans = lay["stages"], lay["plans"], raw["spans"]
    stage_iv = [(s["t0"], s["t1"]) for s in stages]

    def tot(key, src=stages):
        return sum(s[key] for s in src) / n

    ops = [s for s in spans if s["name"].startswith("op:")]
    stage_wall = union_length(stage_iv) / 1e3 / n
    task_run_s = tot("run_s")
    out = {
        "plan.analysis_s": tot("analysis_s", plans),
        "plan.optimize_s": tot("optimize_s", plans),
        "plan.physical_s": tot("physical_s", plans),
        "op.build_s": sum((s["t1"] - s["t0"]) / 1e3 for s in spans if s["name"] == "build") / n,
        # an operation's driver time: its wall time no stage covers
        "driver.gap_s": sum(self_time(o, stages) for o in ops) / 1e3 / n,
        "exec.jobs": lay["jobs"] / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": tot("tasks"),
        "exec.stage_wall_s": stage_wall,
        "exec.task_cpu_s": tot("cpu_s"),
        "exec.gc_s": tot("gc_s"),
        "exec.busy_frac": task_run_s / (stage_wall * cores) if stage_wall else 0.0,
        "shuffle.write_bytes": tot("shuffle_write"),
        "shuffle.read_bytes": tot("shuffle_read"),
        "shuffle.fetch_wait_s": tot("fetch_wait_s"),
        "spill.bytes": tot("spill"),
        "scan.bytes": tot("scan_bytes"),
        "scan.rows": tot("scan_rows"),
        "trace_overhead": (median([p["wall_s"] for p in traced])
                           / median([p["wall_s"] for p in plain]) - 1.0
                           if traced and plain else 0.0),
    }
    # time per registering module (`pipeline` on the daily run)
    modules = defaultdict(float)
    for o in ops:
        parts = o["name"].split(":")
        if len(parts) == 3:
            modules[f"{parts[1]}.s"] += (o["t1"] - o["t0"]) / 1e3 / n
    out.update(modules)
    return out


DAILY_STEPS = {
    "ingest.s": "ingest", "ingest.rerun_s": "ingest.rerun", "clean.s": "clean",
    "lake.upsert_s": "lake.upsert", "lake.compact_s": "lake.compact", "screen.s": "screen",
    "store.feed_s": "store.feed", "store.fold_s": "store.fold",
    "store.compact_s": "store.compact", "serve.probe_s": "serve.probe",
}


def daily_layers(raw):
    """Per-pass step times, writes and state sizes of the daily run's traced
    passes."""
    traced = [p for p in raw["passes"] if p["traced"]]
    n = max(1, len(traced))
    traced_no = {i for i, p in enumerate(raw["passes"]) if p["traced"]}
    spans = raw["spans"]
    out = {m: sum((s["t1"] - s["t0"]) / 1e3 for s in spans if s["name"] == step) / n
           for m, step in DAILY_STEPS.items()}
    batches = [(o["t1"] - o["t0"]) / 1e3 for p in traced for o in p["ops"]]
    out["pipeline.batch_max_s"] = max(batches) if batches else 0.0
    out["write.bytes"] = sum(p["written_bytes"] for p in traced) / n
    out["write.files"] = sum(p["written_files"] for p in traced) / n
    seen = [o for o in raw["observed"] if o["pass"] in traced_no]
    decisions = [d for o in seen if "screen" in o for d in o["screen"].values()]
    screened = len(decisions)
    dups = sum(d != "accept" for d in decisions)
    out["screen.dup_frac"] = dups / screened if screened else 0.0
    finals = [o["final"] for o in seen if o.get("final")]
    if finals:
        out["lake.files"] = finals[-1]["lake_files"]
        out["store.bytes"] = finals[-1]["store_bytes"]
    return out


def write_amp(raw):
    """Bytes written to the lake and the serving stores per byte landed,
    median over the untraced passes, with the sample count."""
    amps = [p["written_bytes"] / p["landed_bytes"] for p in raw["passes"]
            if not p["traced"] and p["landed_bytes"]]
    return median(amps), len(amps)
