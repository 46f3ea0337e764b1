#!/usr/bin/env python3
"""Run one benchmark workload, or all of them, and print its metrics.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a project checkout. The first run builds the project
and the harness with sbt into .bench_build/ (about a minute) and generates
the fixture tables; later runs reuse both while the sources are unchanged.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. A full report
with the host block lands in .bench_build/reports/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

FIXTURE_SF = 0.01
FIXTURE_SEED = 42
HEAP = "-Xmx2g"
# The daily run's traffic. A batch is one upsert chunk of the reference
# pipeline (5000 rows per call), and 1000 of its rows, the size of the
# reference's retry chunk, re-use live keys; each batch takes down 20 served
# documents, the reference's storage delete batch (SURVEY.md, section 6).
# The base state has the sf0.01 fixture sizes, the scale of the query
# suite's fixture; gen.daily_plan derives the batch's documents and their
# duplicates from those sizes and the fixture's duplicate shares.
DAILY = dict(sf=0.01, batches=1, batch_rows=5000, updated_rows=1000, takedowns=20)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
UNITS.update({"screen.dup_frac": "frac", "lake.files": "count", "write.files": "count"})


def unit_of(name):
    return UNITS.get(name) or ("bytes" if name.endswith("bytes") else "s")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_stamp():
    """Digest of every input of the build: project and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        roots += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    launcher = os.path.join(BUILD, "launcher.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(launcher) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return launcher
    log("building the project and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}", "launcher"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=max(1, deadline - time.time()))
    if r.returncode != 0 or not os.path.exists(launcher):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launcher


def fixture():
    """The fixture tables the query suite reads: fixed scale and seed, so every
    query's output digest is pinned (see expected/)."""
    d = os.path.join(BUILD, f"fixture-sf{FIXTURE_SF}-seed{FIXTURE_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_fixture(d, FIXTURE_SF, FIXTURE_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ------------------------------------------------------------------ checks

def check_suite(workload, raw):
    """Every execution must succeed with the digest recorded for its query.
    Returns (operations attempted, failed operations, messages)."""
    with open(os.path.join(HERE, "expected", f"{workload}.json")) as f:
        want = json.load(f)
    ops = raw["warm_ops"] + [o for p in raw["passes"] for o in p["ops"]]
    bad = [o for o in ops if not o["ok"] or o.get("digest") != want.get(o["name"])]
    msgs = [f"{o['name']}: digest {o.get('digest')} != {want.get(o['name'])}" for o in bad]
    msgs += [f"{q}: not run" for q in sorted(set(want) - {o["name"] for o in raw["warm_ops"]})]
    return len(ops), len(bad), msgs


def check_daily(raw, expect):
    """Per batch: a no-op rerun, one screen decision per document with
    exactly the planted duplicates marked exact, and a probe that serves
    exactly the batch's accepted probe documents. After the pass and its
    closing compaction: rows ingested per batch, the lake row count, and
    every probe serving its accepted documents minus later takedowns. The warm pass and every timed
    pass run each batch and the close; returns (attempted, failed, messages)."""
    attempted = (len(raw["passes"]) + 1) * (len(expect["batches"]) + 1)
    msgs, failed, seen, accepted = [], 0, 0, {}
    for o in raw["observed"]:
        bad = []
        if "batch" in o:
            b = o["batch"]
            e = expect["batches"][b - 1]
            screen = {int(k): v for k, v in o["screen"].items()}
            accepted[b] = {i for i in e["probe"] if screen.get(i) == "accept"}
            exact = sorted(i for i, d in screen.items() if d == "exact")
            for key, got, exp in (("rerun new files", o["rerun_new_files"], 0),
                                  ("screened docs", sorted(screen), e["docs"]),
                                  ("exact duplicates", exact, e["exact"]),
                                  ("probe", o["probe"], sorted(accepted[b]))):
                if got != exp:
                    bad.append(f"batch {b} {key}: {got} != {exp}")
        else:
            f, done, accepted = o["final"], accepted, {}  # the next pass starts afresh
            if not f:
                continue  # the close failed; its failure is recorded
            for b, e in enumerate(expect["batches"], 1):
                if f["ingested"].get(str(b)) != e["ingested_rows"]:
                    bad.append(f"batch {b} ingested rows: {f['ingested'].get(str(b))} "
                               f"!= {e['ingested_rows']}")
            if f["lake_rows"] != expect["lake_rows"]:
                bad.append(f"lake rows: {f['lake_rows']} != {expect['lake_rows']}")
            for b, acc in done.items():
                later = {i for e in expect["batches"][b:] for i in e["deletes"]}
                want = sorted(acc - later)
                if f["probes"].get(f"probe{b}", []) != want:
                    bad.append(f"final probe{b}: {f['probes'].get(f'probe{b}')} != {want}")
        seen += 1
        failed += bool(bad)
        msgs += bad
    return attempted, min(attempted, failed + attempted - seen), msgs


# -------------------------------------------------------------------- host

def host_block(raw):
    def sh(*cmd):
        try:
            return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return ""
    mem = ""
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            mem = next((ln.split(":")[1].strip() for ln in f if ln.startswith("MemTotal")), "")
    return {"nproc": os.cpu_count(), "mem_total": mem,
            "java": raw.get("java_version"), "spark": raw.get("spark_version"),
            "git_sha": sh("git", "rev-parse", "HEAD") or None,
            "source_sha256": source_stamp(), "loadavg": list(os.getloadavg())}


# -------------------------------------------------------------------- main

def run_workload(workload, seed, seconds, trace, record, launcher, fx, deadline):
    """One JVM run of one workload. Returns (report, contract line)."""
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        daily_dir = os.path.join(run_dir, "landed")
        expect = None
        if workload == "daily_pipeline":
            expect = gen.write_daily(daily_dir, gen.daily_plan(seed, **DAILY))
        else:
            os.makedirs(daily_dir)
        with open(launcher) as f:
            jvm_args = f.read().splitlines()
        out = os.path.join(run_dir, "raw.json")
        tmp = os.path.join(run_dir, "tmp")
        cmd = ["java", HEAP, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", *jvm_args,
               "graft.perfbench.Main", workload, str(seed), str(seconds), str(trace),
               fx, daily_dir, os.path.join(run_dir, "work"), out]
        log(f"running {workload} seed={seed} seconds={seconds} trace={trace}")
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            r = subprocess.run(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                               timeout=max(1, deadline - time.time()))
        if r.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"harness failed (exit {r.returncode})")
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if record:
        record_digests(workload, raw)
        return None, None

    if workload == "daily_pipeline":
        attempted, failed, bad = check_daily(raw, expect)
    else:
        attempted, failed, bad = check_suite(workload, raw)
    bad += [f"{fl['op']}: {fl['error']} at {fl['frame']}" for fl in raw["failures"]]
    for b in bad:
        log(f"CHECK FAILED {workload}: {b}")

    report = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "host": host_block(raw),
              "end_to_end": {k: {"value": v, "unit": "s", "n": n}
                             for k, (v, n) in metrics.end_to_end(raw).items()},
              "failed_frac": {"value": failed / attempted, "n": attempted},
              "check_failures": bad,
              "passes": [{"wall_s": p["wall_s"], "traced": p["traced"],
                          "ops": {o["name"]: (o["t1"] - o["t0"]) / 1e3 for o in p["ops"]}}
                         for p in raw["passes"]]}
    if workload == "daily_pipeline":
        amp, n = metrics.write_amp(raw)
        report["end_to_end"]["write_amp"] = {"value": amp, "unit": "bytes/byte", "n": n}
    if trace:
        layers = metrics.per_layer(raw, os.cpu_count())
        if workload == "daily_pipeline":
            layers.update(metrics.daily_layers(raw))
        report["per_layer"] = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        report["spans"] = raw["spans"]
        shown = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                 for m in SPEC["per_layer"]}
    else:
        shown = {m["name"]: {"value": report["end_to_end"][m["name"]]["value"],
                             "unit": m["unit"]} for m in SPEC["end_to_end"]}
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    with open(os.path.join(BUILD, "reports", f"{workload}-seed{seed}-trace{trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)
    for k, v in list(report["end_to_end"].items()) + list(report.get("per_layer", {}).items()):
        n = f"n={v['n']}" if "n" in v else ""
        print(f"{workload:18s} {k:22s} {v['value']:16.6f} {v['unit']:10s} {n}")
    print(f"{workload:18s} {'failed_frac':22s} {failed / attempted:16.6f} {'frac':10s} "
          f"n={attempted}")
    return report, {"correct": not bad, "attempted": attempted, "failed": failed,
                    "metrics": shown}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write a query suite's digests to expected/ instead of checking")
    a = ap.parse_args()
    start = time.time()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a project checkout "
                         "(build.sbt and src/main/scala not found)")
    launcher = build(start + 840)
    fx = fixture()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    lines = {}
    for w in names:
        _, line = run_workload(w, a.seed, a.seconds, a.trace, a.record_digests, launcher, fx,
                               time.time() + 170)
        lines[w] = line
    if a.record_digests:
        return
    if a.workload != "all":
        print(json.dumps(lines[a.workload]))
        return
    print(json.dumps({
        "correct": all(x["correct"] for x in lines.values()),
        "attempted": sum(x["attempted"] for x in lines.values()),
        "failed": sum(x["failed"] for x in lines.values()),
        "metrics": {f"{w}.{k}": v for w, x in lines.items() for k, v in x["metrics"].items()}}))


def record_digests(workload, raw):
    if workload == "daily_pipeline":
        raise SystemExit("--record-digests applies to the query suite")
    setup = raw["warm_ops"]
    digests = {o["name"]: o["digest"] for o in setup}
    timed = [o for p in raw["passes"] for o in p["ops"]]
    if raw["failures"] or any(not o["ok"] for o in setup + timed) or \
            any(o["digest"] != digests[o["name"]] for o in setup + timed):
        raise SystemExit("not recording: a query failed or its digest changed between runs")
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", f"{workload}.json"), "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")
    log(f"recorded {len(digests)} digests for {workload}")


if __name__ == "__main__":
    main()
