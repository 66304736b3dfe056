#!/usr/bin/env python3
"""graft benchmark: the advisor product path on two bundle shapes and the
SparkEntry query suite, driven through the program's public entry points.

    python3 perfbench/run.py --workload advisor_fleet --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline); later runs reuse the build while the sources
are unchanged. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import bundle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
SUITE_DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected_counts.json")

# bundle shape of advisor_fleet: metric CSVs, samples per series; 4 instances each
FLEET_CSVS, FLEET_SAMPLES = 20, 480
SUITE_STRIDE = 12  # every 12th query of the name-sorted suite
HEAP = "3g"

JAVA_OPTS = [
    # what `sbt run` passes to graft's mains (build.sbt javaOptions)
    *[x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar"]
      for x in ("--add-opens", p + "=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+AlwaysPreTouch",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(1)


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile program + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("program sources not found: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cache = os.path.join(HERE, "target", "perfbench-classpath.json")
    try:
        with open(cache) as fh:
            c = json.load(fh)
        if c["stamp"] == stamp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=700)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip().split(os.pathsep)
    if not any(p.endswith(".jar") for p in cp):
        fail("could not read the classpath from sbt")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# ------------------------------------------------------------------ harness

def harness(cp, run_dir, tag, args, timeout):
    """Launch one harness JVM; returns its result JSON."""
    out = os.path.join(run_dir, tag + ".json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JAVA_OPTS,
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
           "-cp", os.pathsep.join(cp), "perfbench.Harness",
           "--cpus", str(len(os.sched_getaffinity(0))), "--out", out]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    with open(os.path.join(run_dir, tag + ".log"), "w") as logf:
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                               stdout=logf, stderr=logf, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail("harness %s timed out" % tag)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, tag + ".log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("harness %s exited with %d" % (tag, r.returncode))
    with open(out) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def check_report(text, truth):
    """Problems with one advisor report against the planted truth."""
    rows = []
    in_details = False
    for line in text.splitlines():
        if line.startswith("## "):
            in_details = line.startswith("## Details")
        elif in_details and line.startswith("| ") and not line.startswith("| bucket") \
                and not line.startswith("| ---"):
            c = [x.strip() for x in line.strip("|").split("|")]
            rows.append({"bucket": int(c[0]), "objective": c[1], "candidate": c[2],
                         "lag": int(c[3]), "rank": int(c[5])})
    problems = []
    for p in truth["plants"]:
        obj = "%s/%s" % (p["objective"], p["node"])
        here = [r for r in rows if r["bucket"] == p["bucket"] and r["objective"] == obj]
        if not here:
            problems.append("planted shift of %s in bucket %d not reported" % (obj, p["bucket"]))
            continue
        top = [r for r in here if r["rank"] == 1]
        want = "%s/%s" % (p["driver"], p["node"])
        if not top or top[0]["candidate"] != want or top[0]["lag"] != p["lag"]:
            problems.append("bucket %d of %s: rank 1 is %s, want %s at lag %d" % (
                p["bucket"], obj, top[0] if top else None, want, p["lag"]))
    for name, node in truth["flat"]:
        sid = "%s/%s" % (name, node)
        for pre in ("| ", "`", ">"):
            if pre + sid in text:
                problems.append("flat series %s appears in the report" % sid)
                break
    return problems


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


FAMILIES = [  # (per-layer metric, name prefixes), first match wins
    ("suite.ts_s", ("ts_",)),
    ("suite.ad_s", ("ad_",)),
    ("suite.corr_s", ("corr_",)),
    ("suite.text_s", ("text_",)),
    ("suite.dedup_s", ("dedup_", "minhash")),
    ("suite.embed_s", ("embed_", "ann_", "knn")),
    ("suite.sample_s", ("sample_",)),
    ("suite.mm_s", ("mm_",)),
    ("suite.curation_s", ("curation", "decontaminate", "mix_", "pack_", "quality",
                          "chunk", "gate", "source", "profile")),
]


def family(name):
    if name[0] == "q" and name[1:3].isdigit():
        return "suite.q_s"
    for metric, prefixes in FAMILIES:
        if name.startswith(prefixes):
            return metric
    return "suite.other_s"


PER_LAYER_ADVISOR = {  # metric -> (span, field, scale)
    "ingest.untar_s": ("ingest.untar", "dur_s", 1),
    "ingest.read_s": ("ingest.read", "dur_s", 1),
    "ingest.scan_s": ("ingest.scan", "dur_s", 1),
    "ingest.read_jobs": ("ingest.read", "jobs", 1),
    "ingest.files": ("ingest.untar", "files", 1),
    "ingest.rows": ("ingest.scan", "rows", 1),
    "ingest.scan_tasks": ("ingest.scan", "tasks", 1),
    "grid.s": ("grid", "dur_s", 1),
    "grid.tasks": ("grid", "tasks", 1),
    "grid.shuffle_write_mb": ("grid", "shuffle_write_b", 1e-6),
    "grid.cells": ("grid", "cells", 1),
    "grid.cached_mb": ("grid", "cached_b", 1e-6),
    "grid.series_in": ("ingest.scan", "series", 1),
    "grid.series_kept": ("grid", "series_kept", 1),
    "anomaly.s": ("anomaly", "dur_s", 1),
    "anomaly.series": ("anomaly", "series", 1),
    "anomaly.points": ("anomaly", "points", 1),
    "anomaly.max_task_share": ("anomaly", "max_task_share", 1),
    "ncc.s": ("ncc", "dur_s", 1),
    "ncc.cells": ("ncc.cells", "cells", 1),
    "ncc.ranked": ("ncc.rank", "ranked", 1),
    "ncc.tasks": ("ncc", "tasks", 1),
    "ncc.shuffle_write_mb": ("ncc", "shuffle_write_b", 1e-6),
    "granger.s": ("granger", "dur_s", 1),
    "granger.pairs": ("granger", "pairs", 1),
    "drift.s": ("drift", "dur_s", 1),
    "drift.pair_rows": ("drift", "pair_rows", 1),
    "render.s": ("render", "dur_s", 1),
    "render.jobs": ("render", "jobs", 1),
    "report.bytes": ("render", "bytes", 1),
}
SUITE_LAYER = ["suite.query_p90_s", "suite.build_s", "suite.plan_s", "suite.exec_s",
               "suite.build_jobs", "suite.jobs", "suite.tasks", "suite.shuffle_write_mb",
               "suite.spill_mb", "suite.max_task_share", "suite.q_s"] + \
    [m for m, _ in FAMILIES] + ["suite.other_s"]
ENGINE = ["engine.jobs", "engine.tasks", "engine.shuffle_write_mb", "engine.spill_mb",
          "engine.peak_exec_mem_mb", "engine.leaked_rdds", "ingest.tmp_mb",
          "trace.overhead_s"]
UNITS = {"_s": "s", ".s": "s", "_mb": "MB", "share": "ratio", "ratio": "ratio", "bytes": "bytes"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def per_pass(spans):
    by = {}
    for s in spans:
        by.setdefault(s["pass"], []).append(s)
    return list(by.values())


def self_times(spans):
    for s in spans:
        kids = [c["dur_s"] for c in spans if c["parent"] == s["id"]]
        s["self_s"] = s["dur_s"] - sum(kids)


def advisor_layers(spans):
    passes = [{s["name"]: s for s in p} for p in per_pass(spans)]
    m = {}
    for metric, (span, field, scale) in PER_LAYER_ADVISOR.items():
        m[metric] = median([p[span][field] * scale for p in passes if span in p])
    m["ncc.useful_ratio"] = m["ncc.ranked"] / m["ncc.cells"] if m["ncc.cells"] else 0.0
    whole = [p["advisor.pass"] for p in passes if "advisor.pass" in p]
    m["engine.jobs"] = median([s["jobs"] for s in whole])
    m["engine.tasks"] = median([s["tasks"] for s in whole])
    m["engine.shuffle_write_mb"] = median([s["shuffle_write_b"] * 1e-6 for s in whole])
    m["engine.spill_mb"] = median([s["spill_b"] * 1e-6 for s in whole])
    m["engine.peak_exec_mem_mb"] = max([s["peak_exec_mem_b"] * 1e-6 for s in whole] or [0])
    return m


def suite_layers(spans):
    m = {k: 0.0 for k in SUITE_LAYER}
    queries = [s for s in spans if s["name"] == "suite.query"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], {})[s["name"]] = s
    for q in queries:
        k = kids.get(q["id"], {})
        m["suite.build_s"] += k.get("suite.build", {}).get("dur_s", 0.0)
        m["suite.plan_s"] += k.get("suite.plan", {}).get("dur_s", 0.0)
        m["suite.exec_s"] += k.get("suite.exec", {}).get("dur_s", 0.0)
        m["suite.build_jobs"] += k.get("suite.build", {}).get("jobs", 0)
        m["suite.jobs"] += q["jobs"]
        m["suite.tasks"] += q["tasks"]
        m["suite.shuffle_write_mb"] += q["shuffle_write_b"] * 1e-6
        m["suite.spill_mb"] += q["spill_b"] * 1e-6
        m[family(q["query"])] += q["dur_s"]
    if queries:
        m["suite.max_task_share"] = statistics.mean(q["max_task_share"] for q in queries)
    m["engine.jobs"] = m["suite.jobs"]
    m["engine.tasks"] = m["suite.tasks"]
    m["engine.shuffle_write_mb"] = m["suite.shuffle_write_mb"]
    m["engine.spill_mb"] = m["suite.spill_mb"]
    m["engine.peak_exec_mem_mb"] = max([q["peak_exec_mem_b"] * 1e-6 for q in queries] or [0])
    return m


# ------------------------------------------------------------------ workloads

def suite_queries(seed):
    with open(EXPECTED) as fh:
        expected = json.load(fh)["counts"]
    names = sorted(expected)[::SUITE_STRIDE]
    random.Random(seed).shuffle(names)
    return names, expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["advisor_fleet", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(WORK, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, spans = run(a, cp, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if spans is not None:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(path, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": spans,
                       "metrics": result["metrics"]}, fh, indent=1)
        log("spans written to " + os.path.relpath(path, ROOT))
    print(json.dumps(result))


def run(a, cp, run_dir):
    common = {"seconds": a.seconds, "trace": a.trace}
    if a.workload == "suite":
        names, expected = suite_queries(a.seed)
        qfile = os.path.join(run_dir, "queries.txt")
        with open(qfile, "w") as fh:
            fh.write("\n".join(names) + "\n")
        common.update({"kind": "suite", "warm": SUITE_DATA, "input": SUITE_DATA,
                       "queries": qfile})
    else:
        tar = os.path.join(run_dir, "bundle.tar.gz")
        warm = os.path.join(run_dir, "warm", "bundle.tar.gz")
        os.makedirs(os.path.dirname(warm))
        truth = bundle.generate(a.seed, FLEET_CSVS, FLEET_SAMPLES, tar)
        bundle.generate(a.seed + 1_000_003, FLEET_CSVS, FLEET_SAMPLES, warm)
        common.update({"kind": "advisor", "warm": warm, "input": tar, "step": bundle.STEP})

    res = harness(cp, run_dir, "measure", common, timeout=150)

    # A pass with any failed operation gives no wall, and a failed
    # operation no op wall, so a failure never reads as a speed-up.
    failed = 0
    problems = []
    walls, traced_walls, ops = [], [], []
    if a.workload == "suite":
        for p in res["passes"]:
            total, clean = 0.0, True
            for q in p["queries"]:
                bad = q["error"] or (q["count"] != expected.get(q["name"]))
                if bad:
                    failed += 1
                    clean = False
                    problems.append("%s: %s" % (q["name"], q["error"] or "count %s, want %s" % (
                        q["count"], expected.get(q["name"]))))
                    continue
                total += q["wall"]
                if not p["traced"]:
                    ops.append(q["wall"])
            if clean:
                (traced_walls if p["traced"] else walls).append(total)
        leaked = max(q["leaked"] for p in res["passes"] for q in p["queries"])
        tmp_b = 0
    else:
        for i, p in enumerate(res["passes"]):
            errs = [p["error"]] if p["error"] else []
            if not errs:
                with open(p["report"]) as fh:
                    errs = check_report(fh.read(), truth)
            if errs:
                failed += 1
                problems += ["pass %d: %s" % (i, e) for e in errs]
                continue
            (traced_walls if p["traced"] else walls).append(p["wall"])
            if not p["traced"]:
                ops.append(p["wall"])
        leaked = max(p["leaked"] for p in res["passes"])
        tmp_b = median([p["tmp_b"] for p in res["passes"]])
    attempted = sum(len(p["queries"]) if a.workload == "suite" else 1 for p in res["passes"])
    for msg in problems[:20]:
        log("FAILED " + msg)

    pass_s = median(walls) if walls else None  # null: no pass ran clean
    e2e = {"pass_s": pass_s, "setup_s": res["setup_s"],
           "ok_frac": (attempted - failed) / attempted}
    log("%s seed %d: %d passes, %d ops attempted, %d failed (failed_frac %.4f ratio); "
        "pass_s %s s, op_p90_s %.4f s, setup_s %.4f s (session %.3f s, warm-up %.3f s)" % (
            a.workload, a.seed, len(res["passes"]), attempted, failed,
            failed / attempted, pass_s, p90(ops), e2e["setup_s"],
            res["session_s"], res["warm_s"]))
    log("pass walls: " + ", ".join("%.3f" % w for w in walls))

    spans = None
    if a.trace:
        spans = res.get("spans", [])
        self_times(spans)
        if any(s.get("gate_copy") for s in spans):
            log("warning: AdvisorReport.gateBuckets not found; ncc.cells and "
                "ncc.useful_ratio count the harness's copy of the gate")
        layers = dict.fromkeys(list(PER_LAYER_ADVISOR) + ["ncc.useful_ratio"] + SUITE_LAYER
                               + ENGINE, 0.0)
        layers.update(suite_layers(spans) if a.workload == "suite" else advisor_layers(spans))
        if a.workload == "suite":
            layers["suite.query_p90_s"] = p90(ops)
        layers["engine.leaked_rdds"] = leaked
        layers["ingest.tmp_mb"] = tmp_b * 1e-6
        layers["trace.overhead_s"] = median(traced_walls) - pass_s \
            if traced_walls and walls else None
        log("traced pass %s s vs untraced %s s: tracing overhead %s s" % (
            median(traced_walls), pass_s, layers["trace.overhead_s"]))
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": "ratio" if k == "ok_frac" else "s"}
                   for k, v in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, spans


if __name__ == "__main__":
    main()
