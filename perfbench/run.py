#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload sql_rows --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt). Each run generates its
inputs from the seed (gen.py), runs the workload in one JVM launched with
the program's javaOptions (src/main/scala/perfbench/Main.scala), checks every
output (oracle.py) and prints a report. The last line of standard output is
one JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json, with
`--trace 1` its per-layer metrics. The exit code is 0 only when every
output passed its check.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import gen
import oracle

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
LAUNCH = HERE / "target" / "launch.txt"
STAMP = HERE / "target" / "launch.stamp"

# Input sizes per workload: `sf` scales the TPC-H-like tables, `docs` and
# `vecs` size the documents and embeddings tables.
SIZES = {
    "sql_rows": dict(sf=0.01, docs=500, vecs=500),
    "index_lifecycle": dict(sf=0.001, docs=400, vecs=200),
}
SMOKE_SIZES = dict(sf=0.001, docs=200, vecs=200)
WORKLOADS = list(SIZES)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def driver_mem():
    """Half of physical memory, clamped to 2..8 GB, as the test setup does."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sources_digest():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt", HERE / "project",
             HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program and harness; skipped when the sources are unchanged."""
    digest = sources_digest()
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", driver_mem())
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    log("perfbench: building with sbt ...")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "compile", "launchFile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0 or not LAUNCH.exists():
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    STAMP.write_text(digest)


def run_jvm(workload, seed, seconds, trace, data, out):
    lines = LAUNCH.read_text().splitlines()
    cp, jopts = lines[0], [l for l in lines[1:] if l]
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), *jopts, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--data", str(data), "--out", str(out)]
    with open(out / "jvm.log", "w") as jl:
        r = subprocess.run(cmd, stdout=jl, stderr=subprocess.STDOUT,
                           timeout=150)
    res = out / "result.json"
    if r.returncode != 0 or not res.exists():
        tail = (out / "jvm.log").read_text()[-3000:]
        sys.exit(f"perfbench: JVM failed (exit {r.returncode})\n{tail}")
    return json.loads(res.read_text())


def pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    f = int(k)
    return xs[f] + (xs[min(f + 1, len(xs) - 1)] - xs[f]) * (k - f)


def best_latencies(res):
    """Each statement's least latency over the timed passes, as graft.Bench
    takes the least of its passes: the least-contended observation."""
    best = {}
    for x in res["latencies"]:
        best[x["name"]] = min(x["s"], best.get(x["name"], x["s"]))
    return best


def end_to_end(res, hit, total):
    lat = list(best_latencies(res).values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "workload_s": (sum(lat), "s"),
        "stmt_p50_s": (pct(lat, 0.5), "s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "recall": (hit / total if total else 1.0, "ratio"),
    }


def per_layer(res, extra, untraced_s):
    t = res["trace"]
    rows = t["statements"]
    n = len(rows)
    traced_s = sum(r["s"] for r in rows)

    def tot(k, pick=lambda r: True):
        return sum(r[k] for r in rows if pick(r))
    val = tot("validate_ms", lambda r: r["validate_ms"] > 0)
    n_aql = sum(1 for r in rows if r["validate_ms"] > 0)
    m = {
        "aql.validate_ms": (val / n_aql if n_aql else 0.0, "ms"),
        "engine.build_s": (tot("build_s"), "s"),
        "engine.deliver_s": (tot("deliver_s"), "s"),
        "engine.build_jobs": (tot("build_jobs"), "count"),
        "catalyst.analysis_ms": (tot("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (tot("optimization_ms"), "ms"),
        "catalyst.planning_ms": (tot("planning_ms"), "ms"),
        "catalyst.plan_nodes": (tot("plan_nodes"), "count"),
        "spark.jobs_per_stmt": (tot("jobs") / n, "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.sched_delay_s": (tot("sched_delay_s"), "s"),
        "spark.task_run_s": (tot("task_run_s"), "s"),
        "spark.task_cpu_s": (tot("task_cpu_s"), "s"),
        "spark.busy_ratio": (tot("task_run_s") / (traced_s * res["cores"]),
                             "ratio"),
        "spark.shuffle_write_mb": (tot("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (tot("spill_mb"), "MB"),
        "spark.input_mb": (tot("input_mb"), "MB"),
        "spark.listing_jobs": (tot("listing_jobs"), "count"),
        "transforms.materialized_mb": (tot("materialized_mb"), "MB"),
        "transforms.materialized_blocks": (tot("materialized_blocks"), "count"),
    }
    for k, v in t["kernels_ns_row"].items():
        m[f"functions.{k}_ns_row"] = (v, "ns/row")
    ops = ["list", "status", "open", "create", "rename", "delete"]
    for side, w in (("write", True), ("read", False)):
        pick = (lambda r, w=w: r["write"] == w)
        k = sum(1 for r in rows if pick(r))
        m[f"spark.jobs_per_stmt.{side}"] = (
            tot("jobs", pick) / k if k else 0.0, "count")
        for i, op in enumerate(ops):
            m[f"storage.{op}_calls.{side}"] = (
                sum(r["fs_calls"][i] for r in rows if pick(r)), "count")
        m[f"storage.fs_ms.{side}"] = (tot("fs_ms", pick), "ms")
        m[f"storage.bytes_written_mb.{side}"] = (tot("fs_written_mb", pick), "MB")
        m[f"storage.bytes_read_mb.{side}"] = (tot("fs_read_mb", pick), "MB")
    idx_mb = res["index_bytes"] / 1048576
    live = extra.get("live_text_bytes", 0)
    m["storage.files_live"] = (res["index_files"], "count")
    m["storage.write_amp"] = (
        tot("fs_written_mb", lambda r: r["write"]) / idx_mb if idx_mb else 0.0,
        "ratio")
    m["storage.space_amp"] = (res["index_bytes"] / live if live else 0.0, "ratio")
    m["jvm.gc_s"] = (t["gc_s"], "s")
    m["jvm.jit_ms"] = (t["jit_ms"], "ms")
    m["trace.overhead"] = (traced_s / untraced_s, "ratio")
    return m


def report(workload, seed, res, failures, e2e, layers, extra):
    print(f"perfbench {workload} seed={seed} cores={res['cores']} "
          f"heap={res['heap_max_mb']:.0f}MB conf={json.dumps(res['conf'])}")
    best = best_latencies(res)
    print(f"  statements={len(res['statements'])} timed passes="
          f"{res['passes']} latency samples={len(best)} (least per statement)")
    for k, (v, u) in e2e.items():
        print(f"  {k:<34} {v:12.4f} {u}")
    print(f"  {'stmt_p90_s':<34} {pct(list(best.values()), 0.9):12.4f} s "
          f"(n={len(best)}: under 10 samples beyond it, so not in the JSON)")
    n = len(res["statements"])
    print(f"  {'fail_ratio':<34} {len(failures) / n:12.4f} ratio "
          f"({len(failures)}/{n})")
    if workload == "index_lifecycle":
        writes = {s["name"] for s in res["statements"] if s["write"]}
        w = [v for k, v in best.items() if k in writes]
        r = [v for k, v in best.items() if k not in writes]
        live = extra.get("live_text_bytes", 0)
        print(f"  {'write_p50_s':<34} {pct(w, 0.5):12.4f} s (n={len(w)})")
        print(f"  {'read_p50_s':<34} {pct(r, 0.5):12.4f} s (n={len(r)})")
        print(f"  {'space_amp':<34} "
              f"{res['index_bytes'] / live if live else 0:12.4f} ratio")
    for k, v in best.items():
        print(f"    {k:<40} {v:9.4f} s")
    for k, (v, u) in (layers or {}).items():
        print(f"  {k:<34} {v:12.4f} {u}")
    if layers:
        plans = [r for r in res["trace"]["statements"]
                 if "plan_chars_count" in r]
        if plans:
            print("  optimized plan chars, count() vs delivered:")
            for r in plans:
                print(f"    {r['name']:<40} {r['plan_chars_count']:>7} "
                      f"{r['plan_chars_delivered']:>7}")
        st = res["trace"]["selftest"]
        if st.get("ran"):
            print(f"  window attribution self-test: ok={st['ok']}, "
                  f"append window holds {st['window_jobs']} jobs; "
                  f"{st['stale_group_jobs']} later jobs still carry its "
                  "job group")
    for k, v in failures.items():
        print(f"  FAILED {k}: {v}")


def run(workload, seed, seconds, trace, sizes):
    out = WORK / f"run-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    try:
        data = out / "data"
        t0 = time.time()
        gen.generate(str(data), seed, **sizes)
        t1 = time.time()
        res = run_jvm(workload, seed, seconds, trace, data, out)
        t2 = time.time()
        failures, hit, total, extra = oracle.check(res, out, data)
        log(f"perfbench: inputs {t1 - t0:.1f}s, JVM {t2 - t1:.1f}s (set-up "
            f"{res['setup_s']:.1f}s, check pass {res['check_s']:.1f}s, timed "
            f"{res['timed_s']:.1f}s), checks {time.time() - t2:.1f}s")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    e2e = end_to_end(res, hit, total)
    # The untraced pass the traced one is compared with: the last timed one.
    last = res["latencies"][-len(res["statements"]):]
    layers = per_layer(res, extra, sum(x["s"] for x in last)) if trace else None
    report(workload, seed, res, failures, e2e, layers, extra)
    metrics = layers if trace else e2e
    return {
        "correct": not failures,
        "attempted": len(res["statements"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def smoke():
    """Every workload once untraced and once traced on tiny inputs; every
    metric BENCHMARK.json names must be printed."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, 1, 1, trace, SMOKE_SIZES)
            missing = {m["name"] for m in spec[key]} - set(r["metrics"])
            ok &= r["correct"] and not missing
            print(json.dumps({"workload": w, "trace": trace,
                              "correct": r["correct"],
                              "missing": sorted(missing)}))
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the repository root "
                 "(src/main/scala/graft not found)")
    t0 = time.time()
    build()
    log(f"perfbench: build ready in {time.time() - t0:.1f}s")
    if a.smoke:
        sys.exit(0 if smoke() else 1)
    if not a.workload:
        p.error("--workload is required")
    r = run(a.workload, a.seed, a.seconds, a.trace, SIZES[a.workload])
    print(json.dumps(r))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
