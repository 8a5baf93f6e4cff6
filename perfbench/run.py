#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <dashboard|lake|curation|graph> \
      --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark's JVM
program from source (cached under `.bench_build/`), generates the seeded
inputs (cached per seed), runs one workload on `local[<cores>]` from one
process with one client thread, checks every operation's output, and
prints one JSON object as the last line of stdout:
  --trace 0: the end-to-end metrics of BENCHMARK.json;
  --trace 1: the per-layer metrics (half the timed phase runs traced).
Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dashboard", "lake", "curation", "graph")
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and `perfbench.Main` with sbt once per source state; return the
    runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=840)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, data, out, seconds, trace, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
              "-cp", cp, "perfbench.Main", "--data", data, "--out", out,
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--cores", str(cores())])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the run exceeded its time budget")
    if p.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {p.returncode}:\n{tail}")


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def end_to_end(res, timed):
    lat = [r["latency_s"] for r in timed]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "first_pass_s": (res["first_pass_s"], "s"),
        "ops_per_s": (len(timed) / res["timed_s"], "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MiB"),
    }


def lake_metrics(res):
    """Lake figures: commit and read latency medians of the timed phase;
    write and space amplification over the whole run."""
    ops = res.get("ops", [])
    timed = [r for r in ops if r["phase"] == "timed"]
    commits = [r["latency_s"] for r in timed if r["kind"] in ("append", "delete", "merge", "compact")]
    reads = [r["latency_s"] for r in timed
             if r["kind"].startswith("read_") or r["kind"] in ("meta_agg", "diff", "stream_tail")]
    committed = sum(r.get("batch_bytes", 0) for r in ops)
    lake = res.get("lake") or {}
    return {
        "lake.commit_p50_s": (statistics.median(commits) if commits else 0.0, "s"),
        "lake.read_p50_s": (statistics.median(reads) if reads else 0.0, "s"),
        "lake.write_amp": (lake.get("bytes_written", 0) / committed if committed else 0.0, "ratio"),
        "lake.space_amp": (lake["lake_bytes"] / lake["live_bytes"] if lake.get("live_bytes") else 0.0, "ratio"),
    }


def per_layer(res, timed, spans, cores_n):
    """Per traced timed operation: layer self times (from the spans) and
    listener counters; ratios over all traced operations."""
    traced = [r for r in timed if r["traced"]]
    tags = {str(r["seq"]) for r in traced}
    n = max(1, len(traced))
    child = [0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    self_s, op_wall = {}, 0.0
    for i, s in enumerate(spans):
        if s["op"] not in tags:
            continue
        d = (s["end_ns"] - s["start_ns"] - child[i]) / 1e9
        if s["parent"] < 0:
            op_wall += (s["end_ns"] - s["start_ns"]) / 1e9
            self_s["_uncovered"] = self_s.get("_uncovered", 0.0) + d
        else:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + d
    setup_session = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                     if s["op"].startswith("setup-") and s["name"] == "Engine.session"]
    c = {}
    for tag in tags:
        for k, v in res["counters"].get(tag, {}).items():
            c[k] = c.get(k, 0) + v
    g = lambda k: c.get(k, 0)  # noqa: E731
    per = lambda x: x / n  # noqa: E731
    kinds = lambda *ks: [r for r in traced if r["kind"] in ks]  # noqa: E731
    commits = kinds("append", "delete", "merge", "compact", "vacuum", "feed_append")
    commit_tags = {str(r["seq"]) for r in commits}
    commit_jobs = sum(res["counters"].get(t, {}).get("jobs", 0) for t in commit_tags)
    pruned = [r for r in traced if "files_total" in r]
    tails = kinds("stream_tail")
    reads = kinds("read_current", "read_version", "read_pruned", "meta_agg", "diff")
    rows_out = sum(r.get("rows", 0) for r in traced)
    no_compile = sum(1 for r in traced if r.get("janino_compiles", 0) == 0)
    untraced = [r for r in timed if not r["traced"]]
    m = {
        "Engine.session_s": (statistics.median(setup_session) if setup_session else 0.0, "s"),
        "SqlFrontEnd.run_s": (per(self_s.get("SqlFrontEnd.run", 0.0)), "s"),
        "Tables.load_s": (per(self_s.get("Tables.load", 0.0)), "s"),
        "FileView.scan_s": (per(self_s.get("FileView.scan", 0.0)), "s"),
        "sources.scan_s": (per(g("scanMs") / 1e3), "s"),
        "sources.files_read": (per(g("filesRead")), "count"),
        "sources.bytes_read": (per(g("bytesRead")), "B"),
        "sources.rows_scanned_per_row_out": (g("rowsScanned") / rows_out if rows_out else 0.0, "ratio"),
        "sources.read_s": (self_s.get("sources.read", 0.0) / max(1, len(reads)), "s"),
        "sources.files_pruned_ratio": (
            statistics.mean(1 - r["files_kept"] / r["files_total"] for r in pruned if r["files_total"])
            if pruned else 0.0, "ratio"),
        "sources.live_files": ((res.get("lake") or {}).get("live_files", 0), "count"),
        "sources.commit_s": (self_s.get("sources.commit", 0.0) / max(1, len(commits)), "s"),
        "sources.commit_jobs": (commit_jobs / max(1, len(commits)), "count"),
        "sources.bytes_written": (sum(r.get("bytes_written", 0) for r in commits) / max(1, len(commits)), "B"),
        "sources.files_written": (sum(r.get("files_written", 0) for r in commits) / max(1, len(commits)), "count"),
        "streaming.batches": (g("batches") / max(1, len(tails)), "count"),
        "streaming.batch_s": (g("batchMs") / 1e3 / max(1, g("batches")), "s"),
        "operators.construct_s": (per(self_s.get("operators.construct", 0.0)), "s"),
        "operators.construct_jobs": (per(construct_jobs(res, spans, tags)), "count"),
        "plans.plan_s": (per(g("planMs") / 1e3), "s"),
        "plans.janino_s": (per(sum(r.get("janino_ns", 0) for r in traced) / 1e9), "s"),
        "plans.janino_compiles": (per(sum(r.get("janino_compiles", 0) for r in traced)), "count"),
        "plans.codegen_hit_ratio": (no_compile / n, "ratio"),
        "plans.fallback_exprs": (per(g("fallbackExprs")), "count"),
        "plans.exchanges": (per(g("exchanges")), "count"),
        "spark.action_s": (per(self_s.get("spark.action", 0.0)), "s"),
        "spark.jobs": (per(g("jobs")), "count"),
        "spark.stages": (per(g("stages")), "count"),
        "spark.tasks": (per(g("tasks")), "count"),
        "spark.one_task_stages": (per(g("oneTaskStages")), "count"),
        "spark.sched_wait_s": (per(g("schedWaitMs") / 1e3), "s"),
        "spark.core_busy_ratio": (g("taskRunMs") / 1e3 / (op_wall * cores_n) if op_wall else 0.0, "ratio"),
        "spark.task_run_s": (per(g("taskRunMs") / 1e3), "s"),
        "spark.task_cpu_s": (per(g("taskCpuNs") / 1e9), "s"),
        "spark.gc_s": (per(g("gcMs") / 1e3), "s"),
        "spark.shuffle_write_bytes": (per(g("shuffleWrite")), "B"),
        "spark.shuffle_read_bytes": (per(g("shuffleRead")), "B"),
        "spark.spill_bytes": (per(g("spill")), "B"),
        "trace.overhead_ratio": (overhead(untraced, traced), "ratio"),
        "trace.uncovered_ratio": (self_s.get("_uncovered", 0.0) / op_wall if op_wall else 0.0, "ratio"),
    }
    m.update(lake_metrics(res))
    return m


def construct_jobs(res, spans, tags):
    """Jobs whose start falls inside an operators.construct span: the
    eager checkpoints, observes and collects run inside operator calls."""
    n = 0
    for s in spans:
        if s["op"] in tags and s["name"] == "operators.construct":
            n += sum(1 for t in res["job_start_ms"].get(s["op"], []) if s["start_ms"] <= t <= s["end_ms"])
    return n


def overhead(untraced, traced):
    """Median over operation kinds run in both halves of
    (traced median latency / untraced median latency)."""
    def key(r):
        if r["kind"] == "sql":
            return re.sub(r"_\d+$", "", r["id"])
        return r["id"] if r["kind"] in ("query", "fileview", "ppr") else r["kind"]

    def medians(rs):
        d = {}
        for r in rs:
            d.setdefault(key(r), []).append(r["latency_s"])
        return {k: statistics.median(v) for k, v in d.items()}
    a, b = medians(untraced), medians(traced)
    ratios = [b[k] / a[k] for k in a.keys() & b.keys() if a[k] > 0]
    return statistics.median(ratios) if ratios else 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a checkout of the engine (no build.sbt / src/main/scala/graft)")
    sys.path.insert(0, HERE)
    import check
    import gen
    import plans

    cp, built = build()
    deadline = (time.time() if built else t0) + 170
    data = gen.generate(os.path.join(BUILD, "inputs"), a.workload, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    plan = plans.make(a.workload, data, a.seed)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    run_jvm(cp, data, out, a.seconds, a.trace == 1, deadline)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    by_id = {op["id"]: op for op in plan["first"] + plan["timed"]}
    for r in res["ops"]:
        op = by_id[r["id"]]
        if "batch" in op:
            r["batch_bytes"] = os.path.getsize(os.path.join(data, op["batch"]))
    notes = check.verify(out, data, plan, res)
    ops = res["ops"]
    timed = [r for r in ops if r["phase"] == "timed"]
    failed = sum(1 for r in ops if not r["ok"])
    e2e = end_to_end(res, timed)
    lat = [r["latency_s"] for r in timed]
    info = dict(e2e)
    info["timed_ops"] = (len(timed), "count")
    info["op_p90_s"] = (quantile(lat, 0.9), "s")
    info["fail_ratio"] = (failed / len(ops), "ratio")
    if a.workload == "lake":
        info.update(lake_metrics(res))
    for k, (v, u) in info.items():
        print(f"{a.workload:10s} {k:24s} {v:14.6f} {u}")
    for n in notes[:20]:
        print(f"check: {n}")
    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        metrics = per_layer(res, timed, spans, res["cores"])
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(out, "spans.json"),
                    os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.spans.json"))
    else:
        metrics = e2e
    shutil.copy(os.path.join(out, "result.json"),
                os.path.join(BUILD, f"last-{a.workload}-{a.trace}.json"))
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
