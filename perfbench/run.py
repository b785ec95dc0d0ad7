#!/usr/bin/env python3
"""graft benchmark: seeded workloads driven through the library's public API.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the engine
and the harness with sbt (offline); later runs reuse the build while the
sources are unchanged. One run generates the seeded inputs, sets up on fresh
state, measures closed-loop passes (batch) or micro-batches (ingest) on that
session and checks their outputs, then sets up twice more on fresh state for
the set-up median. The last line of stdout is the
result JSON; the line before it is a report with the input manifest, the
tail percentiles and their sample counts, the output checks and the
run's environment.

Workloads: batch (an op list over a star schema plus events, documents and
embeddings, behind persisted graph, ANN and ML stores) and ingest
(micro-batches through the EventStream gates). --trace 1 reports the
per-layer metrics instead of the end-to-end ones; see BENCHMARK.json for
both lists and the reasons each workload was chosen.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(HERE, "target")
RUNS = os.path.join(HERE, ".runs")
OUT = os.path.join(HERE, ".out")
CACHE = os.path.join(HERE, ".cache")
# fixed heap: a growing heap made peak RSS and timings depend on when G1
# chose to expand it
HEAP = ["-Xms2g", "-Xmx2g"]
RUN_LIMIT_S = 175.0
FIRST_RUN_LIMIT_S = 880.0

sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB"),
       ("store_mb", "MB")]

WORKLOADS = ["batch", "ingest"]
MODULES = ["Relational", "TemporalOps", "SkewJoin", "Sketches", "GraphOps",
           "TextAnalysis", "Dedup", "TrainingOps", "Similarity", "FeatureOps", "Tuning"]
STORES = ["GraphStore", "CvStore", "SigStore", "IvfIndex"]
LAYER = (
    [("GraftSession.create_s", "s")]
    + [(f"store.{s}.build_s", "s") for s in STORES]
    + [(f"store.{s}.mb", "MB") for s in STORES]
    + [("plan.analysis_s", "s"), ("plan.optimize_s", "s"), ("plan.physical_s", "s"),
       ("plan.exchanges", "count"), ("Tables.scan_rows", "rows"), ("Tables.scan_mb", "MB"),
       ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
       ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
       ("exec.core_util", "ratio"), ("exec.peak_mem_mb", "MB"), ("driver.self_s", "s"),
       ("shuffle.write_mb", "MB"), ("shuffle.read_records", "records"),
       ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
       ("shuffle.records_per_scan_row", "ratio"), ("cache.peak_mb", "MB")]
    + [(f"{m}.op_s", "s") for m in MODULES]
    + [("ann_recall_at_5", "ratio"),
       ("EventStream.neardup_s", "s"), ("EventStream.decontam_s", "s"),
       ("EventStream.vector_s", "s"), ("EventStream.validate_s", "s"),
       ("stream.startup_s", "s"), ("stream.add_batch_s", "s"), ("stream.commit_s", "s"),
       ("stream.sink_files", "count"), ("ingest_docs_per_s", "docs/s"),
       ("trace.overhead_s", "s")])


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build compiles, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    stamp = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return False
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "writeLaunch"], cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=840)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
        return True


def percentile_tail(xs):
    """Highest percentile at or above the median with at least ten samples
    beyond it, as (value, percentile, samples). With fewer than 21 samples
    no such percentile exists; the maximum is given with percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return s[-1], 100.0, n
    k = n - 11
    return s[k], round(100.0 * (k + 1) / n, 1), n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(workload, res, verdicts):
    """(end-to-end metrics, report extras, attempted, failed)."""
    setup = median([s["total_s"] for s in res["setup"]])
    store_mb = res["store_total_bytes"] / 2 ** 20
    rep = {}
    if workload == "ingest":
        batches = [b["seconds"] for b in res["batches"] if b["timed"]]
        ops = [g["seconds"] for g in res["gate_calls"] if g["timed"] and not g["traced"]]
        checks = res["checks"]
        attempted = len(res["gate_calls"])
        failed = sum(1 for g in res["gate_calls"]
                     if not g["ok"] or not checks[g["gate"]]["ok"])
        tail, pct, n = percentile_tail(batches)
        gates = {}
        for g in res["gate_calls"]:
            gates.setdefault(g["gate"], []).append(round(g["seconds"], 3))
        rep.update(batch_seconds=[round(b["seconds"], 3) for b in res["batches"]],
                   gate_seconds=gates)
        rep.update(batch_p50_s=median(batches), batch_tail_s=tail,
                   batch_tail_percentile=pct, batch_samples=n,
                   ingest_docs_per_s=res["docs_per_s"], checks=checks)
    else:
        batches = [p["seconds"] for p in res["passes"]]
        ops = [s["seconds"] for s in res["samples"] if not s["traced"]]
        first = {f["op"]: f for f in res["first_pass"]}
        bad_ops = {op for op, f in first.items()
                   if not f["ok"] or not verdicts.get(op, {"ok": False})["ok"]}
        attempted = len(res["samples"])
        failed = sum(1 for s in res["samples"] if s["op"] in bad_ops or not s["ok"])
        op_seconds = {}
        for s in res["samples"]:
            op_seconds.setdefault(s["op"], []).append(round(s["seconds"], 3))
        rep.update(checks=verdicts, pass_seconds=[round(p["seconds"], 3) for p in res["passes"]],
                   op_seconds=op_seconds,
                   ann_recall_at_5=ann_recall(res), recall_at_5_by_op=res["recall_at_5"])
    tail, pct, n = percentile_tail(ops)
    rep.update(op_tail_s=tail, op_tail_percentile=pct, op_samples=n,
               failed_frac=failed / max(1, attempted))
    metrics = {"setup_s": setup, "pass_s": median(batches), "op_p50_s": median(ops),
               "peak_rss_mb": res["peak_rss_mb"], "store_mb": store_mb}
    return metrics, rep, attempted, failed


def ann_recall(res):
    """Mean of the recall_at_5 columns the ANN ops published, or 0."""
    r = list(res.get("recall_at_5", {}).values())
    return statistics.fmean(r) if r else 0.0


def layer_metrics(res):
    m = {k: 0.0 for k, _ in LAYER}
    m.update(res.get("layers", {}))
    m["ann_recall_at_5"] = ann_recall(res)
    m["GraftSession.create_s"] = median([s["create_s"] for s in res["setup"]])
    for name in res["store_bytes"]:
        m[f"store.{name}.build_s"] = median([s["stores"][name] for s in res["setup"]])
        m[f"store.{name}.mb"] = res["store_bytes"][name] / 2 ** 20
    if res["workload"] == "ingest":
        m["ingest_docs_per_s"] = res["docs_per_s"]
    return {k: m[k] for k, _ in LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a terminated benchmark still stops its children and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("run from the root of a graft checkout: engine sources not found")
    digest = source_digest()
    built = build(digest)
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(BUILD, "jvmopts.txt")) as fh:
        jvm = [o for o in fh.read().split("\n") if o and not o.startswith(("-Xmx", "-Xms"))]

    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, f"{a.workload}-trace{a.trace}.log")
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}"] + jvm
           + ["-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), run_dir])
    # a run that had to build may take the first-run allowance
    budget = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - 15 - (time.time() - t_start)
    p = None
    cpu0 = cpu_times()
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(30, budget))
            except subprocess.TimeoutExpired:
                fail(f"benchmark JVM timed out; log in {log_path}")
        if rc != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-3000:])
            fail(f"benchmark JVM exited {rc}")
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
        cpu1 = cpu_times()
        # share of the host's non-idle CPU time taken by other guests (steal):
        # the reason two runs of the same code on a shared host disagree
        steal = (cpu1[1] - cpu0[1]) / max(1, (cpu1[0] - cpu0[0]) + (cpu1[1] - cpu0[1]))

        verdicts = {}
        if a.workload != "ingest":
            import oracle
            with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
                sql = json.load(fh)
            verdicts = oracle.check(os.path.join(run_dir, "data0"),
                                    os.path.join(run_dir, "outputs"), sql,
                                    os.path.join(CACHE, "duckdb"))
            for op in res["first_pass"]:
                if op["op"] not in sql:
                    verdicts[op["op"]] = {"ok": False, "detail": "no oracle SQL"}
        e2e, rep, attempted, failed = summarize(a.workload, res, verdicts)
        if a.trace:
            metrics = layer_metrics(res)
            units = dict(LAYER)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(OUT, f"{a.workload}-spans.json"))
            rep["self_s_by_layer"] = res.get("self_s_by_layer")
        else:
            metrics, units = e2e, dict(E2E)
        rep.update(workload=a.workload, manifest=res["manifest"],
                   env={"nproc": res["nproc"], "cores": res["cores"], "heap_mb": res["heap_mb"],
                        "source_sha256": digest, "git_sha": git_sha(),
                        "steal_share": round(steal, 4)},
                   setup_runs=res["setup"])
        print(json.dumps({"report": rep}, default=str))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}))
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def cpu_times():
    """Host CPU jiffies as (busy, steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f) - f[3] - f[4] - f[7], f[7]


def git_sha():
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
