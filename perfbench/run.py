#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload rest_ann --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM client with sbt (offline) into `.bench_build/`; later runs
reuse that build. Each run then

  1. makes the seeded inputs (cached parquet under `.bench_build/data/`),
  2. starts one fresh JVM (`perfbench.Main`) that sets up, runs the fixed
     operation sequence once and writes every answer to a results file,
  3. checks the answers apart from the program (`checks.py`) and
  4. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

The timed phase is a fixed count of operations, not a duration: the state
of the REST write path depends on how many writes have run. The count is
`--seconds` times a per-workload rate: `rest_ann`'s timed phase lasts
about `--seconds` on a 4-vCPU host, `operator_suite`'s (whole passes over
the suite) about 1.5 times that.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("rest_ann", "rest_exact", "operator_suite")
THREADS = 2          # Spark task threads, below the host's 4 vCPUs
HEAP = "3g"          # -Xms = -Xmx
JVM_TIMEOUT_S = 150
RECALL_FLOOR = 0.85  # rest_ann recall_at_10 must stay at or above this

PER_LAYER = [
    "server.handle_read_ms", "server.handle_write_ms",
    "server.http_overhead_ms", "server.bytes_per_op",
    "ann.search_ms", "ann.rows_scored_per_query", "ann.build_s",
    "spark.jobs_per_read", "spark.stages_per_read", "spark.tasks_per_read",
    "spark.jobs_per_write", "spark.tasks_per_write",
    "spark.input_rows_per_read", "spark.shuffle_bytes_per_op",
    "spark.task_ms_per_op", "spark.storage_mb", "spark.plan_ms",
    "spark.exec_ms", "filter.compile_ms", "needleql.parse_ms",
    "needleql.compile_ms", "jvm.gc_ms_per_op", "jvm.gc_count",
] + ["op.%s_%s" % (q, m) for q in inputs.READS + inputs.WRITES
     for m in ("ms", "jobs")]

def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns))
                         .encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """Compiles the program and the client; returns the launch classpath
    and the program's JVM options (its javaOptions in build.sbt).
    """
    stamp = os.path.join(BUILD, "launch.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"], s["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    # the program's build takes its heap from SPARK_DRIVER_MEM
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    # sbt runs from this directory, so it does not read the program's
    # .jvmopts (the vector module its Java sources compile against) itself
    jvmopts = os.path.join(ROOT, ".jvmopts")
    if os.path.exists(jvmopts):
        with open(jvmopts) as f:
            opts += f.read().split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark client with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "perfbench/printJavaOptions",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    java_options = [l[len("javaOption "):] for l in lines
                    if l.startswith("javaOption ")]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1] or \
            not java_options:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp,
                   "java_options": java_options}, f)
    return cp, java_options


def steal_share():
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except OSError:
        return 0, 0


def run_jvm(cp, java_options, plan, run_dir):
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "results.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + java_options +
           ["-Xms" + HEAP, "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
            "-cp", cp, "perfbench.Main", plan_path, out_path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit("benchmark JVM failed with code %d" % code)
    with open(out_path) as f:
        return json.load(f), launched


def pct(xs, q):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def latencies(good, kind, per_query):
    """Latency samples of the operations of a kind that passed. With
    per_query, one sample per query: the median of its timed executions
    (operator_suite runs every query once per timed pass), so a stretch
    of one pass that the host slowed moves the percentiles less.
    """
    sel = [o for o in good if o["kind"] == kind]
    if not per_query:
        return [o["ms"] for o in sel]
    by = {}
    for o in sel:
        by.setdefault(o["name"], []).append(o["ms"])
    return [statistics.median(v) for v in by.values()]


def unit_of(name):
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("program sources not found next to %s" % HERE)

    cp, java_options = build()
    data = os.path.join(BUILD, "data")
    run_dir = os.path.join(BUILD, "runs", "%s-%d" % (a.workload, os.getpid()))
    os.makedirs(data, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    spans = os.path.join(BUILD, "spans", "%s-%d.jsonl" % (a.workload, a.seed))
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    try:
        if a.workload == "operator_suite":
            tables = os.path.join(data, "tables")
            inputs.write_tables(tables)
            plan = inputs.operator_plan(a.seed, a.seconds, tables)
        else:
            rest = inputs.RestInputs(a.workload, a.seed, a.seconds, data)
            plan = rest.plan()
        plan.update(workload=a.workload, trace=bool(a.trace), spans=spans,
                    threads=THREADS, local_dir=os.path.join(run_dir, "spark"))
        steal0 = steal_share()
        res, launched = run_jvm(cp, java_options, plan, run_dir)
        steal1 = steal_share()

        ops = res["ops"]
        if a.workload == "operator_suite":
            oracle = checks.oracle_answers(tables, res["oracle_sql"])
            oks, recall = checks.check_operators(ops, oracle,
                                                 set(inputs.KNN))
        else:
            oks, recall = checks.check_rest(rest, ops,
                                            exact=a.workload == "rest_exact")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    answered = [o["status"] // 100 == 2 for o in ops]
    wrong = sum(1 for ok, ans in zip(oks, answered) if ans and not ok)
    failed = sum(1 for ok in oks if not ok)
    correct = wrong == 0 and (a.workload != "rest_ann" or
                              recall >= RECALL_FLOOR)
    for o, ok in zip(ops, oks):
        if not ok:
            log("FAILED %s %s status=%s %s" % (o["kind"], o["name"],
                                               o["status"], o.get("error", "")))

    good = [o for o, ok in zip(ops, oks) if ok]
    reads = latencies(good, "read", a.workload == "operator_suite")
    writes = latencies(good, "write", a.workload == "operator_suite")
    wall_s = res["wall_ms"] / 1000.0
    # JVM launch to the first timed operation
    session_s = res["session_ready_epoch_ms"] / 1000.0 - launched
    setup_s = session_s + res["setup_ms"] / 1000.0
    log("%s seed=%d: %d ops in %.2f s (%d read, %d write samples), "
        "setup %.2f s (session %.2f s, warm-up %.0f ms), recall %.4f" % (
            a.workload, a.seed, len(ops), wall_s, len(reads), len(writes),
            setup_s, session_s, res["warmup_ms"], recall))
    if a.workload == "operator_suite":
        per = len(plan["passes"][0])
        log("timed passes (s): %s" % [
            round(sum(o["ms"] for o in ops[i:i + per]) / 1000.0, 2)
            for i in range(0, len(ops), per)])
    if steal1[1] > steal0[1]:
        log("CPU time stolen by the hypervisor during the run: %.1f %%" % (
            100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])))

    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_ops": (len(good) / wall_s, "1/s"),
        "read_p50_ms": (pct(reads, 50), "ms"),
        "read_p90_ms": (pct(reads, 90), "ms"),
        "write_p50_ms": (pct(writes, 50), "ms"),
        "cpu_ms_per_op": (res["cpu_ms"] / max(1, len(ops)), "ms"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
        "recall_at_10": (recall, "1"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if a.trace:
        # the untraced figures of a traced run show the tracing overhead
        log("traced run, end-to-end figures: %s" % json.dumps(
            {k: round(v["value"], 4) for k, v in metrics.items()}))
        if "diag" in res:
            log("diagnostics: %s" % json.dumps(res["diag"]))
        metrics = {n: {"value": float(res["layers"].get(n, 0.0)),
                       "unit": unit_of(n)} for n in PER_LAYER}
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
