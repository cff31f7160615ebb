#!/usr/bin/env python3
"""graft's benchmark: one workload, one run.

    python3 perfbench/run.py --workload dedup_corpus --seed 1 --seconds 12 --trace 0

Builds the harness (first run only), generates the workload's inputs
from the seed, drives graft in a local[N] Spark JVM (N = the CPUs this
process may use), checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics of a second,
traced window (and the tracing overhead against the untraced one).
Every run also leaves a full artifact under perfbench/target/results/.
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
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

TARGET = os.path.join(HERE, "target")
DEADLINE_S = 170  # a run (after the build) must end within 180 s

# Workload parameters, fixed so every run of a workload does the same
# amount of work; only the seed changes the inputs.
STREAM = dict(rate=400, warm_s=8, late_share=0.02, backlog=30_000, drains=5)
DEDUP_DOCS = 10_000

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def _read(path):
    with open(path) as f:
        return f.read()


def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """The harness classpath, compiling graft and the harness with sbt
    when their sources changed since the last build in this checkout.
    """
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("graft's sources (src/main/scala/graft, build.sbt) are not beside "
            "perfbench/; run from a graft checkout")
        sys.exit(2)
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = os.path.join(TARGET, "classpath.stamp")
    fp = _fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and _read(stamp) == fp:
        return _read(cp_file).strip()
    log("building graft and the harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log("build failed")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return _read(cp_file).strip()


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, data, windows, seconds):
    if workload == "dedup_corpus":
        return gen.corpus(data, seed, DEDUP_DOCS)
    rng = np.random.default_rng(seed)
    msgs = gen.payments(rng, windows, STREAM["rate"], seconds, STREAM["warm_s"],
                        STREAM["late_share"], STREAM["backlog"], STREAM["drains"])
    os.makedirs(data, exist_ok=True)
    gen.write_payments(f"{data}/payments.tsv", msgs)
    return msgs


def run_jvm(cp, args, work, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = [java, *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.Main", *args]
    with open(f"{work}/jvm.log", "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-3000:]
        log(f"harness JVM failed ({rc}):\n{tail}")
        sys.exit(4)


# ---------------------------------------------------------------- metrics

def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs)


def stream_samples(msgs, res, window):
    """Latency of each admitted open-loop message, drain rate of each
    backlog, and generator lateness of each open-loop message, in one
    window.
    """
    chk = res["checks"]
    batch_of = checks.stream_batches(res)
    emit = {e["batch"]: e["emit_ns"] for e in chk["emits"]}
    w = res["windows"][window]
    start = w["extra"]["open_start_ns"]
    seg, late = msgs["segment"], msgs["late"]
    in_open = np.flatnonzero((msgs["window"] == window) & (seg == "open"))
    idx = [i for i in in_open if not late[i] and batch_of.get(i)]
    lat = stats.open_loop_latency_ms(
        start, [msgs["sched_us"][i] for i in idx],
        [emit[batch_of[i]["batch"]] for i in idx])
    rates = []
    for d in w["extra"]["drains"]:
        ids = np.flatnonzero((msgs["window"] == window) & (seg == "drain") &
                             (msgs["k"] == d["k"]))
        last = max(emit[batch_of[i]["batch"]] for i in ids)
        rates.append(d["events"] / ((last - d["push_ns"]) / 1e9))
    pushed = {}
    for _, first, until, t in chk["pushes"]:
        for i in range(first, until):
            pushed[i] = t
    gen_late = stats.generator_lateness_ms(
        start, [msgs["sched_us"][i] for i in in_open], [pushed[i] for i in in_open])
    return lat, rates, gen_late


def samples(workload, res, inputs, window):
    """(latency samples in ms, throughput per second) of one window."""
    w = res["windows"][window]
    if workload == "dedup_corpus":
        passes = {}
        for op in w["ops"]:
            key = op["id"].rsplit(".", 1)[0]
            passes[key] = passes.get(key, 0.0) + op["wall_ms"]
        walls = list(passes.values())
        return walls, w["extra"]["docs"] * len(walls) / (sum(walls) / 1000)
    lat, rates, _ = stream_samples(inputs, res, window)
    return lat, _med(rates)


def end_to_end(workload, res, inputs, ok_ratio):
    lat, thr = samples(workload, res, inputs, 0)
    p, tail = stats.tail(lat)
    return {
        "setup_s": (_med([s["s"] for s in res["setup"]]), "s"),
        "latency_ms.p50": (stats.percentile(lat, 50), "ms"),
        "latency_ms.tail": (tail, "ms"),
        "throughput_per_s": (thr, "1/s"),
        "ok_ops_ratio": (ok_ratio, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"latency_samples": len(lat), "tail_percentile": p}


def per_layer(workload, res, inputs):
    w = res["windows"][1]
    env = w["env"]
    spans = res["spans"]
    selfs = stats.self_times(spans)
    ex = [op["exec"] for op in w["ops"] if "exec" in op]
    prog = []
    if workload == "stream_payments":
        batch_of = checks.stream_batches(res)
        mine = {batch_of[i]["batch"] for i in np.flatnonzero(inputs["window"] == 1)
                if batch_of.get(i)}
        prog = [p for p in res["checks"]["progress"] if p["batch"] in mine]
        ex = [w["ops"][0]["exec"]] if "exec" in w["ops"][0] else []
    n_ops = len(prog) if prog else max(1, len(ex))

    def tot(k):
        return sum(e[k] for e in ex)

    def dur(k):
        return _med([p["duration_ms"].get(k, 0) for p in prog])

    tasks = max(1, tot("tasks"))
    p50_u = _mean([stats.percentile(samples(workload, res, inputs, i)[0], 50) for i in (0, 2)])
    p50_t = stats.percentile(samples(workload, res, inputs, 1)[0], 50)
    m = {
        "tables.load_ms": (_med([s.get("tables_load_ms", 0.0) for s in res["setup"]]), "ms"),
        "tables.input_bytes": (tot("input_bytes") / n_ops, "bytes"),
        "queries.build_ms": (_med([op.get("build_ms", 0.0) for op in w["ops"]]), "ms"),
        "queries.action_ms": (_med([op.get("action_ms", 0.0) for op in w["ops"]]), "ms"),
        "queries.action_self_ms": (_med([s for sp, s in zip(spans, selfs)
                                         if sp["name"] == "action"]), "ms"),
        "plan.analysis_ms": (tot("analysis_ms") / n_ops, "ms"),
        "plan.optimization_ms": (tot("optimization_ms") / n_ops, "ms"),
        "plan.planning_ms": (tot("planning_ms") / n_ops, "ms"),
        "exec.jobs": (tot("jobs") / n_ops, "count"),
        "exec.stages": (tot("stages") / n_ops, "count"),
        "exec.tasks": (tot("tasks") / n_ops, "count"),
        "exec.scheduler_delay_ms": (tot("scheduler_delay_ms") / n_ops, "ms"),
        "exec.task_deser_ms": (tot("task_deser_ms") / n_ops, "ms"),
        "exec.task_cpu_s": (tot("task_cpu_ns") / 1e9 / n_ops, "s"),
        "exec.bytes_per_task": ((tot("input_bytes") + tot("shuffle_read_bytes")) / tasks, "bytes"),
        "exec.shuffle_read_bytes": (tot("shuffle_read_bytes") / n_ops, "bytes"),
        "exec.shuffle_write_bytes": (tot("shuffle_write_bytes") / n_ops, "bytes"),
        "exec.spill_bytes": (tot("spill_bytes") / n_ops, "bytes"),
        "exec.task_gc_ms": (tot("task_gc_ms") / n_ops, "ms"),
        "exec.tasks_failed": (tot("tasks_failed"), "count"),
        "exec.stage_reattempts": (tot("stage_reattempts"), "count"),
        "functions.tokens_rows_per_s": (w["layers"].get("tokens_rows_per_s", 0.0), "1/s"),
        "functions.minhash_rows_per_s": (w["layers"].get("minhash_rows_per_s", 0.0), "1/s"),
        "functions.simhash_rows_per_s": (w["layers"].get("simhash_rows_per_s", 0.0), "1/s"),
        "dedup.verified_pairs": (0.0, "count"),
        "dedup.verify_yield": (0.0, "ratio"),
        "dedup.label_rounds": (0.0, "count"),
        "streaming.queryPlanning_ms": (dur("queryPlanning"), "ms"),
        "streaming.getBatch_ms": (dur("getBatch"), "ms"),
        "streaming.walCommit_ms": (dur("walCommit"), "ms"),
        "streaming.commitOffsets_ms": (dur("commitOffsets"), "ms"),
        "streaming.batch_ms.p50": (dur("triggerExecution"), "ms"),
        "streaming.addBatch_ms": (dur("addBatch"), "ms"),
        "streaming.rows_per_batch": (0.0, "count"),
        "streaming.state_rows": (max([p["state_rows"] for p in prog], default=0), "count"),
        "streaming.state_mem_bytes": (max([p["state_mem_bytes"] for p in prog], default=0), "bytes"),
        "streaming.dropped_by_watermark": (sum(p["dropped_by_watermark"] for p in prog), "count"),
        "streaming.backlog_events": (0.0, "count"),
        "streaming.generator_late_ms.p99": (0.0, "ms"),
        "jvm.gc_s": (env["gc_s"], "s"),
        "jvm.jit_s": (env["jit_s"], "s"),
        "host.steal_s": (env["steal_s"], "s"),
        "host.iowait_s": (env["iowait_s"], "s"),
        "host.concurrent_graft_jvms": (env["concurrent_graft_jvms"], "count"),
        "trace.overhead_pct": ((p50_t / p50_u - 1) * 100, "%"),
    }
    if workload == "dedup_corpus":
        mh = [op for op in w["ops"] if op["kind"] == "minhash"]
        est = [op["exec"]["observed"].get("est_pairs", 0) for op in mh]
        pairs = [op["pairs"] for op in mh]
        m["dedup.verified_pairs"] = (_med(pairs), "count")
        m["dedup.verify_yield"] = (sum(pairs) / sum(est) if sum(est) else 0.0, "ratio")
        m["dedup.label_rounds"] = (_med([op["label_rounds"] for op in w["ops"]
                                         if op["kind"] == "labels"]), "count")
    if workload == "stream_payments":
        _, _, late = stream_samples(inputs, res, 1)
        batch_of = checks.stream_batches(res)
        drain_batches = {batch_of[i]["batch"] for i in np.flatnonzero(
            (inputs["window"] == 1) & (inputs["segment"] == "drain"))}
        open_rows = [p["rows"] for p in prog if p["batch"] not in drain_batches]
        m["streaming.rows_per_batch"] = (_med([p["rows"] for p in prog
                                               if p["batch"] in drain_batches]), "count")
        m["streaming.backlog_events"] = (_med(open_rows), "count")
        m["streaming.generator_late_ms.p99"] = (stats.percentile(late, 99), "ms")
    return m


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_payments", "dedup_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results-dir", default=os.path.join(TARGET, "results"))
    a = ap.parse_args()
    cp = build()
    t_start = time.time()
    work = os.path.join(TARGET, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = f"{work}/data"
    windows = 1 + 2 * a.trace
    inputs = make_inputs(a.workload, a.seed, data, windows, a.seconds)
    log(f"inputs ready in {time.time() - t_start:.1f} s")
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                 "--out", f"{work}/result.json", "--seconds", str(a.seconds),
                 "--seed", str(a.seed), "--trace", str(a.trace), "--cpus", str(cpus())],
            work, DEADLINE_S - (time.time() - t_start))
    with open(f"{work}/result.json") as f:
        res = json.load(f)
    log(f"harness done at {time.time() - t_start:.1f} s")
    if a.workload == "stream_payments":
        failed_ids, notes = checks.stream_payments(inputs, res)
    else:
        failed_ids, notes = checks.dedup_corpus(inputs, res)
        unplanned = checks.plan_coverage(res)
        if unplanned:
            notes.append(f"no plan spans traced for {unplanned}")
            failed_ids = sorted(set(failed_ids) | set(unplanned))
    log(f"checks done at {time.time() - t_start:.1f} s")
    if a.workload == "stream_payments":
        attempted = int((inputs["segment"] != "setup").sum())
    else:
        attempted = sum(len(w["ops"]) for w in res["windows"])
    failed = min(attempted, len(failed_ids))
    for n in notes[:20]:
        log(f"check failed: {n}")
    e2e, detail = end_to_end(a.workload, res, inputs, 1 - failed / attempted)
    metrics = per_layer(a.workload, res, inputs) if a.trace else e2e
    out = {"correct": not failed_ids and not notes, "attempted": attempted,
           "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(a.results_dir, exist_ok=True)
    with open(os.path.join(a.results_dir, f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{int(time.time() * 1000)}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "result": out,
                   "end_to_end": {k: v for k, (v, _) in e2e.items()}, "detail": detail,
                   "env": [w["env"] for w in res["windows"]],
                   "spark_start_s": res["spark_start_s"], "setup": res["setup"],
                   "op_tasks": {op["id"]: op["tasks"] for w in res["windows"]
                                for op in w["ops"]},
                   "op_exec": {op["id"]: dict(op["exec"], wall_ms=op["wall_ms"])
                               for w in res["windows"] for op in w["ops"]
                               if "exec" in op},
                   "notes": notes}, f)
    if a.trace:
        with open(f"{work}/spans.jsonl", "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
    # keep the JVM log, the spans and, when a check failed, the harness's
    # raw result; inputs, outputs and Spark's files go
    keep = {"jvm.log", "spans.jsonl"} | ({"result.json"} if notes else set())
    for name in set(os.listdir(work)) - keep:
        path = os.path.join(work, name)
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
    log(f"{a.workload} seed {a.seed}: " + ", ".join(
        f"{k}={v:.4g}" for k, (v, _) in e2e.items()) + f" ({detail})")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
