#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout.  Builds the program and the
benchmark process from source (perfbench/build.sbt, once per source
digest), generates the seeded inputs and their DuckDB oracle (once per
seed, untimed), runs one closed-loop JVM for the workload, checks every
op's output and prints, as the last line of stdout, one JSON object with
`correct`, `attempted`, `failed` and `metrics`.  See perfbench/README.md.
"""
import argparse
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

WORKLOADS = ("feature_pipeline", "model_fit", "corpus_build")
# Spark task slots.  The ops are per-job overhead on small inputs, so two
# slots lose no speed, and they leave the other cores of a 4-core machine
# to the driver thread, the JIT compiler and GC threads instead of
# oversubscribing them (which on a shared host measures the scheduler).
MAX_CORES = 2
HEAP = "2g"
# A fixed-size heap with a fixed young generation: the resident set then
# grows the same way on every run, so peak_rss_mb compares across runs.
# Generated classes grow the metaspace all run long; a high first
# threshold keeps that from triggering full collections mid-op.
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=512m", "-XX:ReservedCodeCacheSize=512m"]
# Untimed, checked ops between set-up and timing: op time keeps falling
# over the first dozen ops of a JVM while the JIT compiles Spark's
# planning code, fastest right after the burn-in.  More would take the
# time the runs of all workloads must fit in.
WARMUP_OPS = 1
KEEP_SEEDS = 32         # generated input sets kept per workload
RUN_TIMEOUT_S = 170     # whole run, after the build
BUILD_TIMEOUT_S = 700

# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the program's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

MB = 1024.0 * 1024.0

# Metric names and units are declared in BENCHMARK.json; these are the
# values computed for them.  Per-layer values come from traced ops;
# layers a workload does not run stay 0.
END_TO_END = ("setup_s", "op_s.p50", "rows_per_s", "ok_frac", "peak_rss_mb")
PER_LAYER = (
    "io.read_s", "io.read_mb", "io.write_s", "io.write_mb",
    "ops.join_s", "ops.join.shuffle_mb", "ops.join.broadcasts",
    "frame.sequence_s", "frame.sequence.shuffle_mb",
    "exprlang.compile_ms", "exprlang.eval_s", "exprlang.agg_jobs",
    "encode.fit_s", "encode.fit_jobs", "encode.apply_s",
    "functions.diag_s", "functions.diag_jobs",
    "ml.fit_local_s", "ml.predict_s", "ml.fit_dist_s", "ml.fit_dist.jobs",
    "ml.step_ms", "ml.collect_mb",
    "llmdata.normalize_s", "llmdata.dedup_s", "llmdata.filter_s",
    "llmdata.decontam_s", "llmdata.tokenize_s", "llmdata.sample_s",
    "llmdata.lsh.candidates", "llmdata.lsh.verified",
    "llmdata.lsh.precision",
    "caches.pinned_mb",
    "spark.plan_ms", "spark.codegen_ms", "spark.jobs", "spark.tasks",
    "spark.sched_wait_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.spill_mb",
    "trace.op_s.p50", "trace.overhead_s",
)

# span name -> the time metric its self time counts toward
SPAN_TIME = {
    "io.read": "io.read_s", "io.write": "io.write_s",
    "ops.join": "ops.join_s", "frame.sequence": "frame.sequence_s",
    "exprlang.eval": "exprlang.eval_s",
    "encode.fit": "encode.fit_s", "encode.apply": "encode.apply_s",
    "functions.describe": "functions.diag_s",
    "functions.diag": "functions.diag_s",
    "ml.fit_local": "ml.fit_local_s", "ml.predict": "ml.predict_s",
    "ml.fit_dist": "ml.fit_dist_s",
    "llmdata.normalize": "llmdata.normalize_s",
    "llmdata.dedup": "llmdata.dedup_s",
    "llmdata.lsh.candidates": "llmdata.dedup_s",
    "llmdata.lsh.verify": "llmdata.dedup_s",
    "llmdata.filter": "llmdata.filter_s",
    "llmdata.decontam": "llmdata.decontam_s",
    "llmdata.tokenize": "llmdata.tokenize_s",
    "llmdata.sample": "llmdata.sample_s",
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------ statistics

def self_time(span, children):
    """Span duration minus the union of the intervals its children
    cover (children clipped to the span)."""
    s, e = span["start_ns"], span["end_ns"]
    ivs = sorted((max(s, c["start_ns"]), min(e, c["end_ns"]))
                 for c in children)
    covered, cur_s, cur_e = 0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (e - s) - covered


def account(ops, is_ok):
    """Split timed op records into (attempted, failed, ok seconds).  An
    op that threw or whose output fails `is_ok` is failed and adds no
    time sample."""
    attempted, failed, secs = 0, 0, []
    for r in ops:
        attempted += 1
        if r.get("error") is None and is_ok(r.get("output")):
            secs.append(r["seconds"])
        else:
            failed += 1
    return attempted, failed, secs


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans, op_records):
    """Per-layer metrics: the median over traced ops of each op's
    values, from spans keyed by op id."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    per_op = []
    for op, ss in sorted(by_op.items()):
        kids = {}
        for s in ss:
            kids.setdefault(s["parent"], []).append(s)
        v = {k: 0.0 for k in PER_LAYER}

        def tot(pred, field):
            return sum(s.get(field, 0) for s in ss if pred(s["name"]))

        for s in ss:
            m = SPAN_TIME.get(s["name"])
            if m:
                v[m] += self_time(s, kids.get(s["id"], [])) / 1e9
            if s["name"] == "exprlang.addToPipe":
                v["exprlang.compile_ms"] += \
                    self_time(s, kids.get(s["id"], [])) / 1e6
            if s["name"] == "ops.join":
                v["ops.join.broadcasts"] += s.get("broadcasts", 0)
            if s["name"] == "llmdata.lsh.candidates":
                v["llmdata.lsh.candidates"] += s.get("rows", 0)
            if s["name"] == "llmdata.lsh.verify":
                v["llmdata.lsh.verified"] += s.get("rows", 0)
        eq = lambda n: (lambda x: x == n)
        pre = lambda p: (lambda x: x.startswith(p))
        v["io.read_mb"] = tot(eq("io.read"), "input_b") / MB
        v["io.write_mb"] = tot(eq("io.write"), "output_b") / MB
        v["ops.join.shuffle_mb"] = tot(eq("ops.join"), "shuffle_write_b") / MB
        v["frame.sequence.shuffle_mb"] = \
            tot(eq("frame.sequence"), "shuffle_write_b") / MB
        v["exprlang.agg_jobs"] = tot(pre("exprlang."), "jobs")
        v["encode.fit_jobs"] = tot(eq("encode.fit"), "jobs")
        v["functions.diag_jobs"] = tot(pre("functions."), "jobs")
        v["ml.fit_dist.jobs"] = tot(eq("ml.fit_dist"), "jobs")
        steps = tot(eq("ml.fit_dist"), "steps")
        if steps:
            v["ml.step_ms"] = v["ml.fit_dist_s"] * 1000.0 / steps
        v["ml.collect_mb"] = tot(pre("ml."), "result_b") / MB
        if v["llmdata.lsh.candidates"] > 0:
            v["llmdata.lsh.precision"] = \
                v["llmdata.lsh.verified"] / v["llmdata.lsh.candidates"]
        every = lambda x: True
        v["spark.plan_ms"] = tot(every, "plan_ms")
        v["spark.jobs"] = tot(every, "jobs")
        v["spark.tasks"] = tot(every, "tasks")
        v["spark.sched_wait_s"] = tot(every, "sched_wait_ms") / 1e3
        v["spark.executor_cpu_s"] = tot(every, "cpu_ns") / 1e9
        v["spark.gc_s"] = tot(every, "gc_ms") / 1e3
        v["spark.shuffle_write_mb"] = tot(every, "shuffle_write_b") / MB
        v["spark.spill_mb"] = tot(every, "spill_b") / MB
        per_op.append(v)
    out = {k: median([v[k] for v in per_op]) for k in PER_LAYER}
    traced = [r for r in op_records if r["traced"] and r["error"] is None]
    plain = [r for r in op_records if not r["traced"] and r["error"] is None]
    out["spark.codegen_ms"] = median([r["codegen_ms"] for r in traced])
    out["caches.pinned_mb"] = median([r["pinned_b"] / MB for r in plain])
    out["trace.op_s.p50"] = median([r["seconds"] for r in traced])
    out["trace.overhead_s"] = out["trace.op_s.p50"] - \
        median([r["seconds"] for r in plain])
    return out


# ------------------------------------------------------------- checking

def make_checker(workload, expected):
    """The per-op output check against the oracle (or, for model_fit,
    the accuracy gate and one prediction hash per run)."""
    if workload == "feature_pipeline":
        def ok(out):
            return (out is not None
                    and out["fingerprint"] == [expected["fingerprint"]]
                    and out["profile"] == [expected["profile"]])
        return ok
    if workload == "corpus_build":
        return lambda out: out == expected["summary"]
    first = []

    def ok_model(out):
        if out is None or out["acc_local"] < 0.80 or out["acc_dist"] < 0.80:
            return False
        if not first:
            first.append(out["pred_hash"])
        return out["pred_hash"] == first[0]
    return ok_model


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile graft and the benchmark process; return the classpath."""
    stamp = os.path.join(WORK, "build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"]
    log("[perfbench] building graft + benchmark (sbt)")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as lf:
        r = subprocess.run(["sbt", "-batch", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_TIMEOUT_S)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        raise SystemExit("[perfbench] build failed; see perfbench/work/build/sbt.log")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# --------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached; returns the dir."""
    import gen
    base = os.path.join(WORK, "inputs", workload)
    d = os.path.join(base, f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        os.makedirs(base, exist_ok=True)
        old = sorted((os.path.getmtime(os.path.join(base, x)), x)
                     for x in os.listdir(base))
        for _, x in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
            shutil.rmtree(os.path.join(base, x), ignore_errors=True)
        m = gen.generate(workload, seed, d)
        log(f"[perfbench] generated {workload} seed {seed} in "
            f"{m['generate_s']}s: {m['rows']}")
    if workload == "feature_pipeline" and \
            not os.path.exists(os.path.join(d, "expected.json")):
        exp = gen.oracle_feature(d)
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(exp, f)
    return d


def fingerprint_outputs(recs):
    """feature_pipeline ops leave their written table behind; replace
    each op's output with that table's fingerprint, taken in DuckDB."""
    import duckdb
    import gen
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for r in recs:
        out = r.get("output")
        if isinstance(out, dict) and "written" in out:
            r["output"] = {
                "fingerprint": [gen.fingerprint_written(con, out["written"])],
                "profile": out["profile"]}
            shutil.rmtree(out["written"], ignore_errors=True)
    con.close()


def expected_output(workload, data, run_dir):
    import gen
    if workload == "feature_pipeline":
        with open(os.path.join(data, "expected.json")) as f:
            return json.load(f)
    if workload == "corpus_build":
        with open(os.path.join(run_dir, "bpe_merges.json")) as f:
            merges = json.load(f)
        key = hashlib.sha256(json.dumps(merges).encode()).hexdigest()[:16]
        cache = os.path.join(data, f"expected-{key}.json")
        if not os.path.exists(cache):
            exp = gen.oracle_corpus(data, merges)
            with open(cache, "w") as f:
                json.dump(exp, f)
        with open(cache) as f:
            return json.load(f)
    return None


# ------------------------------------------------------------------ run

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies():
    """(busy, steal, total) jiffies of the whole machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - v[3] - v[4], steal, sum(v)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, workload, data, run_dir, seconds, trace, cores,
            deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + JVM_OPTS
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", classpath, "graftbench.Main", workload, data, run_dir,
              str(seconds), str(trace), str(cores), str(WARMUP_OPS)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("[perfbench] benchmark process timed out")
        finally:
            # on every way out (timeout, SIGTERM, interrupt) the JVM is
            # stopped and waited for
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit(f"[perfbench] benchmark process exited "
                         f"{p.returncode}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "records.jsonl")) as f:
        return [json.loads(l) for l in f if l.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("[perfbench] no graft sources next to perfbench/ "
            "(run from the root of a graft checkout)")
        return 2
    digest = source_digest()
    classpath = build(digest)
    t_run = time.time()
    data = inputs(a.workload, a.seed)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)

    cores = min(MAX_CORES, os.cpu_count() or 1)
    run_dir = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_before, cpu_before = loadavg(), cpu_jiffies()
    recs = run_jvm(classpath, a.workload, data, run_dir, a.seconds, a.trace,
                   cores, t_run + RUN_TIMEOUT_S)
    load_after, cpu_after = loadavg(), cpu_jiffies()
    d_total = max(1, cpu_after[2] - cpu_before[2])

    setup = next(r for r in recs if r["kind"] == "setup")
    end = next(r for r in recs if r["kind"] == "end")
    burnin = next(r for r in recs if r["kind"] == "burnin")
    ops = [r for r in recs if r["kind"] == "op"]
    t_check = time.time()
    if a.workload == "feature_pipeline":
        fingerprint_outputs(recs)
    ok = make_checker(a.workload,
                      expected_output(a.workload, data, run_dir))
    warmup = [r for r in recs if r["kind"] == "warmup"]
    burnin_ok = all(r["error"] is None and ok(r["output"])
                    for r in [burnin] + warmup)
    attempted, failed, _ = account(ops, ok)
    untraced = [r for r in ops if not r["traced"]]
    _, _, secs = account(untraced, ok)
    rows = setup["input_rows"]
    n_ok = attempted - failed
    wall = sum(r["seconds"] for r in ops)

    if a.trace:
        spans = []
        sp = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(sp):
            with open(sp) as f:
                spans = [json.loads(l) for l in f if l.strip()]
        vals = layer_metrics(spans, ops)
        print(json.dumps({"trace_overhead": {
            "traced_op_s.p50": vals["trace.op_s.p50"],
            "untraced_op_s.p50": median(secs),
            "overhead_s": vals["trace.overhead_s"]}}))
    else:
        vals = {
            "setup_s": setup["setup_s"],
            "op_s.p50": median(secs),
            "rows_per_s": rows * n_ok / wall if wall > 0 else 0.0,
            "ok_frac": n_ok / attempted if attempted else 0.0,
            "peak_rss_mb": end["peak_rss_mb"],
        }

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
               for m in declared}
    conditions = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(), "master": setup["master"],
        "xmx": HEAP, "max_heap_mb": setup["max_heap_mb"],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_busy_share": round((cpu_after[0] - cpu_before[0]) / d_total, 4),
        "cpu_steal_share": round((cpu_after[1] - cpu_before[1]) / d_total, 4),
        "jvm": setup["jvm"], "spark_version": setup["spark_version"],
        "input_manifest_digest": manifest["digest"],
        "input_rows": manifest["rows"], "planted": manifest["planted"],
        "git_commit": git_commit(), "source_digest": digest,
        "ops": attempted, "op_seconds": [r["seconds"] for r in ops],
        "check_seconds": [r["check_s"] for r in warmup + ops],
        "warmup_op_seconds": [r["seconds"] for r in warmup],
        "burnin_ok": burnin_ok,
        "errors": sorted({r["error"] for r in [burnin] + warmup + ops
                          if r["error"]}),
        "setup_phases_s": {k: setup[k] for k in
                           ("session_s", "register_s", "burnin_s")},
        "post_check_s": round(time.time() - t_check, 3),
        "run_wall_s": round(time.time() - t_run, 3),
        "total_wall_s": round(time.time() - t_start, 3),
    }
    print(json.dumps({"run_conditions": conditions}))
    print(json.dumps({
        "correct": bool(burnin_ok and failed == 0 and attempted > 0),
        "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
