#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads, one client thread each.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the
benchmark's JVM program (`perfbench/driver`, an sbt build of its own) and
caches the classpath under `$CARGO_TARGET_DIR` (default `.bench_build`); later runs
reuse it until a source file changes. Each run then

1. makes its inputs from the seed (`gen.py`),
2. starts one JVM that sets up several times (median = `setup_s`), warms
   up, runs the workload for `--seconds` (with `--trace 1`, alternating
   untraced and traced steps), and dumps what the checks need,
3. checks every result (`checks.py`), and
4. prints the metrics. The last stdout line is one JSON object with
   `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
   of BENCHMARK.json with `--trace 0`, the per-layer ones with `--trace 1`.
   The full report (every sample count, the environment and the
   workload-specific metrics) is printed on the line before it and kept
   in `<build dir>/results/`; `compare.py` diffs such reports.

Workloads (why each was chosen is in BENCHMARK.json):
  etl_gated_load   Pipeline.run: CSV extract, cleaning, validation gate,
                   TableLog upsert; one run in four must abort at the gate
  analytics_mix    passes over six oracle-backed SparkEntry queries
  table_log_churn  small TableLog commits, each followed by a latest and a
                   time-travel read; checked like the others, but not listed
                   in BENCHMARK.json, so that a round of runs over all listed
                   workloads stays under an hour
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
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

WORKLOADS = ("etl_gated_load", "analytics_mix", "table_log_churn")
# scale factor of the generated tables, per workload: small enough that the
# JVM start, set-up and warm-up of a run stay within about 35 s
SCALE = {"etl_gated_load": 0.01, "analytics_mix": 0.01, "table_log_churn": 0.05}
SETUP_REPS = 3
CHURN_STEPS, CHURN_BATCH = 400, 200
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "driver", "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "driver", "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build graft and the benchmark's JVM program (`perfbench/driver`) if
    their sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: run from the root of a graft checkout (build.sbt, src/ not found)")
    cache = os.path.join(build_dir(), "classpath.json")
    digest = source_digest()
    if os.path.isfile(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["digest"] == digest and all(os.path.exists(e) for e in c["classpath"].split(os.pathsep)):
            return c["classpath"]
    log("building graft and the benchmark driver (sbt)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "driver"), env=env, capture_output=True,
                       text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    with open(cache, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def make_inputs(workload, seed, input_dir):
    import numpy as np
    import gen
    rng = np.random.default_rng(seed)
    tables = os.path.join(input_dir, "tables")
    gen.star_schema(rng, tables, SCALE[workload])
    if workload == "etl_gated_load":
        gen.etl_landing(rng, tables, os.path.join(input_dir, "etl"))
    elif workload == "table_log_churn":
        gen.churn_script(rng, tables, os.path.join(input_dir, "churn"), CHURN_STEPS, CHURN_BATCH)


def run_jvm(cp, args, run_dir):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    env.pop("GRAFT_CONF", None)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
           + opens + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=170)
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: driver JVM exited with {p.returncode}")


# ---------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it, once
    there are 30 samples or more (so it lies above the median by a margin);
    with fewer, the maximum."""
    s = sorted(xs)
    n = len(s)
    return (s[n - 11], round(100.0 * (n - 10) / n, 1)) if n >= 30 else (s[-1], 100.0)


def dist(xs):
    if not xs:
        return {"n": 0}
    t, pct = tail(xs)
    return {"n": len(xs), "p50": statistics.median(xs), "tail": t, "tail_pct": pct,
            "mean": statistics.fmean(xs)}


def secs(op):
    return (op["t1"] - op["t0"]) / 1e9


def job_s(op, window):
    """Seconds of `window` (epoch ms) during which a Spark job ran."""
    w0, w1 = window
    busy, end = 0, w0
    for s, e in sorted(op["job_ms"]):
        s, e = max(s, end), min(e, w1)
        if e > s:
            busy, end = busy + e - s, e
    return busy / 1e3


def primary(workload, ops):
    """The ops the per-layer figures average over: passing pipeline runs,
    query executions, or commits (checkpoints included)."""
    ok = [o for o in ops if o["ok"]]
    if workload == "etl_gated_load":
        return [o for o in ok if not o["aborted"]]
    if workload == "analytics_mix":
        return ok
    return [o for o in ok if o["kind"] == "commit"]


def user_ops(workload, ops):
    """(seconds of each op a user waits for, ops completed): a passing
    pipeline run (an aborted one completes but is not timed), a whole pass
    over the mix (a dashboard refresh; a pass with a failed query does not
    count), or a commit."""
    ok = [o for o in ops if o["ok"]]
    if workload == "etl_gated_load":
        return [secs(o) for o in ok if not o["aborted"]], len(ok)
    if workload == "analytics_mix":
        n = len(QUERIES)
        passes = [ops[i:i + n] for i in range(0, len(ops) - n + 1, n)]
        times = [sum(secs(o) for o in p) for p in passes if all(o["ok"] for o in p)]
        return times, len(times)
    times = [secs(o) for o in ok if o["kind"] == "commit"]
    return times, len(times)


def storage_ratio(facts):
    st = facts.get("storage")
    return st["dir_bytes"] / st["live_bytes"] if st and st.get("live_bytes") else 0.0


def workload_metrics(workload, ops, facts):
    """The workload-specific end-to-end figures (pipeline run, query, commit
    and read latency, storage amplification); 0 where a workload has none."""
    ok = [o for o in ops if o["ok"]]
    runs = [secs(o) for o in ok if o["kind"] == "etl" and not o["aborted"]]
    queries = [secs(o) for o in ok if o["kind"] == "query"]
    commits = [secs(o) for o in ok if o["kind"] == "commit"]
    reads = [secs(o) for o in ok if o["kind"] == "read" and o["name"] != "changes"]
    passes = len([o for o in ops if o["kind"] == "query"]) // len(QUERIES)
    m = {"etl.rows_per_s": sum(o["loaded"] for o in ok if o["kind"] == "etl" and not o["aborted"])
         / sum(runs) if runs else 0.0,
         "query.pass_s": sum(queries) / passes if passes else 0.0,
         "storage.bytes_per_live_byte": storage_ratio(facts)}
    for name, xs in (("etl.run_s", runs), ("query.s", queries), ("commit.s", commits),
                     ("read.s", reads)):
        d = dist(xs)
        m[f"{name}.p50"] = d.get("p50", 0.0)
        m[f"{name}.tail"] = d.get("tail", 0.0)
        m[f"{name}.n"] = d["n"]
    return m


def layer_metrics(workload, raw):
    """Per-layer figures from the traced half of a `--trace 1` run: means
    per op of span self time and of listener counts."""
    ops = [o for o in raw["traced_ops"] if o["ok"]]
    spans = raw["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def self_s(s):
        # spans nest strictly on one thread, so children never overlap
        return (s["t1"] - s["t0"] - sum(c["t1"] - c["t0"] for c in children.get(s["id"], []))) / 1e9

    def per_op(ids, pred):
        sel = [s for s in spans if s["op"] in ids and pred(s["name"])]
        return sum(self_s(s) for s in sel) / len(ids) if ids else 0.0

    def mean(vals):
        vals = list(vals)
        return statistics.fmean(vals) if vals else 0.0

    m = {}
    main = primary(workload, ops)
    ids = {o["id"] for o in main}
    layer = lambda prefix: per_op(ids, lambda n: n.startswith(prefix))
    m["sources.extract_s"] = layer("sources.")
    m["cleaning.transform_s"] = layer("cleaning.")
    m["validation.gate_s"] = layer("validation.gate")
    m["validation.source_scans_per_run"] = mean(o["source_scans"] for o in main) \
        if workload == "etl_gated_load" else 0.0
    m["pipeline.jobs_per_run"] = mean(o["jobs"] for o in main) if workload == "etl_gated_load" else 0.0
    m["pipeline.self_s"] = per_op(ids, lambda n: n == "op.etl")
    m["tablelog.load_s"] = layer("tablelog.load")
    commits = [o for o in main if "files_added" in o]
    m["tablelog.files_added_per_commit"] = mean(o["files_added"] for o in commits)
    m["tablelog.bytes_written_per_commit"] = mean(o["bytes_written"] for o in commits)
    # TableLog wall outside Spark jobs (log replay, snapshot fold, manifest
    # codec, the CAS publish): of each ETL load, or each churn commit
    m["tablelog.meta_s"] = mean(
        [o["load_s"] - job_s(o, o["load_ms"]) for o in main if o["kind"] == "etl"]
        + [secs(o) - job_s(o, o["window_ms"]) for o in ops if o["kind"] == "commit"])
    m["tablelog.version_resolve_s"] = mean(
        (s["t1"] - s["t0"]) / 1e9 for s in spans if s["name"] == "tablelog.version_resolve")
    for name in ("latest", "timetravel"):
        m[f"tablelog.read_{name}_s"] = mean(secs(o) for o in ops if o["kind"] == "read" and o["name"] == name)
    m["tablelog.checkpoint_s"] = mean(secs(o) for o in ops if o["name"] == "checkpoint")
    m["tablelog.log_versions"] = float(max([o.get("version", 0) for o in ops] + [0]))
    m["entry.build_s"] = layer("entry.build")
    for q in QUERIES:
        qs = [o for o in ops if o["kind"] == "query" and o["name"] == q]
        m[f"q.{q}.build_s"] = mean(o["build_s"] for o in qs)
        m[f"q.{q}.exec_s"] = mean(secs(o) - o["build_s"] for o in qs)
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_s"] = mean(o[f"{k}_s"] for o in main)
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = mean(o[k] for o in main)
    m["exec.max_task_s"] = max([o["max_task_s"] for o in ops] + [0.0])
    m["trace.op_mean_s"] = mean(secs(o) for o in main)
    # overhead: mean traced op against mean untraced op of the same kinds,
    # from the interleaved steps of this run
    plain = mean(secs(o) for o in primary(workload, raw["ops"]))
    m["trace.overhead_frac"] = m["trace.op_mean_s"] / plain - 1.0 if plain and main else 0.0
    return m


QUERIES = ["q_order_summary", "q_validate_rules", "q_profile", "q_dedup_minhash",
           "q_zorder_scan", "q_asof_auto"]


def declared(section):
    """(name, unit) of each metric BENCHMARK.json declares in `section`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    run_dir = os.path.join(build_dir(), f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        t0 = time.time()
        make_inputs(a.workload, a.seed, input_dir)
        log(f"inputs for seed {a.seed} made in {time.time() - t0:.1f} s")
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), input_dir,
                     os.path.join(run_dir, "work"), out_dir, str(SETUP_REPS)], run_dir)
        with open(os.path.join(out_dir, "raw.json")) as f:
            raw = json.load(f)
        import checks
        bad_ids, msgs = checks.CHECKS[a.workload](raw, input_dir)
        ops = raw["ops"] + raw["traced_ops"]
        failed_ids = {o["id"] for o in ops if not o["ok"]} | {i for i in bad_ids if i >= 0}
        failed = len(failed_ids) + sum(1 for i in bad_ids if i < 0)
        attempted = len(ops) + sum(1 for i in bad_ids if i < 0)
        for o in ops:
            if not o["ok"]:
                msgs.append(f"op {o['id']} {o['kind']} {o['name']}: {o['error']}")
            # a wrong result counts like an exception: out of every timing
            o["ok"] = o["ok"] and o["id"] not in failed_ids
        times, done = user_ops(a.workload, raw["ops"])
        lat = dist(times)
        e2e = {
            "setup_s": statistics.median(raw["setup_s"]),
            "op_s.p50": lat.get("p50", 0.0),
            "ops_per_s": done / raw["measured_s"] if raw["measured_s"] else 0.0,
            "ok_frac": 1.0 - failed / attempted if attempted else 0.0,
        }
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "scale_factor": SCALE[a.workload], "setup_reps_s": raw["setup_s"], "warmup_s": raw["warmup_s"],
            "jvm_to_first_op_s": raw["jvm_to_first_op_s"], "measured_s": raw["measured_s"],
            "op_s": lat, "end_to_end": e2e,
            "workload_metrics": dict(workload_metrics(a.workload, raw["ops"], raw["facts"]),
                                     **{"ops.failed_frac": failed / attempted if attempted else 0.0}),
            "attempted": attempted, "failed": failed, "check_messages": msgs[:50],
            "env": dict(raw["env"], seed=a.seed, nproc=len(os.sched_getaffinity(0))),
        }
        if a.trace:
            report["per_layer"] = dict(layer_metrics(a.workload, raw), **report["workload_metrics"])
            report["traced_ops"] = len(raw["traced_ops"])
        res_dir = os.path.join(build_dir(), "results")
        os.makedirs(res_dir, exist_ok=True)
        with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"), "w") as f:
            json.dump(report, f, indent=1)
        for m in msgs[:20]:
            log(m)
        metrics = report["per_layer"] if a.trace else e2e
        print(json.dumps(report))
        print(json.dumps({"correct": not msgs, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": metrics[n], "unit": u} for n, u in
                                      declared("per_layer" if a.trace else "end_to_end")}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
