#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program from source with
the benchmark harness (perfbench/build.sbt), runs the workload in one
JVM on local[nproc] over the sf0.01 corpus in perfbench/data, checks
every op's output against DuckDB running the op's oracle SQL, and
prints one JSON result as the last line of stdout. Built classes and
run records live in .perfbench/ at the repository root.

Workloads:
  interactive_q  the 46 declared q-queries
  heavy_mix      three batch ops (x165 triangles, x126 Levenshtein, x328
                 raw-log parse) and a 4-micro-batch CDC stream replay
Each timed pass runs every op alone (one client, closed loop, a fresh
plan each execution), then the mix without the stream replay through
Pipeline.concurrent with nproc clients.

--seed sets only the order of ops in each pass (also the queue order of
the concurrent phase) and the salt that slices the CDC change stream
into micro-batches; the expected outputs never depend on it.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import fingerprint  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("interactive_q", "heavy_mix")
SCALE = 0.01
HEAP = "3g"
PASSES_PLANNED = 64
# wall budget of a run once the program is built (the first run in a
# checkout also builds)
RUN_LIMIT_S = 170
# Tuning switches the program reads from the environment; a benchmark
# run must not inherit any of them.
REFUSED_ENV = ("SPARK_GRAFT_CONF", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_AQE",
               "SPARK_GRAFT_PLANCACHE", "SPARK_GRAFT_BENCH_SET",
               "SPARK_GRAFT_STREAM_OPS", "SPARK_GRAFT_MASTER")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
END_TO_END = (("setup_s", "s"), ("op_geomean_ms", "ms"), ("pass_s", "s"),
              ("retained_heap_mb", "MB"))
PER_LAYER = (
    ("catalog.ensure_ms", "ms"), ("queries.build_ms", "ms"),
    ("plans.optimize_ms", "ms"), ("plans.physical_ms", "ms"),
    ("engine.execute_ms", "ms"), ("engine.jobs", "count"),
    ("engine.stages", "count"), ("engine.tasks", "count"),
    ("engine.stage_floor_ms", "ms"), ("engine.scheduler_delay_ms", "ms"),
    ("engine.executor_run_ms", "ms"), ("engine.busy_ratio", "ratio"),
    ("engine.shuffle_write_bytes", "bytes"), ("engine.shuffle_read_bytes", "bytes"),
    ("engine.result_bytes", "bytes"), ("engine.task_skew", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.scrub_ms", "ms"),
    ("pipeline.queue_wait_ms", "ms"), ("pipeline.in_flight_avg", "count"),
    ("pipeline.ops_per_s", "1/s"))


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def nproc():
    return len(os.sched_getaffinity(0))


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    """Compiles the program and the harness when their sources changed;
    returns the source digest."""
    program = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True)
    if not program:
        die("the program's sources (src/main/scala) are not in this checkout")
    harness = glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    src = digest(program + harness + [os.path.join(HERE, "build.sbt"),
                                     os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(classes_dir()) and read(stamp) == src:
        return src
    if not os.environ.get("SPARK_HOME") or not shutil.which("sbt"):
        die("building needs sbt on PATH and SPARK_HOME set")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
               + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        die(f"build failed (see {os.path.join(WORK, 'build.log')})")
    export = os.path.join(WORK, "export.json")
    jvm(["perfbench.Main", "--export", export], os.path.join(WORK, "export.log"), 120)
    write(stamp, src)
    return src


def jvm(args, log, timeout):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={nproc()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classes_dir() + os.pathsep +
              os.path.join(os.environ["SPARK_HOME"], "jars", "*")] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=WORK, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            die(f"the JVM ran past {timeout:.0f} s (see {log})")
    if rc != 0:
        die(f"the JVM exited with {rc} (see {log})")


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def write(path, text):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def expected(src, data):
    """Fingerprint each op must produce: DuckDB on the op's oracle SQL
    (the program's `SparkEntry.oracleSql`, and the harness's own for
    the CDC replay)."""
    tables = [os.path.join(data, t + ".parquet") for t in fingerprint.TABLES]
    missing = [t for t in tables if not os.path.isfile(t)]
    if missing:
        die(f"corpus files missing: {', '.join(missing)}")
    key = digest(tables + [os.path.join(HERE, "fingerprint.py")])
    cache = os.path.join(WORK, f"expected-{src}-{key}.json")
    if read(cache):
        return json.loads(read(cache))
    export = json.loads(read(os.path.join(WORK, "export.json")))
    con = fingerprint.connect(data)
    out = {name: fingerprint.of_df(con.execute(sql).fetchdf())
           for name, sql in export["oracle_sql"].items()}
    write(cache, json.dumps(out))
    return out


def repeats(workload, op):
    """Runs of an op in a row per pass (its median counts). heavy_mix's
    ops are few and long, and the first run after another op is markedly
    slower than the next, so one draw each would be at the mercy of both
    that switch and a single stall; the CDC replay is the longest, so
    two."""
    if workload != "heavy_mix":
        return 1
    return 2 if op == "cdc_apply" else 3


def plan(ops, seed, workload):
    """Op order for every pass, from the seed alone; each op repeated
    repeats(workload, op) times in a row."""
    rng = random.Random(f"{workload}:{seed}")
    passes = []
    for _ in range(PASSES_PLANNED):
        order = list(ops)
        rng.shuffle(order)
        passes.append([op for op in order for _ in range(repeats(workload, op))])
    return passes


def check_outputs(res, want, con, check_dir):
    """Names of ops whose check execution does not match its expected
    fingerprint (or could not be checked)."""
    bad = []
    for name in res["ops"]:
        path = os.path.join(check_dir, name)
        exp = want.get(name)
        if exp is None or not os.path.isdir(path):
            bad.append(f"{name}: {'no oracle SQL' if exp is None else 'no output'}")
            continue
        got = fingerprint.of_parquet_dir(con, path)
        if (got["rows"], got["columns"], got["hash"]) != (exp["rows"], exp["columns"], exp["hash"]):
            bad.append(f"{name}: rows {got['rows']} vs {exp['rows']} (oracle), "
                       f"hash {got['hash'][:12]} vs {exp['hash'][:12]}")
    return bad


def concurrent_ops_per_s(res):
    conc = sum(len(o["conc_lat_ms"]) for o in res["ops"].values())
    return conc / (sum(p["conc_ms"] for p in res["passes"]) / 1000.0)


def end_to_end(res):
    lats = [o["lat_ms"] for o in res["ops"].values() if o["lat_ms"]]
    medians = [stats.median(v) for v in lats]
    return {
        "setup_s": res["setup_s"],
        "op_geomean_ms": math.exp(sum(math.log(m) for m in medians) / len(medians)),
        "pass_s": sum(medians) / 1000.0,
        # median, not max: now and then one GC lands while another
        # thread still holds a large transient (2x readings seen)
        "retained_heap_mb": stats.median(res["retained_heap_mb"]),
    }


def per_layer(res, spans):
    passes = res["passes"]
    n = len(passes)
    def is_timed(op_id):
        # "<workload>/<op>/<pass>.<entry>": an execution of the alone phase
        parts = op_id.split("/")
        return (len(parts) == 3 and parts[1] in res["ops"]
                and parts[2].replace(".", "", 1).isdigit())
    timed = [s for s in spans if is_timed(s["op"])]

    def span_median(name):
        per_exec = {}
        for s in timed:
            if s["name"] == name:
                per_exec[s["op"]] = per_exec.get(s["op"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e6
        return stats.median(list(per_exec.values())) if per_exec else 0.0

    def per_pass(key):
        return sum(p[key] for p in passes) / n

    busy_ms = sum(p["seq_ms"] - p["scrub_ms"] for p in passes)
    waits = [w for p in passes for w in p["queue_wait_ms"]]
    return {
        "catalog.ensure_ms": stats.median(res["catalog_ensure_ms"]),
        "queries.build_ms": span_median("queries.build"),
        "plans.optimize_ms": span_median("plans.optimize"),
        "plans.physical_ms": span_median("plans.physical"),
        "engine.execute_ms": span_median("engine.execute"),
        "engine.jobs": per_pass("jobs"),
        "engine.stages": per_pass("stages"),
        "engine.tasks": per_pass("tasks"),
        "engine.stage_floor_ms": res["probe_stage_ms"],
        # per task of the concurrent phase, where FAIR pools contend
        "engine.scheduler_delay_ms": (sum(p["conc_scheduler_delay_ms"] for p in passes)
                                      / max(1, sum(p["conc_tasks"] for p in passes))),
        "engine.executor_run_ms": per_pass("run_ms"),
        "engine.busy_ratio": sum(p["run_ms"] for p in passes) / (busy_ms * res["nproc"]),
        "engine.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
        "engine.shuffle_read_bytes": per_pass("shuffle_read_bytes"),
        "engine.result_bytes": per_pass("result_bytes"),
        "engine.task_skew": max(max(p["task_skew"].values()) for p in passes),
        "jvm.gc_ms": per_pass("gc_ms"),
        "jvm.scrub_ms": stats.median(res["scrub_ms"]),
        "pipeline.queue_wait_ms": sum(waits) / len(waits),
        "pipeline.in_flight_avg": (sum(p["conc_latency_sum_ms"] for p in passes)
                                   / sum(p["conc_ms"] for p in passes)),
        "pipeline.ops_per_s": concurrent_ops_per_s(res),
    }


def report(res, spans, e2e, layers):
    """Human-readable lines: config, sample counts, per-op and stream
    detail, and (traced) the per-layer self-time rollup."""
    out = []
    every = [x for o in res["ops"].values() for x in o["lat_ms"]]
    p, v, n = stats.tail(every)
    tail = (f"op_p{p}_ms={v:.1f}" if p
            else f"no tail percentile (fewer than {2 * stats.MIN_BEYOND} samples)")
    out.append(f"# {res['workload']}: {len(res['passes'])} pass(es) in {res['window_s']:.2f} s, "
               f"{n} timed op executions; op_p50_ms={stats.median(every):.1f}; {tail}")
    out.append(f"#   {'op':34s} {'alone ms':>10s} {'concurrent ms':>14s}")
    for name, o in res["ops"].items():
        cells = [f"{stats.median(v):10.1f}" if v else f"{'-':>10s}"
                 for v in (o["lat_ms"], o["conc_lat_ms"])]
        out.append(f"#   {name:34s} {cells[0]} {cells[1]:>14s}  n={len(o['lat_ms'])}")
    if res["stream"]:
        batches = [b for bs in res["stream"].values() for b in bs]
        bms = [b["batch_ms"] for b in batches]
        rows = sum(b["input_rows"] for b in batches)
        drain_s = sum(sum(res["ops"][n]["lat_ms"]) for n in res["stream"]) / 1000.0
        p, v, n = stats.tail(bms)
        out.append(f"#   stream micro-batches: p50 {stats.median(bms)} ms (n={len(bms)})"
                   + (f", p{p} {v} ms" if p else "") + f", {rows / drain_s:.0f} input rows/s")
        for key in ("addBatch", "queryPlanning", "getBatch", "walCommit", "commitOffsets"):
            vals = [b["durations"].get(key, 0) for b in batches]
            out.append(f"#     streaming.{key}: median {stats.median(vals)} ms")
        if res["cdc_apply_batch_ms"]:
            out.append(f"#     streaming.cdc_apply_batch: median "
                       f"{stats.median(res['cdc_apply_batch_ms']):.1f} ms")
    conc = sum(len(o["conc_lat_ms"]) for o in res["ops"].values())
    samples = {"setup_s": f"1 set-up, catalog part median of {len(res['catalog_ensure_ms'])}",
               "op_geomean_ms": f"{len(res['ops'])} ops, {n} executions",
               "pass_s": f"{len(res['ops'])} ops, {n} executions",
               "retained_heap_mb": f"{len(res['retained_heap_mb'])} GCs"}
    units = dict(END_TO_END + PER_LAYER)
    for k, val in e2e.items():
        out.append(f"# e2e {k:24s} {val:14.4f} {units[k]:5s} (n: {samples[k]})")
    out.append(f"# concurrent phase: {concurrent_ops_per_s(res):.4f} ops/s ({conc} executions, "
               f"{res['nproc']} clients)")
    for k, val in (layers or {}).items():
        out.append(f"# layer {k:30s} {val:16.4f} {units[k]}")
    if spans:
        out.append("# span rollup: name, count, total ms, self ms")
        rows = sorted(stats.self_times(spans).items(), key=lambda kv: -kv[1][2])
        for name, (cnt, total, self_ms) in rows:
            out.append(f"#   {name:40s} {cnt:6d} {total:12.1f} {self_ms:12.1f}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        die(f"refusing to run with program tuning variables set: {', '.join(refused)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are not in this checkout")
    os.makedirs(WORK, exist_ok=True)

    src = build()
    data = os.path.join(HERE, "data", f"sf{SCALE}")
    want = expected(src, data)
    started = time.time()
    ops = json.loads(read(os.path.join(WORK, "export.json")))["ops"][a.workload]
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan_file = os.path.join(run_dir, "plan.txt")
    write(plan_file, "\n".join(",".join(p) for p in plan(ops, a.seed, a.workload)) + "\n")
    budget = RUN_LIMIT_S - (time.time() - started)
    jvm(["perfbench.Main", a.workload, data, run_dir, plan_file, str(a.seconds), str(a.trace),
         str(a.seed)],
        os.path.join(WORK, f"jvm-{a.workload}.log"), budget)

    res = json.loads(read(os.path.join(run_dir, "result.json")))
    con = fingerprint.connect(data)
    bad = check_outputs(res, want, con, os.path.join(run_dir, "check"))
    attempted = sum(o["executions"] for o in res["ops"].values())
    failed = sum(o["failed"] + o["mismatched"] for o in res["ops"].values()) + len(bad)
    spans = None
    if a.trace:
        spans = [json.loads(line) for line in open(os.path.join(run_dir, "spans.jsonl"))]
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(WORK, f"spans-{a.workload}.jsonl"))
    e2e = end_to_end(res)
    layers = per_layer(res, spans) if a.trace else None
    lines = report(res, spans, e2e, layers)
    for b in bad:
        lines.append(f"# OUTPUT CHECK FAILED {b}")
    last_untraced = os.path.join(WORK, f"last-{a.workload}-trace0.json")
    if a.trace and read(last_untraced):
        base = json.loads(read(last_untraced))["end_to_end"]["pass_s"]
        lines.append(f"# tracing overhead (pass_s traced / untraced): {e2e['pass_s'] / base:.3f}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": res["nproc"],
              "max_heap_mb": res["max_heap_mb"], "xmx": HEAP, "source_digest": src,
              "git_head": git_head(), "spark_conf": res["spark_conf"],
              "failed_ratio": failed / attempted, "end_to_end": e2e, "per_layer": layers}
    write(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), json.dumps(record))
    print("\n".join(lines))
    print(json.dumps(record))
    chosen = layers if a.trace else e2e
    units = dict(PER_LAYER if a.trace else END_TO_END)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if failed == 0 else 1)


def git_head():
    # stop at the checkout: an enclosing repository's HEAD is not ours
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, env=env, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
