#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads, checked outputs.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (graftbench/build.sbt) and generates the
inputs, once per checkout; each run writes the seed's input layout, once
per seed. All of it lives under `.graftbench/` in the checkout, and none
of it is timed. Each run then starts one JVM (Spark local[4]) for one
workload:

  traffic_batch   the reference's three batch pipelines plus the dense
                  sliding argmax. Its traced run also times the curation
                  layers, the local side of every size-adaptive call
                  forced_dist times, and the streaming flagship in an
                  open loop.
  forced_dist     CC, PageRank, k-means and k-center with every
                  local-replay budget set to 0 (k-core, LPA and HITS in
                  the traced run): the distributed side. Every call must
                  run more Spark jobs than its local side did and return
                  the same rows.

With --trace 0 the last line of stdout holds the end-to-end metrics, with
--trace 1 the per-layer metrics of a separate traced run (see
BENCHMARK.json for the names). Every timed pass starts with no session
caches and no persisted RDDs, and every call's output is checked against
the digests recorded in graftbench/digests.json; a mismatch is a failed
operation. `--record` records digests that are missing from that file,
and a traced traffic_batch run with it records the local side's job
counts (`local_jobs`) that are missing.
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
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".graftbench")
DIGESTS = os.path.join(HERE, "digests.json")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SERVICES = os.path.join(CLASSES, "META-INF", "services",
                        "org.apache.spark.sql.sources.DataSourceRegister")
WORKLOADS = ["traffic_batch", "forced_dist"]
# the generated tables each workload reads
TABLES = {
    "traffic_batch": ["events", "documents", "embeddings", "orders", "lineitem"],
    "forced_dist": ["documents", "embeddings", "orders", "lineitem"],
}
# the tables a workload's timed pass reads, laid out per seed
PASS_TABLES = {
    "traffic_batch": ["events", "documents"],
    "forced_dist": ["documents", "embeddings"],
}
LAYOUT_FILES = 4
JVM_TIMEOUT_S = 170
SEEDS_KEPT = 3
# suffix of a local-replay call's name; its distributed twin ends in "_s"
LOCAL = "_local_s"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {"setup_s": "s", "batch_s": "s"}

# name -> unit; every traced run reports all of them (0 where a workload
# does not touch the layer)
PER_LAYER = {
    "phase.build_s": "s", "phase.build_jobs": "count", "phase.plan_s": "s",
    "phase.exec_s": "s", "driver.self_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.per_job_ms": "ms",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.core_busy": "ratio",
    "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "mem.spill_mb": "MB",
    "mem.peak_exec_mb": "MB", "mem.persisted_rdds": "count",
    "mem.retained_mb": "MB",
    "tables.load_s": "s", "traffic.extract_s": "s",
    "traffic.maxflow_e2e_s": "s", "traffic.density_probe_s": "s",
    "traffic.dense_s": "s", "traffic.injector_s": "s", "traffic.starter_s": "s",
    "curation.web_s": "s", "curation.pipeline_s": "s", "text.quality_s": "s",
    "text.nb_s": "s", "text.pii_s": "s", "text.tokens_s": "s",
    "dedup.minhash_s": "s", "dedup.pairs": "count",
    "dedup.cc_s": "s", "dedup.cc_rounds": "count", "graph.pagerank_s": "s",
    "graph.kcore_s": "s", "graph.lpa_s": "s", "graph.hits_s": "s",
    "sim.kmeans_s": "s", "sim.kcenter_s": "s",
    "dedup.cc_local_s": "s", "graph.pagerank_local_s": "s", "graph.kcore_local_s": "s",
    "graph.lpa_local_s": "s", "graph.hits_local_s": "s",
    "sim.kmeans_local_s": "s", "sim.kcenter_local_s": "s",
    "source.lag_ms": "ms", "source.backlog_files": "count",
    "stream.batches": "count", "stream.batch_ms_p50": "ms",
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.state_commit_ms": "ms", "sink.commit_ms": "ms",
    "stream.watermark_lag_s": "s", "stream.dropped_late": "count",
    "stream.latency_p50_ms": "ms", "stream.latency_p99_ms": "ms",
    "stream.sustained_eps": "1/s",
    "gen.late_ms": "ms", "trace.overhead_s": "s",
}


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("graftbench: no Spark jars found (set SPARK_HOME)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compiles graft and the harness with sbt, once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: no graft sources next to the benchmark")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(SERVICES) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return
        # copyResources puts graft's META-INF/services registrations (the
        # graft-lines and graft-table sources) next to the classes
        log("building graft and the harness (sbt compile copyResources)")
        env = dict(os.environ, GRAFTBENCH_SPARK_JARS=jars)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "copyResources"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0 or not os.path.exists(SERVICES):
            raise SystemExit("graftbench: build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)


def mix64(x):
    """splitmix64 finalizer over a uint64 array."""
    import numpy as np
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def seed_layout(seed, tables):
    """The seed's copy of `tables`: rows in a seeded hash order of their
    key, so the seed picks the row order and which rows share each of the
    LAYOUT_FILES files. Cached per seed; older seeds are pruned."""
    import numpy as np
    import pyarrow.parquet as pq
    data = os.path.join(STATE, "data")
    out = os.path.join(data, f"seed-{seed}")
    for name in tables:
        target = os.path.join(out, f"{name}.parquet")
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            continue
        shutil.rmtree(target, ignore_errors=True)
        os.makedirs(target)
        t = pq.read_table(os.path.join(data, "base", f"{name}.parquet"))
        key = t.column(0).to_numpy().astype(np.int64).view(np.uint64)
        h = mix64(key ^ mix64(np.array([seed], dtype=np.int64).view(np.uint64)))
        t = t.take(np.argsort(h, kind="stable"))
        bounds = np.linspace(0, t.num_rows, LAYOUT_FILES + 1).astype(int)
        for i in range(LAYOUT_FILES):
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(target, f"part-{i:05d}.parquet"),
                           coerce_timestamps="us")
        open(os.path.join(target, "_SUCCESS"), "w").close()
    dirs = [os.path.join(data, d) for d in os.listdir(data) if d.startswith("seed-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[SEEDS_KEPT:]:
        if d != out:
            shutil.rmtree(d, ignore_errors=True)


def run_jvm(jars, args, out):
    """One workload (or `prepare`) in a fresh JVM; returns its raw
    measurements."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_GRAPH_LOCAL_EDGES", None)
    if args.workload == "forced_dist":
        env["SPARK_GRAFT_GRAPH_LOCAL_EDGES"] = "0"
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")])]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["graftbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), STATE, out]
    if os.path.exists(out):
        os.remove(out)
    proc = subprocess.Popen(cmd, cwd=STATE, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("graftbench: the workload JVM timed out")
    finally:
        # on every way out, the JVM ends before this process does
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if not os.path.exists(out):
        raise SystemExit(f"graftbench: the workload JVM exited {proc.returncode} without results")
    with open(out) as f:
        raw = json.load(f)
    if proc.returncode != 0 or "fatal" in raw:
        raise SystemExit(f"graftbench: {args.workload} failed: {raw.get('fatal')}")
    return raw


class Checker:
    """Compares every call's output digest with the recorded one."""

    def __init__(self, workload, record):
        self.record = record
        with open(DIGESTS) as f:
            self.db = json.load(f)
        outputs = self.db.setdefault("outputs", {})
        self.expected = outputs.setdefault(workload, {})
        # forced_dist's calls must return what their local side did
        self.twins = {} if workload != "forced_dist" else {
            name[:-len(LOCAL)] + "_s": d
            for name, d in outputs.get("traffic_batch", {}).items() if name.endswith(LOCAL)}
        self.attempted = 0
        self.failed = 0

    def op(self, o):
        self.attempted += 1
        got = {"rows": o["rows"], "hash": o["hash"]}
        if o["error"]:
            self.fail(f"{o['name']}: {o['error']}")
            return False
        want = self.twins.get(o["name"], self.expected.get(o["name"]))
        if self.record and want is None:
            self.expected[o["name"]] = want = got
        if want != got:
            self.fail(f"{o['name']}: got {got}, want {want}")
            return False
        return True

    def check(self, name, ok):
        self.attempted += 1
        if not ok:
            self.fail(f"check failed: {name}")

    def inputs(self, made):
        for d in made:
            want = self.db.setdefault("inputs", {}).get(d["name"])
            got = {"rows": d["rows"], "hash": d["hash"]}
            if self.record and want is None:
                self.db["inputs"][d["name"]] = want = got
            if want != got:
                raise SystemExit(f"graftbench: generated input {d['name']} does not "
                                 f"match its recorded digest: {got} vs {want}")

    def fail(self, msg):
        self.failed += 1
        log(msg)

    def save(self):
        if self.record:
            with open(DIGESTS, "w") as f:
                json.dump(self.db, f, indent=1, sort_keys=True)
                f.write("\n")


def batch_metrics(raw, chk):
    for o in raw["warm"]:
        chk.op(o)
    good = []
    for p in raw["passes"]:
        oks = [chk.op(o) for o in p["ops"]]
        if all(oks):
            good.append(p)
    if not good:
        raise SystemExit("graftbench: no pass produced correct output")
    walls = [p["wall_s"] for p in good]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "batch_s": statistics.median(walls),
    }, {"samples": len(walls),
        "retained_mb": [p["retained_mb"] for p in good],
        "persisted_rdds": [p["persisted_rdds"] for p in good]}


def batch_layers(raw, chk):
    """The per-layer metrics of a traced run: each traced call's time
    under its own name, and the Spark layers summed over every traced
    call, the traced pass's and the probes' (the peak for peak memory).
    Each pass starts from a cache drop, so what the two left persisted
    adds up too."""
    passes = raw["traced"] + raw["probes"]
    ops = [o for p in passes for o in p["ops"]]
    for o in ops:
        chk.op(o)
    layers = {}
    for o in ops:
        layers[o["name"]] = o["s"]
        for k, v in o["phases"].items():
            layers[k] = max(layers.get(k, 0.0), v) if k == "mem.peak_exec_mb" \
                else layers.get(k, 0.0) + v
    jobs = layers.get("sched.jobs", 0.0)
    job_ms = layers.pop("sched.job_ms_total", 0.0)
    layers["sched.per_job_ms"] = job_ms / jobs if jobs else 0.0
    # share of the calls' core time that tasks kept busy
    call_s = sum(o["s"] for o in ops)
    layers["exec.core_busy"] = layers.get("exec.task_s", 0.0) / (call_s * raw["cores"])
    layers["mem.persisted_rdds"] = sum(p["persisted_rdds"] for p in passes)
    layers["mem.retained_mb"] = sum(p["retained_mb"] for p in passes)
    layers.update({k: v for k, v in raw.get("notes", {}).items() if k in PER_LAYER})
    layers["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in raw["traced"])
                                  - statistics.median(p["wall_s"] for p in raw["passes"]))
    return layers


def trace_calls(raw):
    """Per-call layer counts of a traced run: each traced pass call (the
    last pass) and each probe, so a diff can say which call moved."""
    ops = (raw["traced"][-1]["ops"] + raw["probes"][0]["ops"]) if "probes" in raw else []
    return {o["name"]: dict(o["phases"], seconds=o["s"]) for o in ops}


def all_ops(raw):
    """Every call of a run: warm pass, timed passes and, when traced, the
    traced pass and the probes."""
    passes = [{"ops": raw["warm"]}] + raw["passes"] + raw.get("traced", []) \
        + raw.get("probes", [])
    return [o for p in passes for o in p["ops"]]


def distributed_checks(raw, chk):
    """forced_dist must really take the distributed side: CC takes rounds,
    and every call runs more Spark jobs than its local side did in a
    traced traffic_batch run (`local_jobs`). Its rows are checked against
    the local side's digests (see Checker)."""
    chk.check("dedup.cc_rounds > 0", raw["notes"].get("dedup.cc_rounds", 0) > 0)
    local_jobs = chk.db.get("local_jobs", {})
    for o in all_ops(raw):
        if o["name"] in local_jobs:
            chk.check(f"{o['name']} ran distributed ({o['jobs']} jobs > "
                      f"{local_jobs[o['name']]})", o["jobs"] > local_jobs[o["name"]])


def record_local_jobs(raw, chk):
    """The job counts of the local side, from a traced traffic_batch run:
    recorded with --record where missing, otherwise only compared."""
    local_jobs = chk.db.setdefault("local_jobs", {})
    for o in raw["probes"][0]["ops"]:
        if not o["name"].endswith(LOCAL):
            continue
        name = o["name"][:-len(LOCAL)] + "_s"
        if chk.record and name not in local_jobs:
            local_jobs[name] = o["jobs"]
        elif local_jobs.get(name) != o["jobs"]:
            log(f"{o['name']} ran {o['jobs']} jobs; local_jobs in digests.json "
                f"records {local_jobs.get(name)} (re-record it with --record)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record missing output digests instead of failing")
    args = ap.parse_args()
    # any integer seed, folded into the range the JVM and numpy take
    args.seed %= 1 << 63
    # a SIGTERM unwinds like an error, so the JVM in flight is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))

    jars = spark_jars()
    build(jars)
    chk = Checker(args.workload, args.record)
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    missing = [t for t in TABLES[args.workload] if not os.path.exists(
        os.path.join(STATE, "data", "base", f"{t}.parquet", "_SUCCESS"))]
    if missing:
        prep = argparse.Namespace(workload="prepare", seed=",".join(missing), seconds="-",
                                  trace="-")
        chk.inputs(run_jvm(jars, prep, os.path.join(runs, "prepare.json")).get("inputs", []))
    seed_layout(args.seed, PASS_TABLES.get(args.workload, []))
    out = os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}.json")
    t0 = time.time()
    raw = run_jvm(jars, args, out)
    log(f"workload JVM finished in {time.time() - t0:.1f} s")

    if args.workload == "forced_dist":
        distributed_checks(raw, chk)
    metrics, info = batch_metrics(raw, chk)
    layers = None
    if args.trace:
        layers = batch_layers(raw, chk)
        if args.workload == "traffic_batch":
            chk.check("dedup.cc_local_rounds == 0",
                      raw["notes"].get("dedup.cc_local_rounds", 1) == 0)
            record_local_jobs(raw, chk)
        for name, ok in raw.get("stream_checks", {}).items():
            chk.check(name, ok)
        layers.update(raw.get("stream_layers", {}))
    chk.save()

    log(f"{args.workload}: " + ", ".join(f"{k}={v:.4g}" for k, v in metrics.items())
        + f"; {json.dumps(info)}; attempted {chk.attempted}, failed {chk.failed}")
    if args.trace:
        trace_path = os.path.join(STATE, "runs", f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                       "calls": trace_calls(raw), "end_to_end": metrics},
                      f, indent=1, sort_keys=True)
        log(f"trace written to {trace_path}")
        reported = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                    for k, u in PER_LAYER.items()}
    else:
        reported = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": chk.failed == 0, "attempted": chk.attempted,
                      "failed": chk.failed, "metrics": reported}))


if __name__ == "__main__":
    main()
