#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client over the engine's
public query functions.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the program and the
client (perfbench/harness) from source into .bench_build/, generates
the workload's inputs from the seed (cached per seed), runs the client
in one JVM as local[nproc] with spark.sql.shuffle.partitions = nproc,
checks every result against the DuckDB oracle (perfbench/oracle.py, with
tools/check.py's normalization), and prints one JSON object as the last
line of standard output. With
--trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Everything it writes stays under
.bench_build/; the full artifact of each run lands in
.bench_build/artifacts/.

Workloads (one client thread issues the queries back to back):
  wordcount  the paper's query family over a seeded Zipf corpus: scan,
             tokenize, partial aggregate and shuffle; no loops, no index
             writes. A traced run also reads the coded-shuffle
             simulation's packet counts.
  iterative  driver-bound work over seeded orders, lineitem, embeddings
             and events tables: the trade-graph BFS fixpoint, the IVF
             index built, upserted, tombstoned, compacted and
             re-probed, and the events streamed into a day-partitioned
             sink, every pass starting from wiped fixture dirs.

setup_s is the median of several set-ups (a fresh session, the
workload's tables read once, its write-once fixtures built), repeated
after the timed passes in the warmed JVM. The cold path, from JVM start
through set-up and the untimed passes to the first timed pass, is
printed and stored as setup_cold_s but not gated: JIT compilation and
host load make it vary too much from run to run.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = {"wordcount": "corpus", "iterative": "star"}
# Wall time of one pass on a 4-core host. A run measures
# max(MIN_PASSES, round(seconds / this)) passes, so the amount of
# measured work is fixed by --seconds, not by how fast the host is.
# Before timing, untimed passes worth about WARM_S seconds, and at least
# one, after the one that writes the oracle dump, let JIT compilation
# settle: the first pass after the dump still runs partly interpreted.
NOMINAL_PASS_S = {"wordcount": 2.5, "iterative": 12.0}
MIN_PASSES = 3
WARM_S = 5.0
SETUPS = 5  # warm set-ups per run; setup_s is their median
# Fixed heap size (-Xms = -Xmx). A heap grown on demand stays small,
# near G1's initiating occupancy, so most humongous allocations start a
# concurrent cycle (250-450 per iterative run, more in some JVMs than
# others), and pass times split into a fast and a slow mode.
HEAP = "2g"
STEAL_FLAG = 0.10  # share of host CPU time stolen above which a run is flagged
JVM_TIMEOUT_S = 165
# JVM flags for the client: no hsperfdata file outside the checkout,
# and the module opens Spark needs on JDK 17 outside spark-submit
JVM_FLAGS = ["-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars (they include the Scala compiler): $SPARK_HOME/jars,
    else the ones the pyspark package ships."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            import pyspark
        except ImportError:
            sys.exit("perfbench: set SPARK_HOME to a Spark 4 install")
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile src/main/scala plus the client into .bench_build/classes,
    once per distinct source content."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a checkout")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(out, ".source-sha256")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == key:
                return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs,
        stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit("perfbench: compilation failed")
    res_dir = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res_dir):
        shutil.copytree(res_dir, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".source-sha256"), "w") as f:
        f.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def cpu_times():
    """Aggregate (total, steal) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals[:8]), vals[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def hold_heavy_lock():
    """Serialize with the repository's other heavy jobs the way
    graft.Bench does, when their lock file exists. Bounded wait: a run
    that could not get it says so instead of hanging."""
    path = "/tmp/graft_heavy.lock"
    if not os.path.exists(path):
        return None, "absent"
    fh = open(path)
    deadline = time.time() + 60
    while True:
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return fh, "acquired"
        except OSError:
            if time.time() > deadline:
                return fh, "contended"
            time.sleep(1)


def run_client(classes, jars, args, workload, sf, passes, warm, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    dump = os.path.join(run_dir, "oracle_dump")
    out = os.path.join(run_dir, "client.json")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.perfbench.Harness",
            "--workload", workload, "--sf", sf, "--passes", str(passes),
            "--warm-passes", str(warm), "--trace", str(args.trace),
            "--setups", str(SETUPS), "--cores", str(os.cpu_count() or 1),
            "--dump", dump, "--out", out])
    with open(os.path.join(run_dir, "client.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: client exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "client.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: client exited with {rc}")
    with open(out) as f:
        return json.load(f), dump


def oracle_check(sf, dump, run_dir):
    """Compare the client's dumped results with the DuckDB oracle.
    Returns (queries checked, {query: reason} for mismatches)."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sql = json.load(f)
    bad = oracle.check(sf, dump, sql, os.cpu_count() or 1, os.path.join(run_dir, "duckdb_spill"))
    return len(sql), bad


def mb(b):
    return b / 1e6


def end_to_end(client):
    passes = [p for p in client["passes"] if not p["traced"]]
    samples = [s["latency_s"] for p in passes for s in p["samples"] if "hash" in s]
    try:
        pct, tail_v = stats.tail(samples)
        tail_info = {"value_s": tail_v, "percentile": pct}
    except ValueError as e:
        tail_info = {"not_reported": str(e)}
    return {
        "setup_s": (stats.median(client["setup_s"]), "s"),
        "pass_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        # process CPU net of JIT compile time: wall time inflates with host
        # steal, CPU time does not
        "pass_cpu_s": (stats.median([p["cpu_s"] - p["jit_s"] for p in passes]), "s"),
        "query_s.p50": (stats.median(samples), "s"),
        "shuffle_mb": (mb(stats.median([p["shuffle_write_b"] for p in passes])), "MB"),
        "heap_live_mb": (mb(client["heap_live_b"]), "MB"),
    }, {"query_s.tail": tail_info, "samples": len(samples), "passes": len(passes)}


def per_layer(client, cores):
    """Per-pass layer metrics of the traced passes, medians over passes."""
    spans = {s["id"]: s for s in client["spans"]}
    jobs = client["jobs"]
    stage_rows = {s["id"]: s for s in client["stages"]}
    job_of_stage = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for sid in j["stages"]:
            job_of_stage.setdefault(sid, j["id"])
    traced = [p for p in client["passes"] if p["traced"]]
    untraced = [p for p in client["passes"] if not p["traced"]]

    def pass_of(span_id):
        return spans[int(span_id)]["pass"] if span_id not in ("", None) and \
            int(span_id) in spans else None

    per = []
    for p in traced:
        n = p["pass"]
        ps = spans[p["span"]]
        t0, t1 = ps["start_ms"], ps["end_ms"]
        mine = [s for s in spans.values() if s["pass"] == n]
        pjobs = [j for j in jobs if pass_of(j["span"]) == n and spans[int(j["span"])]["name"]
                 != "tokenize"]
        pjob_ids = {j["id"] for j in pjobs}
        pst = [stage_rows[s] for s, j in job_of_stage.items()
               if j in pjob_ids and s in stage_rows]

        def ssum(key):
            return sum(s[key] for s in pst)

        def span_s(name):
            return sum(s["end_ms"] - s["start_ms"] for s in mine if s["name"] == name) / 1e3

        build_ids = {s["id"] for s in mine if s["name"] == "build"}
        job_iv = [(j["start_ms"], j["end_ms"]) for j in pjobs]
        wall = (t1 - t0) / 1e3
        task_run = ssum("run_s")
        tok = next((t for t in client["tokenize"] if t["pass"] == n), None)
        shuffle_rec = ssum("shuffle_write_rec")
        blocks = sum(b[1] for b in client["blocks"] if t0 <= b[0] <= t1)
        batches = [b for b in client["stream_batches"] if t0 <= b[0] <= t1]
        index = p["index"]
        m = {
            "queries.build_s": span_s("build"),
            "queries.build_jobs": sum(1 for j in pjobs if int(j["span"]) in build_ids),
            "plan.plan_s": span_s("plan"),
            "plan.nodes": sum(s.get("nodes", 0) for s in mine if s["name"] == "plan"),
            "exec.action_s": span_s("action"),
            "exec.jobs": len(pjobs),
            "exec.stages": len(pst),
            "exec.tasks": ssum("tasks"),
            "exec.task_cpu_s": ssum("cpu_s"),
            "exec.task_run_s": task_run,
            "exec.task_gc_s": ssum("gc_s"),
            "exec.max_task_s": max([s["max_task_s"] for s in pst], default=0.0),
            "exec.one_task_stages": sum(1 for s in pst if s["num_tasks"] == 1),
            "exec.driver_gap_s": p["wall_s"] - stats.union_length(
                [(max(a, t0), min(b, t1)) for a, b in job_iv]) / 1e3,
            "exec.core_util": task_run / (p["wall_s"] * cores) if p["wall_s"] else 0.0,
            "exec.spill_mb": mb(ssum("spill_disk_b") + ssum("spill_mem_b")),
            "exec.peak_exec_mem_mb": mb(max([s["peak_exec_mem_b"] for s in pst], default=0)),
            "shuffle.write_mb": mb(ssum("shuffle_write_b")),
            "shuffle.read_mb": mb(ssum("shuffle_read_b")),
            "shuffle.write_records": shuffle_rec,
            "shuffle.read_records": ssum("shuffle_read_rec"),
            "shuffle.fetch_wait_s": ssum("fetch_wait_s"),
            "shuffle.write_s": ssum("shuffle_write_s"),
            "shuffle.records_per_token": shuffle_rec / tok["tokens"] if tok and tok["tokens"] else 0.0,
            "sources.input_mb": mb(ssum("input_b")),
            "sources.input_records": ssum("input_rec"),
            "sources.scan_tasks": ssum("input_tasks"),
            "sources.fixture_mb": mb(p["fixture_b"]),
            "sources.fixture_files": p["fixture_files"],
            "functions.tokenize_s": tok["seconds"] if tok else 0.0,
            "functions.tokens_per_s": tok["tokens"] / tok["seconds"] if tok and tok["seconds"] else 0.0,
            "materialize.block_mb": mb(blocks),
            "materialize.write_mb": mb(ssum("output_b")),
            "materialize.scratch_mb": mb(p["scratch_b"]),
            "index.compact_s": span_s("compact"),
            "index.reprobe_s": span_s("reprobe"),
            "index.files": sum(i["files"] for i in index),
            "index.bytes_per_input_byte": sum(i["bytes"] for i in index) / client["input_b"],
            "streaming.batches": len(batches),
            "streaming.batch_s": sum(b[1] for b in batches) / 1e3,
            "streaming.rows": sum(b[2] for b in batches),
        }
        per.append(m)
    out = {k: (stats.median([m[k] for m in per]), UNITS[k]) for k in UNITS if k in per[0]}
    coded = client.get("coded") or {}
    out["coded.naive_packets"] = (coded.get("naive_packets", 0), "count")
    out["coded.packets_sent"] = (coded.get("packets_sent", 0), "count")
    out["coded.load_ratio"] = (coded.get("load_ratio", 0.0), "ratio")
    out["trace.overhead_s"] = (
        stats.median([p["wall_s"] for p in traced]) -
        stats.median([p["wall_s"] for p in untraced]) if untraced else 0.0, "s")
    self_s = {}
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans.values():
        own = stats.self_time((s["start_ms"], s["end_ms"]), children.get(s["id"], []))
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + own / 1e3 / max(1, len(traced))
    return out, {"self_s_per_pass": self_s}


UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.plan_s": "s", "plan.nodes": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.task_gc_s": "s", "exec.max_task_s": "s", "exec.one_task_stages": "count",
    "exec.driver_gap_s": "s", "exec.core_util": "ratio", "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.write_records": "count",
    "shuffle.read_records": "count", "shuffle.fetch_wait_s": "s", "shuffle.write_s": "s",
    "shuffle.records_per_token": "ratio",
    "sources.input_mb": "MB", "sources.input_records": "count", "sources.scan_tasks": "count",
    "sources.fixture_mb": "MB", "sources.fixture_files": "count",
    "functions.tokenize_s": "s", "functions.tokens_per_s": "1/s",
    "materialize.block_mb": "MB", "materialize.write_mb": "MB", "materialize.scratch_mb": "MB",
    "index.compact_s": "s", "index.reprobe_s": "s", "index.files": "count",
    "index.bytes_per_input_byte": "ratio",
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.rows": "count",
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    shape = WORKLOADS[args.workload]
    with open(gen.__file__, "rb") as f:  # a changed generator gets fresh data
        gen_key = hashlib.sha256(f.read()).hexdigest()[:12]
    sf = os.path.join(BUILD, "data", f"{shape}-{args.seed}-{gen_key}")
    dataset = gen.ensure(shape, args.seed, sf)

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(BUILD, f"run-{run_id}")  # private tmpdir, removed after the run
    os.makedirs(run_dir)
    nominal = NOMINAL_PASS_S[args.workload]
    passes = max(MIN_PASSES, round(args.seconds / nominal))
    if args.trace:  # half the passes untraced, interleaved, for trace.overhead_s
        passes = 2 * math.ceil(passes / 2)
    warm = max(1, int(WARM_S // nominal))

    lock, lock_state = hold_heavy_lock()
    load_start, (tot0, steal0) = load1(), cpu_times()
    t0 = time.time()
    try:
        client, dump = run_client(classes, jars, args, args.workload, sf,
                                  passes, warm, run_dir)
        wall = time.time() - t0
        tot1, steal1 = cpu_times()
        load_end = load1()
        t1 = time.time()
        checked, mismatched = oracle_check(sf, dump, run_dir)
        oracle_s = time.time() - t1
    finally:
        if lock:
            lock.close()

    tick = os.sysconf("SC_CLK_TCK")
    steal_s = (steal1 - steal0) / tick
    steal_share = (steal1 - steal0) / (tot1 - tot0) if tot1 > tot0 else 0.0
    failures = client["failures"] + [f"oracle mismatch: {q}: {r}" for q, r in mismatched.items()]
    attempted = client["attempted"] + checked
    failed = len(failures)
    cores = client["cores"]

    if args.trace:
        metrics, extra = per_layer(client, cores)
    else:
        metrics, extra = end_to_end(client)
    host = {
        "run_id": run_id, "cores": cores, "heap_max_mb": mb(client["heap_max_b"]),
        "jvm": client["jvm"], "spark": client["spark"], "fixtures": "cold: private tmpdir wiped",
        "load1_start": load_start, "load1_end": load_end, "lock": lock_state,
        "steal_s": steal_s, "steal_share": steal_share,
        "heavy_steal": steal_share > STEAL_FLAG, "client_wall_s": wall,
    }
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "dataset": dataset,
        "setup_runs_s": client["setup_s"], "setup_phases": client["setup_phases"],
        "setup_cold_s": client["setup_cold_s"],
        "warm_pass_s": client["warm_pass_s"], "oracle_s": oracle_s, "failures": failures,
        "failed_frac": failed / attempted, "attempted": attempted,
        "oracle_checked": checked,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **extra,
        "passes": [{k: p[k] for k in ("pass", "traced", "wall_s", "cpu_s", "jit_s", "gc_s",
                                      "shuffle_write_b")}
                   | {"latency_s": {s["query"]: s["latency_s"] for s in p["samples"]}}
                   for p in client["passes"]],
    }
    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json")
    with open(art, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    for fl in failures:
        log(f"FAILED {fl}")
    if host["heavy_steal"]:
        log(f"WARNING: {steal_share:.0%} of host CPU time was stolen during this run")
    summary = [f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items()]
    summary.append(f"setup_cold_s={client['setup_cold_s']:.6g} s (not gated)")
    tail = extra.get("query_s.tail")
    if tail:  # reported only when a run has more than ten query samples
        summary.append(f"query_s.tail={tail['value_s']:.6g} s (p{tail['percentile']:.0f} "
                       f"of {extra['samples']})" if "value_s" in tail else
                       f"query_s.tail=n/a ({extra['samples']} samples)")
    print(f"workload={args.workload} seed={args.seed} failed_frac={failed / attempted:.4g} "
          f"steal_share={steal_share:.3f}: {', '.join(summary)}; "
          f"artifact={os.path.relpath(art, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
