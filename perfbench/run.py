#!/usr/bin/env python3
"""Engine benchmark: drives the graft library from outside, the way a
caller's driver does, and prints one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with
the benchmark driver (perfbench/build.sbt); later runs reuse the classes
while the sources are unchanged. Every run starts one JVM on an empty
state directory under perfbench/out/ and deletes it afterwards.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer
metrics of a traced run plus the tracing overhead: traced minus
untraced value of each end-to-end metric, against the newest untraced
run of the same workload and build (run first if this checkout has none).
The line before the result holds the provenance and sample counts;
perfbench/out/results/ keeps the full record, the spans of traced runs
and the per-entry warm medians in the {"queries": {...}} format that
dev/bench_ratio.py reads.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_rows.json")
OUT = os.path.join(HERE, "out")
RESULTS = os.path.join(OUT, "results")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench.classpath")
WORKLOADS = ("olap_read", "llm_pipeline", "lakehouse_write")
MIB = 1048576.0
JVM_TIMEOUT_S = 170
DRIVER_HEAP = ["-Xms2g", "-Xmx2g"]
# C1 only cuts the code cache to 48 MB, and the warm passes keep about
# 47 MB of compiled code: the JIT then flushes and recompiles in every
# pass. 240 MB is the default of a JVM that also runs C2.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles when the sources differ from the last build; returns
    (classpath, source digest)."""
    digest = source_digest()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp["digest"] == digest:
            return stamp["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, timeout=850)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "scala-2.13" in l and "classes" in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        fail(f"build failed, see {log_path}")
    with open(BUILD_STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1], digest


def java_cmd(classpath, tmpdir, main_class):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + JIT_FLAGS + DRIVER_HEAP +
            [f"-Djava.io.tmpdir={tmpdir}", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main_class])


def run_jvm(classpath, args, traced):
    """One measured JVM on a fresh state directory; returns its record."""
    os.makedirs(RESULTS, exist_ok=True)
    state = tempfile.mkdtemp(prefix="state-", dir=OUT)
    dirs = {k: os.path.join(state, k) for k in ("tmp", "local", "warehouse", "work")}
    for d in dirs.values():
        os.makedirs(d)
    shm_before = set(list_shm())
    tag = f"{args.workload}-seed{args.seed}-trace{int(traced)}"
    raw = os.path.join(state, "raw.json")
    spans = os.path.join(RESULTS, f"{tag}.spans.jsonl")
    cmd = java_cmd(classpath, dirs["tmp"], "perfbench.Main") + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(int(traced)),
            "--sf", SF_DIR, "--expected", EXPECTED, "--out", raw]
    for k, d in dirs.items():
        cmd += [f"--{k}", d]
    if traced:
        cmd += ["--spans", spans]
    log_path = os.path.join(OUT, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=dirs["work"], stdin=subprocess.DEVNULL,
                                  stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(raw):
            fail(f"benchmark JVM exited with {proc.returncode}, see {log_path}")
        with open(raw) as f:
            return json.load(f)
    finally:
        for d in set(list_shm()) - shm_before:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)


def list_shm():
    try:
        return [os.path.join("/dev/shm", n) for n in os.listdir("/dev/shm")
                if n.startswith("graft_")]
    except OSError:
        return []


def warm(r):
    return [a for a in r["attempts"] if a["pass"] > 0]


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def entry_latencies(w):
    """Each entry's warm latency, the median of its warm attempts, sorted.
    The latency percentiles are taken over these, that is over the
    workload's queries: an attempt slowed by the host then moves them
    only through its entry's median, where a percentile over a run's few
    dozen attempts would rest on the three or four slowest."""
    per_entry = {}
    for a in w:
        per_entry.setdefault(a["entry"], []).append(a["s"])
    return sorted(statistics.median(v) for v in per_entry.values())


def end_to_end(r):
    attempts = r["attempts"]
    cold = [a for a in attempts if a["pass"] == 0]
    w = warm(r)
    lat = [a["s"] for a in w]
    per_entry = entry_latencies(w)
    ok = sum(a["ok"] for a in attempts)
    values = {
        "setup_s": (r["setup_s"], "s"),
        "cold_pass_s": (sum(a["s"] for a in cold), "s"),
        "throughput_qps": (sum(a["ok"] for a in w) / sum(lat), "1/s"),
        "latency_p50_s": (statistics.median(per_entry), "s"),
        "latency_p90_s": (statistics.quantiles(per_entry, n=10, method="inclusive")[8], "s"),
        "heap_retained_mb": (r["heap_retained_mb"], "MB"),
        "correct_frac": (ok / len(attempts), "ratio"),
    }
    samples = {"setup_s": 1, "cold_pass_s": len(cold), "throughput_qps": len(w),
               "latency_p50_s": len(w), "latency_p90_s": len(w), "entries": len(per_entry),
               "heap_retained_mb": 1, "correct_frac": len(attempts)}
    return values, samples


def per_layer(r, untraced):
    w = warm(r)
    cold = [a for a in r["attempts"] if a["pass"] == 0]
    n = max(len(w), 1)
    wb = [b for a, b in zip(r["attempts"], r["boundaries"]) if a["pass"] > 0]

    def counter(a, key):
        return sum(a.get(f"{p}_counters", {}).get(key, 0) for p in ("construct", "plan", "exec"))

    def per_attempt(key, scale=1.0):
        return sum(counter(a, key) for a in w) / n / scale

    timed_s = sum(a["s"] for a in w)
    task_run_s = per_attempt("task_run_ms", 1e3)
    result_rows = sum(a.get("rows", 0) for a in w)
    batches = [b for b in r.get("batches", []) if b["epoch_ms"] >= r["warm_start_epoch_ms"]]
    s = r["setup"]
    m = {
        "setup.session_s": (s["session_s"], "s"),
        "setup.register_s": (s["register_s"], "s"),
        "setup.warm_lsh_s": (s["warm_lsh_s"], "s"),
        "setup.warm_ivf_s": (s["warm_ivf_s"], "s"),
        "setup.warm_minhash_s": (s["warm_minhash_s"], "s"),
        "setup.warm_simgraph_s": (s["warm_simgraph_s"], "s"),
        "setup.state_disk_mb": (r["state_disk_bytes"] / MIB, "MB"),
        "queries.construct_s": (mean([a.get("construct_s", 0.0) for a in w]), "s"),
        "queries.construct_cold_s": (sum(a.get("construct_s", 0.0) for a in cold), "s"),
        "queries.construct_jobs": (mean([a.get("construct_counters", {}).get("jobs", 0) for a in w]), "count"),
        "plans.plan_s": (mean([a.get("plan_s", 0.0) for a in w]), "s"),
        "plans.plan_max_s": (max([a.get("plan_s", 0.0) for a in w], default=0.0), "s"),
        "exec.exec_s": (mean([a.get("exec_s", 0.0) for a in w]), "s"),
        "exec.jobs": (per_attempt("jobs"), "count"),
        "exec.stages": (per_attempt("stages"), "count"),
        "exec.tasks": (per_attempt("tasks"), "count"),
        "exec.task_run_s": (task_run_s, "s"),
        "exec.task_cpu_s": (per_attempt("task_cpu_ns", 1e9), "s"),
        "exec.core_util": (task_run_s * n / (timed_s * r["shuffle_partitions"]), "ratio"),
        "exec.skewed_stages": (per_attempt("skewed_stages"), "count"),
        "exec.single_task_stages": (per_attempt("single_task_stages"), "count"),
        "exec.shuffle_read_mb": (per_attempt("shuffle_read_bytes", MIB), "MB"),
        "exec.shuffle_write_mb": (per_attempt("shuffle_write_bytes", MIB), "MB"),
        "exec.spill_mb": (per_attempt("spill_bytes", MIB), "MB"),
        "exec.task_gc_s": (per_attempt("task_gc_ms", 1e3), "s"),
        "exec.failed_tasks": (sum(counter(a, "failed_tasks") for a in r["attempts"]), "count"),
        "tables.input_mb": (per_attempt("input_bytes", MIB), "MB"),
        "tables.rows_read": (per_attempt("input_records"), "count"),
        "tables.rows_read_per_result_row": (
            sum(counter(a, "input_records") for a in w) / max(result_rows, 1), "ratio"),
        "api.release_s": (mean([b["release_s"] for b in wb]), "s"),
        "api.released_frames": (mean([b["released"] for b in wb]), "count"),
        "api.cached_mb": (mean([b.get("cached_mb", 0.0) for b in wb]), "MB"),
        "sources.bytes_written_mb": (per_attempt("output_bytes", MIB), "MB"),
        "sources.records_written": (per_attempt("output_records"), "count"),
        "sources.disk_growth_mb": (
            (r["disk_bytes"]["end"] - r["disk_bytes"]["after_setup"]) / MIB / r["passes"], "MB"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.batch_s": (mean([b["batch_s"] for b in batches]), "s"),
        "streaming.rows_in": (sum(b["rows"] for b in batches) / n, "count"),
        "jvm.gc_s": (mean([a["gc_s"] for a in w]), "s"),
        "jvm.boundary_gc_s": (mean(r["pass_gc_s"][1:]), "s"),
        "jvm.jit_s": (r["jit_warm_s"], "s"),
    }
    traced, _ = end_to_end(r)
    base, _ = end_to_end(untraced)
    for k, (v, unit) in traced.items():
        m[f"overhead.{k}"] = (v - base[k][0], unit)
    return m


def provenance(r, args, digest, trace):
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        pass
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"nproc": os.cpu_count(), "mem_total_kb": mem_kb,
            "jvm_version": r["jvm"]["version"], "jvm_flags": r["jvm"]["flags"],
            "master": r["master"], "shuffle_partitions": r["shuffle_partitions"],
            "spark": r["spark"], "git_sha": sha, "source_sha256": digest,
            "seed": args.seed, "sf_dir": os.path.relpath(SF_DIR, ROOT),
            "workload": args.workload, "trace": trace, "seconds": args.seconds}


def save(r, args):
    """Full record, plus per-entry warm medians for dev/bench_ratio.py."""
    prov = r["provenance"]
    tag = f"{args.workload}-seed{args.seed}-trace{prov['trace']}"
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
        json.dump(r, f)
    per_entry = {}
    for a in warm(r):
        per_entry.setdefault(a["entry"], []).append(a["s"])
    bridge = {"queries": {k: round(statistics.median(v), 4) for k, v in sorted(per_entry.items())},
              "spread": {k: round(max(v) / min(v), 3) for k, v in sorted(per_entry.items())},
              "provenance": prov}
    with open(os.path.join(RESULTS, f"{tag}.bench.json"), "w") as f:
        json.dump(bridge, f)


def latest_untraced(args, digest):
    """The newest untraced record of this workload and build, if any: the
    reference the traced run's overhead is measured against. The seed
    only orders the entries, so any seed serves."""
    best = None
    for name in os.listdir(RESULTS) if os.path.isdir(RESULTS) else []:
        if name.startswith(f"{args.workload}-seed") and name.endswith("-trace0.json"):
            path = os.path.join(RESULTS, name)
            if best is None or os.path.getmtime(path) > os.path.getmtime(best):
                best = path
    if best is None:
        return None
    with open(best) as f:
        r = json.load(f)
    same = r["provenance"]["source_sha256"] == digest and r["provenance"]["seconds"] == args.seconds
    return r if same else None


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.isdir(SF_DIR) or not os.path.isfile(EXPECTED):
        fail("benchmark data or expected row counts missing")
    classpath, digest = build()

    untraced = latest_untraced(args, digest) if args.trace else None
    if untraced is None:
        untraced = run_jvm(classpath, args, traced=False)
        untraced["provenance"] = provenance(untraced, args, digest, trace=0)
        save(untraced, args)
    if args.trace:
        r = run_jvm(classpath, args, traced=True)
        r["provenance"] = provenance(r, args, digest, trace=1)
        save(r, args)
        metrics = per_layer(r, untraced)
        samples = {"warm_attempts": len(warm(r)), "attempts": len(r["attempts"])}
    else:
        r = untraced
        metrics, samples = end_to_end(r)
    failures = [f"{a['entry']}: {a['error']}" for a in r["attempts"] if not a["ok"]]
    print(json.dumps({"provenance": r["provenance"], "samples": samples,
                      "failures": failures[:20]}))
    failed = len(failures)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(r["attempts"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
