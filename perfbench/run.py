#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload short_reads --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the library and the harness
in perfbench/ with sbt, generates the input tables, runs the workload in
a fresh JVM at local[nproc], checks every op, and prints the metrics.
With --trace 0 it prints the end-to-end metrics. With --trace 1 it prints
the per-layer metrics and writes the spans to .bench_build/trace/.
Build outputs, inputs and run state all stay under .bench_build/.

Workloads (see perfbench/README.md):
  short_reads   sub-second read-only queries
  corpus_dedup  heavy dedup / similarity / sketch queries
  etl_cycle     simulated game days: extract, transform, load, read

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
A failed or wrong op makes the exit code non-zero.
"""
import argparse
import glob
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
WORKLOADS = ("short_reads", "corpus_dedup", "etl_cycle")
# Input scale: sf0.01 row counts (events 10k, lineitem 60k, documents 500,
# embeddings 500), so every workload's runs fit the run budget.
DATA_SF, DATA_SEED = 0.01, 42
DATA_VERSION = f"sf{DATA_SF}-seed{DATA_SEED}-v1"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160
# Count-type per-layer metrics: two traced runs of one seed must agree.
COUNT_METRICS = ("construct_jobs", "jobs", "stages", "tasks", "input_mb",
                 "shuffle_write_mb", "shuffle_read_mb", "http_requests",
                 "pages_fetched", "extract_rows", "commits",
                 "store_bytes_written_mb", "store_files_written", "log_bytes")
SPAN_LAYERS = ("op", "construct", "plan", "execute", "extract", "transform",
               "append", "merge", "delete", "maintain", "read")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build compiles, to reuse an earlier build."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source digest; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh2:
                    return fh2.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("[perfbench] building with sbt ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(os.path.join(BUILD, "build.log")) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or ".bench_build" not in lines[-1]:
        sys.exit(f"[perfbench] build failed (rc={rc}); see .bench_build/build.log")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return lines[-1]


def ensure_data():
    """Generate the input tables once per checkout."""
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen_data
    out = os.path.join(BUILD, "data", DATA_VERSION)
    if not os.path.exists(os.path.join(out, "_done")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, DATA_SF, DATA_SEED)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def private_data(src, run_dir):
    """Hard-link the inputs under a run-private path. The library keys its
    stored artifacts by the input directory's path, so a fresh path gives
    every run fresh artifacts."""
    dst = os.path.join(run_dir, "data")
    os.makedirs(dst)
    for t in TABLES:
        name = f"{t}.parquet"
        try:
            os.link(os.path.join(src, name), os.path.join(dst, name))
        except OSError:
            shutil.copy(os.path.join(src, name), os.path.join(dst, name))
    return dst


def fail(msg, run_dir):
    """Exit non-zero with `msg` and the end of the JVM's log, printing no
    result line."""
    try:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            log("".join(fh.readlines()[-40:]))
    except OSError:
        pass
    sys.exit(f"[perfbench] {msg}")


def artifact_dirs(data_dir):
    """The library's content-addressed artifact roots for `data_dir`."""
    key = hashlib.md5(data_dir.encode()).hexdigest()[:12]
    return glob.glob(f"/tmp/graft_*_{key}")


def oracle_counts(sqls, data_dir):
    """Row count of each query's DuckDB oracle, cached per SQL text."""
    import duckdb
    cache_file = os.path.join(BUILD, "oracle_counts.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as fh:
            cache = json.load(fh)
    key = {n: hashlib.sha256((DATA_VERSION + sql).encode()).hexdigest() for n, sql in sqls.items()}
    todo = [n for n in sqls if key[n] not in cache]
    if todo:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for n in todo:
            cache[key[n]] = con.sql(f"SELECT count(*) FROM ({sqls[n]}) q").fetchone()[0]
        with open(cache_file + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(cache_file + ".tmp", cache_file)
    return {n: cache[key[n]] for n in sqls}


def tail_percentile(xs):
    """The tail: the highest nearest-rank percentile with k samples beyond
    it, k = min(10, n // 4), so that for n >= 40 ten samples lie beyond it."""
    s = sorted(xs)
    k = min(10, len(s) // 4)
    return s[len(s) - 1 - k], 100.0 * (len(s) - k) / len(s)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def union_len(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(result):
    """Per-op mean self seconds per layer: each span's time not covered by
    its child spans or the Spark jobs placed in it; `jobs` is the union of
    the job intervals. Also returns the job time per launching layer."""
    spans = {s["id"]: s for s in result.get("spans", [])}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    jobs = {}
    for op in result["ops"]:
        for j in (op.get("counters") or {}).get("jobs", []):
            if j["end_ms"] >= j["start_ms"]:
                jobs.setdefault(j["span"], []).append((j["start_ms"] * 1000, j["end_ms"] * 1000))
    out = {f"self_{l}_s": 0.0 for l in SPAN_LAYERS + ("jobs",)}
    by_layer = {l: 0.0 for l in SPAN_LAYERS}
    for s in spans.values():
        a, b = s["start_us"], s["end_us"]
        clip = lambda iv: [(max(a, x), min(b, y)) for x, y in iv if min(b, y) > max(a, x)]
        own_jobs = clip(jobs.get(s["id"], []))
        covered = [(k["start_us"], k["end_us"]) for k in kids.get(s["id"], [])] + own_jobs
        out[f"self_{s['name']}_s"] += (b - a - union_len(clip(covered))) / 1e6
        out["self_jobs_s"] += union_len(own_jobs) / 1e6
        by_layer[s["name"]] += union_len(own_jobs) / 1e6
    n = max(1, len(result["ops"]))
    return {k: v / n for k, v in out.items()}, {k: v / n for k, v in by_layer.items()}


def check(result, counts):
    """Per-op verdicts: the JVM's own checks, plus read row counts equal to
    the DuckDB oracle's count."""
    bad = []
    for op in result["ops"]:
        err = op.get("error")
        if op.get("ok") and op["name"] in counts and op.get("rows") != counts[op["name"]]:
            err = f"rows {op.get('rows')} != oracle {counts[op['name']]}"
        if not op.get("ok") or err:
            bad.append((op["name"], err))
    return bad


def end_to_end(result, ops):
    lat = [o["total_s"] for o in ops]
    reads = [r for o in ops for r in o.get("reads_s", [])] or lat
    tail, pct = tail_percentile(lat)
    return {
        "setup_s": (result["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "read_p50_s": (statistics.median(reads), "s"),
    }, pct


def per_layer(result, ops, cores):
    def c(name, span=None):
        vals = []
        for o in ops:
            by = (o.get("counters") or {}).get("by_span", {})
            vals.append(sum(v[name] for k, v in by.items() if span is None or k == span))
        return mean(vals)
    def f(key):
        return mean([o.get(key, 0.0) for o in ops])
    mb = 1048576.0
    op_s = sum(o["total_s"] for o in ops)
    run_s = sum(sum(v["task_run_s"] for v in (o.get("counters") or {}).get("by_span", {}).values())
                for o in ops)
    final = result.get("final") or {}
    append = sum(o.get("append_bytes", 0) for o in ops)
    m = {
        "construct_s": (f("construct_s"), "s"), "construct_jobs": (c("jobs", "construct"), "count"),
        "plan_s": (f("plan_s"), "s"), "plan_analysis_s": (f("plan_analysis_s"), "s"),
        "plan_optimization_s": (f("plan_optimization_s"), "s"),
        "plan_planning_s": (f("plan_planning_s"), "s"),
        "exec_s": (f("exec_s"), "s"), "jobs": (c("jobs"), "count"),
        "stages": (c("stages"), "count"), "tasks": (c("tasks"), "count"),
        "slot_util": (run_s / (op_s * cores) if op_s else 0.0, "ratio"),
        "task_run_s": (c("task_run_s"), "s"), "task_cpu_s": (c("task_cpu_s"), "s"),
        "task_gc_s": (c("task_gc_s"), "s"), "input_mb": (c("input_bytes") / mb, "MB"),
        "shuffle_write_mb": (c("shuffle_write_bytes") / mb, "MB"),
        "shuffle_read_mb": (c("shuffle_read_bytes") / mb, "MB"),
        "spill_mb": (c("spill_bytes") / mb, "MB"),
        "cache_entries": (f("cache_entries"), "count"), "cached_mb": (f("cached_mb"), "MB"),
        "extract_s": (f("extract_s"), "s"), "http_requests": (f("http_requests"), "count"),
        "pages_fetched": (f("pages_fetched"), "count"), "extract_rows": (f("extract_rows"), "count"),
        "transform_s": (f("transform_s"), "s"), "append_s": (f("append_s"), "s"),
        "merge_s": (f("merge_s"), "s"), "delete_s": (f("delete_s"), "s"),
        "maintain_s": (f("maintain_s"), "s"),
        "store_read_s": (mean([r for o in ops for r in o.get("reads_s", [])]), "s"),
        "commits": (f("commits"), "count"),
        "store_bytes_written_mb": (f("store_bytes_written") / mb, "MB"),
        "store_files_written": (f("store_files_written"), "count"),
        "write_amp": (sum(o.get("store_bytes_written", 0) for o in ops) / append if append else 0.0,
                      "ratio"),
        "log_bytes": (ops[-1].get("log_bytes", 0) if ops else 0, "bytes"),
        "store_bytes_per_row": (final["store_bytes"] / final["live_rows"]
                                if final.get("live_rows") else 0.0, "bytes"),
        "gc_s": (f("gc_s"), "s"), "heap_peak_mb": (max(o.get("heap_peak_mb", 0.0) for o in ops), "MB"),
    }
    m.update({k: (v, "s") for k, v in self_times(result)[0].items()})
    return m


def compare_counts(workload, seed, metrics):
    """Report count-type metrics that differ from an earlier traced run of
    the same workload and seed (the first one is kept as the reference)."""
    ref_file = os.path.join(BUILD, "trace", f"{workload}-seed{seed}-counts.json")
    now = {k: metrics[k][0] for k in COUNT_METRICS}
    if not os.path.exists(ref_file):
        with open(ref_file, "w") as fh:
            json.dump(now, fh)
        print(f"count-type metrics recorded as the reference for seed {seed}")
        return
    with open(ref_file) as fh:
        ref = json.load(fh)
    diff = {k: (ref.get(k), v) for k, v in now.items() if ref.get(k) != v}
    if diff:
        print("count-type metrics differ from the reference traced run: " +
              ", ".join(f"{k} {a} -> {b}" for k, (a, b) in sorted(diff.items())))
    else:
        print(f"count-type metrics identical to the reference traced run of seed {seed}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("[perfbench] no graft sources next to perfbench/: run from a full checkout")

    classpath = build()
    data = ensure_data()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    run_data = private_data(data, run_dir)
    out_file = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath, "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--data", run_data, "--work", run_dir, "--cores", str(cores), "--out", out_file])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            cmd += ["--t0us", str(time.time_ns() // 1000)]
            proc = subprocess.Popen(cmd, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"JVM exceeded {JVM_TIMEOUT_S} s", run_dir)
        if not os.path.exists(out_file):
            fail(f"JVM exited {rc} without a result", run_dir)
        with open(out_file) as fh:
            result = json.load(fh)
        if rc != 0 or result.get("error"):
            fail(f"run failed: {result.get('error')}", run_dir)
        counts = oracle_counts(result.get("oracle_sql", {}), run_data)
        ops = result["ops"]
        bad = check(result, counts)
        for name, err in bad:
            print(f"FAILED {name}: {err}")
        e2e, pct = end_to_end(result, ops)
        measured = sum(o["total_s"] for o in ops)
        print(f"workload={a.workload} seed={a.seed} cores={cores} rounds={result['rounds']} "
              f"ops={len(ops)} measured_s={measured:.2f} timed_s={result['timed_s']:.2f} "
              f"op_tail_s is p{pct:.1f} of n={len(ops)} failed_ratio={len(bad) / len(ops):.4f}")
        if result["timed_s"] < a.seconds:
            # etl_cycle times one day: the next day would not be the same work.
            print(f"note: the run timed {result['timed_s']:.2f} s, less than --seconds {a.seconds:g}")
        final = result.get("final") or {}
        if final.get("live_rows"):
            print(f"store_bytes_per_row={final['store_bytes'] / final['live_rows']:.4f} bytes")
        if a.trace:
            metrics = per_layer(result, ops, cores)
            print(f"traced op_p50_s={e2e['op_p50_s'][0]:.4f}")
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            with open(os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({"spans": result.get("spans", []), "ops": ops,
                           "metrics": {k: v[0] for k, v in metrics.items()}}, fh)
            selfs = sorted(((k, v[0]) for k, v in metrics.items() if k.startswith("self_")),
                           key=lambda kv: -kv[1])
            total = sum(v for _, v in selfs) or 1.0
            print("self time per op by layer: " + ", ".join(
                f"{k[5:-2]} {v:.3f}s ({100 * v / total:.0f}%)" for k, v in selfs if v > 0))
            # The same time with each Spark job given back to the layer
            # whose span launched it.
            jobs = self_times(result)[1]
            whole = sorted(((l, metrics[f"self_{l}_s"][0] + jobs[l]) for l in SPAN_LAYERS),
                           key=lambda kv: -kv[1])
            print("self time per op by layer, with its Spark jobs: " + ", ".join(
                f"{l} {v:.3f}s ({100 * v / total:.0f}%)" for l, v in whole if v > 0))
            compare_counts(a.workload, a.seed, metrics)
        else:
            metrics = e2e
        print(json.dumps({
            "correct": not bad, "attempted": len(ops), "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 1 if bad else 0
    finally:
        for d in artifact_dirs(run_data):
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
