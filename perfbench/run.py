#!/usr/bin/env python3
"""Closed-loop benchmark of the graft library: one client submits one
query or index operation at a time to a local Spark session.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The first run builds the library and
the benchmark's JVM program from source with sbt and generates the inputs; later runs
reuse both (everything lands in `.bench_build/`).  Each run starts one
JVM that dumps every query's output in a first warm-up pass, warms up once
more, then times passes over the workload's mix for `--seconds`; the dumps
are compared with the DuckDB oracle after the JVM exits.  The last stdout
line is the result JSON; the lines before it are a short human summary.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, BENCH)

import gen_data  # noqa: E402
import oracle  # noqa: E402

# the workloads BENCHMARK.json lists; one index_lifecycle run takes about
# 100 s, so it runs only on request (or with `all`)
WORKLOADS = ["glider_analytics", "curation_cold"]
OPTIONAL = ["index_lifecycle"]
# dataset name -> (sf, documents, embeddings)
DATASETS = {"bench": (0.01, 500, 500)}
JVM_TIMEOUT_S = 165

# Wall-clock time on a shared host follows the neighbours' load (two runs
# of one seed can differ by half), so the bounded end-to-end figures are
# the CPU time of set-up and of a pass, and heap; the wall-clock set-up,
# pass and query latencies are reported unbounded, in every run's summary
# line and (but set-up) with the per-layer metrics.
END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("heap_peak_mb", "MB")]
# index_lifecycle only: end-to-end figures of the persisted stores, and
# the rows its own streaming epochs feed
INDEX_END_TO_END = [("index_build_s", "s"), ("index_append_p50_s", "s"),
                    ("index_read_p50_s", "s"), ("index_compact_s", "s"),
                    ("index_bytes_ratio", "ratio")]
INDEX_PER_LAYER = [("streaming.epochs", "count"), ("streaming.rows_in", "count"),
                   ("store.self_s", "s"), ("streaming.self_s", "s")]
PER_LAYER = [
    ("pass_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
    ("entry.build_s", "s"), ("entry.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
    ("plans.planning_s", "s"),
    ("sources.scan_rows", "count"), ("sources.scan_bytes", "bytes"),
    ("operators.tasks", "count"), ("operators.task_run_s", "s"),
    ("operators.task_cpu_s", "s"), ("operators.gc_s", "s"),
    ("operators.spill_bytes", "bytes"), ("operators.peak_exec_mb", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.single_task_stages", "count"), ("spark.driver_gap_s", "s"),
    ("spark.idle_core_frac", "frac"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("cache.entries_built", "count"), ("cache.bytes", "bytes"),
    ("store.bytes_written", "bytes"), ("store.files_written", "count"),
    ("store.files_live", "count"), ("store.write_amp", "ratio"),
    ("io.emit_s", "s"), ("io.bytes_written", "bytes"),
    ("entry.self_s", "s"), ("exec.self_s", "s"), ("io.self_s", "s"),
    ("cache.self_s", "s"),
    ("trace.overhead_s", "s"), ("trace.overhead_cpu_s", "s"),
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt"),
                 os.path.join(BENCH, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the library and the JVM program once per source state."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                return cp_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("perfbench: building with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp_file


def dataset(name):
    """Generates a dataset once; the generator's inputs are its stamp."""
    sf, n_docs, n_vecs = DATASETS[name]
    out = os.path.join(WORK, "data", name)
    with open(os.path.join(BENCH, "gen_data.py"), "rb") as f:
        digest = hashlib.sha256(f.read() + repr(DATASETS[name]).encode()).hexdigest()
    stamp = os.path.join(out, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        gen_data.generate(out, sf, n_docs, n_vecs)
        with open(stamp, "w") as f:
            f.write(digest)
    return out, digest


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp_file, workload, seed, seconds, trace, data):
    out = os.path.join(WORK, "run", workload)
    subprocess.run(["rm", "-rf", out], check=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    with open(cp_file) as f:
        cp = f.read().strip()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(out, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cores()),
            "--data", data, "--out", out]
    with open(os.path.join(WORK, f"jvm-{workload}.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {workload} JVM timed out")
    if p.returncode != 0:
        raise SystemExit(f"perfbench: {workload} JVM exited {p.returncode}; "
                         f"see .bench_build/perfbench/jvm-{workload}.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def stored_untraced(workload, values=None):
    """pass_s and pass_cpu_s of the earlier untraced runs in this checkout,
    for the tracing overhead a traced run reports."""
    path = os.path.join(WORK, "untraced_passes.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    if values is not None:
        data.setdefault(workload, []).append(values)
        with open(path, "w") as f:
            json.dump(data, f)
    return data.get(workload, [])


def metric_specs(workload, trace):
    index = workload == "index_lifecycle"
    if trace:
        return PER_LAYER + (INDEX_PER_LAYER if index else [])
    return END_TO_END + (INDEX_END_TO_END if index else [])


def metrics(res, trace, failed_names):
    samples = res["samples"]
    passes = sorted({s["pass"] for s in samples})

    def pass_median(key, kind=None):
        # a pass's figure is the sum over its operations; the untimed
        # checks of index_lifecycle run between operations and are left out
        return statistics.median(
            sum(s[key] for s in samples if s["pass"] == p and kind in (None, s["kind"]))
            for p in passes)
    ok = [s["s"] for s in samples if s["ok"] and s["name"] not in failed_names]
    by_kind = lambda k: [s["s"] for s in samples if s["kind"] == k and s["ok"]]
    m = dict(res["layers"]) if trace else {}
    # CPU of a pass: the driver thread's during its operations plus every
    # Spark task's
    driver_cpu = [sum(s["cpu_s"] for s in samples if s["pass"] == p) for p in passes]
    m.update({"setup_s": res["setup_cpu_s"], "setup_wall_s": res["setup_wall_s"],
              "pass_s": pass_median("s"),
              "pass_cpu_s": statistics.median(
                  d + t for d, t in zip(driver_cpu, res["pass_task_cpu_s"])),
              "query_p50_s": statistics.median(ok), "query_p90_s": p90(ok),
              "heap_peak_mb": res["heap_peak_mb"]})
    if res["workload"] == "index_lifecycle":
        ex = res["extra"]
        sizes = [v for k, v in ex.items() if k.startswith("index_bytes_after_compact.")]
        m.update({"index_build_s": pass_median("s", "build"),
                  "index_compact_s": pass_median("s", "compact"),
                  "index_append_p50_s": statistics.median(by_kind("append")),
                  "index_read_p50_s": statistics.median(by_kind("read")),
                  "index_bytes_ratio": statistics.median(sizes) / ex["index_input_bytes"]})
    if trace:
        live = m.get("store.live_bytes", 0.0)
        m["store.write_amp"] = m.get("store.bytes_written", 0.0) / live if live else 0.0
        base = stored_untraced(res["workload"])
        for k in ("pass_s", "pass_cpu_s"):
            m[f"trace.overhead_{k[5:]}"] = (
                m[k] - statistics.median(b[k] for b in base) if base else 0.0)
    return m


def run_workload(cp_file, workload, seed, seconds, trace):
    data, data_digest = dataset("bench")
    t0 = time.time()
    res, out = run_jvm(cp_file, workload, seed, seconds, trace, data)
    jvm_s = time.time() - t0
    failed_checks = {k: v["detail"] for k, v in res["checks"].items() if not v["ok"]}
    bad = oracle.compare(data, data_digest, res["dumps"], res["oracle_sql"],
                         os.path.join(WORK, "oracle_cache.json"))
    failed_checks.update(bad)
    failed_names = {k.split(":", 1)[-1] if k.startswith("dump:") else k
                    for k in failed_checks}
    samples = res["samples"]
    attempted = len(samples)
    # every timed run of a query whose output is wrong fails; a failed
    # invariant or report check fails the run once
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in failed_names)
    failed += len(failed_names - {s["name"] for s in samples})
    m = metrics(res, trace, failed_names)
    if not trace and failed == 0:
        stored_untraced(workload, {k: m[k] for k in ("pass_s", "pass_cpu_s")})
    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        spans = os.path.join(out, "spans.jsonl")
        if os.path.exists(spans):
            os.replace(spans, os.path.join(WORK, "traces",
                                           f"{workload}-seed{seed}.jsonl"))
    specs = metric_specs(workload, trace)
    summary = {
        "workload": workload, "passes": len(res["pass_s"]),
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "jvm_s": round(jvm_s, 1),
        "failures": sorted(failed_checks)[:5] + res["errors"][:3],
        # wall-clock figures of an untraced run, for the human summary
        "wall": "" if trace else " ".join(
            f"{k}={fmt(m[k])}s" for k in
            ("setup_wall_s", "pass_s", "query_p50_s", "query_p90_s")),
    }
    return summary, {k: {"value": m.get(k, 0.0), "unit": u} for k, u in specs}


def fmt(v):
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + OPTIONAL + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("perfbench: the library sources (src/main/scala/graft) are not "
            "in this checkout")
        return 2
    cp_file = build()
    names = WORKLOADS + OPTIONAL if a.workload == "all" else [a.workload]
    attempted = failed = 0
    metrics_out = {}
    for w in names:
        summary, ms = run_workload(cp_file, w, a.seed, a.seconds, a.trace)
        attempted += summary["attempted"]
        failed += summary["failed"]
        line = " ".join(f"{k}={fmt(v['value'])}{v['unit']}" for k, v in ms.items())
        print(f"[{w}] passes={summary['passes']} attempted={summary['attempted']} "
              f"failed={summary['failed']} error_rate={fmt(summary['error_rate'])} "
              f"jvm_s={summary['jvm_s']} {summary['wall']}")
        print(f"[{w}] {line}")
        if summary["failures"]:
            print(f"[{w}] failures: {'; '.join(summary['failures'])}"[:400])
        metrics_out.update(ms if len(names) == 1 else
                           {f"{w}/{k}": v for k, v in ms.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics_out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
