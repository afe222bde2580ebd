#!/usr/bin/env python3
"""The repository's benchmark. See perfbench/README.md.

    python3 perfbench/run.py --workload batch_iterative --seed 1 \
        --seconds 20 --trace 0

Builds the engine and the harness from source on first use, makes the
workload's inputs from the seed, runs the harness (perfbench.Harness) in
one JVM on local[nproc], checks every output, and prints the run's full
record followed by one JSON line of metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

# scale: table sizes as a multiple of the sf0.1 shape (fixture.py);
# warm: warm-up passes (the first pass of a JVM costs about three later
# ones, and passes keep speeding up for a few more).
WORKLOADS = {
    "batch_iterative": {"kind": "batch", "scale": 0.05, "warm": 3,
                        "queries": ["graph_components", "llm_bpe_train"]},
    "ingest": {"kind": "ingest", "rows": 6000, "files": 6, "warm": 2},
}
SETUP_REPS = 3
# A fixed, pre-touched heap: the JVM's resident size then moves with
# what the workload adds beyond the heap (generated classes, code cache,
# threads, off-heap buffers) instead of with the collector's sizing
# decisions, which differ from run to run. What the workload holds on the
# heap shows in peak_heap_mb instead.
HEAP = "2g"
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 170

UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
         "peak_heap_mb": "MB"}

LAYER_UNITS = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "catalyst.plan_s": "s", "execution.run_s": "s",
    "execution.jobs": "count", "execution.stages": "count",
    "execution.tasks": "count", "execution.job_busy_s": "s",
    "execution.driver_gap_s": "s", "execution.task_busy_frac": "fraction",
    "execution.empty_task_frac": "fraction",
    "execution.shuffle_write_mb": "MB", "execution.shuffle_read_mb": "MB",
    "execution.spill_mb": "MB", "execution.gc_s": "s",
    "sources.parse_rows_per_s": "rows/s",
    "streaming.upsert_insert_rows_per_s": "rows/s",
    "streaming.upsert_update_rows_per_s": "rows/s",
    "streaming.upsert_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.trigger_overhead_s": "s", "streaming.batches": "count",
    "streaming.empty_batch_frac": "fraction",
}

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over this
    box's CPUs, since boot: on a shared VM, what slows a run from
    outside."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- build

def classpath(digest):
    """Compile the engine and the harness and return the harness's
    runtime classpath. The classpath is cached together with the source
    digest it was built from; when the sources differ from that digest,
    `sbt compile` runs again (incrementally) before the cache is used."""
    stamp = os.path.join(HERE, "target", "bench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["source_digest"] == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"source_digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def source_digest():
    """sha256 over everything the build compiles from: the engine's and
    the harness's sources and build definitions. It names the code a
    record measured, and keys the classpath cache."""
    h = hashlib.sha256()
    for base in ("src/main", "build.sbt", "project", "perfbench/src",
                 "perfbench/build.sbt", "perfbench/project"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(
                os.path.join(d, f) for d, ds, fs in os.walk(path) for f in fs
                if not f.startswith(".") and "target" not in
                os.path.relpath(d, path).split(os.sep))
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


# ---------------------------------------------------------------- checks

def oracle_check(data_dir, results_dir, oracle_sql):
    """Compare each query's result with its DuckDB oracle the way
    tools/check.py does (sorted columns, canonical values, row order).
    Returns {query: None if it matches, else a reason}."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon

    con = duckdb.connect()
    for name in os.listdir(data_dir):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, name)}')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            want = con.execute(sql).fetch_arrow_table()
            got = con.execute(
                "SELECT * FROM read_parquet("
                f"'{os.path.join(results_dir, name)}/*.parquet')"
            ).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            verdicts[name] = f"error: {e}"[:300]
            continue
        cols = sorted(want.column_names)
        if cols != sorted(got.column_names):
            verdicts[name] = "columns differ"
            continue
        rows = [[tuple(canon(r[c]) for c in cols) for r in t.to_pylist()]
                for t in (want, got)]
        verdicts[name] = None if rows[0] == rows[1] else (
            f"rows differ (oracle {len(rows[0])}, spark {len(rows[1])})")
    con.close()
    return verdicts


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        why = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
    wl = dict(WORKLOADS[args.workload], why=why[args.workload])
    load_before, steal_before = loadavg(), steal_s()
    digest = source_digest()
    t0 = time.perf_counter()
    cp = classpath(digest)
    timings = {"build_s": time.perf_counter() - t0}
    t_start = time.time()

    out = os.path.join(HERE, "out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    data = os.path.join(out, "data")
    fixture_s = []
    if wl["kind"] == "batch":
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            fixture.generate(data, args.seed, wl["scale"])
            fixture_s.append(time.perf_counter() - t0)

    n_cores = cores()
    cmd = ["java", *ADD_OPENS, *JVM_OPTS,
           f"-Dderby.stream.error.file={out}/derby.log",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--kind", wl["kind"],
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--out", out,
           "--cores", str(n_cores), "--reps", str(SETUP_REPS),
           "--warm", str(wl["warm"]),
           "--queries", ",".join(wl.get("queries", [])),
           "--rows", str(wl.get("rows", 0)),
           "--files", str(wl.get("files", 0))]
    log_path = os.path.join(out, "harness.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    raw_path = os.path.join(out, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(raw_path) as f:
        raw = json.load(f)
    timings["harness_s"] = time.time() - t_start

    t0 = time.perf_counter()
    record = evaluate(raw, wl, args, n_cores, data, out, fixture_s)
    timings["evaluate_s"] = time.perf_counter() - t0
    record["context"] = {
        "seed": args.seed, "nproc": n_cores, "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "steal_s": steal_s() - steal_before, "xmx": HEAP,
        "max_heap_mb": raw["max_heap_mb"],
        "spark_version": raw["spark_version"],
        "java_version": raw["java_version"], "git_commit": git_commit(),
        "source_digest": digest, "seconds": args.seconds,
        "trace": args.trace, "setup_reps": SETUP_REPS, "timings": timings,
    }
    os.makedirs(os.path.join(HERE, "out", "records"), exist_ok=True)
    with open(os.path.join(HERE, "out", "records",
                           f"{args.workload}-seed{args.seed}-trace"
                           f"{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(record["result"]))


def evaluate(raw, wl, args, n_cores, data, out, fixture_s):
    """The run's record: metrics, samples, checks and failures."""
    spans = metrics.tree(raw)
    passes = metrics.timed_passes(spans)
    walls, cpus, batch_s, rates = metrics.end_to_end(raw, wl["kind"])
    failures = [f"{e['op']} (pass {e['pass']}): {e['error']}"
                for e in raw["errors"]]
    timed = {metrics.pass_no(p) for p in passes}
    query_s = {}
    if wl["kind"] == "batch":
        verdicts = oracle_check(data, os.path.join(out, "results"),
                                raw["oracle_sql"])
        bad = {q for q, v in verdicts.items() if v}
        bad |= {q for q in wl["queries"] if q not in raw["oracle_sql"]}
        failures += [f"{q}: {verdicts.get(q) or 'no oracle'}"
                     for q in sorted(bad)]
        thrown = {(e["pass"], e["op"]) for e in raw["errors"]}
        runs = [(metrics.pass_no(p), q) for p in passes for q in spans
                if q["kind"] == "query" and q["parent"] == p["id"]]
        attempted = len(runs)
        failed = sum(1 for n, q in runs
                     if q["name"] in bad or (n, q["name"]) in thrown)
        for _, q in runs:
            query_s.setdefault(q["name"], []).append(metrics.secs(q))
        checks = {"oracle": verdicts}
    else:
        failures += [f"exactly-once check failed: {c}"
                     for c in raw["checks"] if not c["ok"]]
        mbs = [b for b in raw["batches"] if b["pass"] in timed
               and b["phase"] in metrics.PHASES]
        tchecks = [c for c in raw["checks"] if c["pass"] in timed]
        attempted = len(mbs) + len(tchecks)
        failed = (sum(1 for e in raw["errors"] if e["pass"] in timed) +
                  sum(1 for c in tchecks if not c["ok"]))
        checks = {"exactly_once": raw["checks"]}

    setup_reps = [metrics.secs(s) for s in spans if s["kind"] == "setup"]
    warmup = sum(metrics.secs(s) for s in spans if s["kind"] == "warmup")
    ingest = wl["kind"] == "ingest"
    tail_pct, tail_v, tail_n = stats.tail(batch_s)
    # Every end-to-end metric of the design, each under one name; those
    # of the ingest path are None on a batch workload. The result line
    # carries the ones BENCHMARK.json bounds (UNITS).
    e2e = {
        "setup_s": (stats.median(fixture_s) + stats.median(setup_reps) +
                    warmup),
        "pass_s": stats.median(walls),
        "cpu_s": stats.median(cpus),
        "peak_rss_mb": raw["peak_rss_mb"],
        "peak_heap_mb": metrics.peak_heap_mb(raw),
        "ingest_rows_per_s": stats.median(rates["fresh"]) if ingest else None,
        "replay_rows_per_s": stats.median(rates["replay"]) if ingest else None,
        "batch_s_p50": stats.median(batch_s) if ingest else None,
        "batch_s_tail": tail_v if ingest else None,
        "failed_frac": failed / attempted if attempted else 0.0,
    }
    record = {
        "workload": args.workload, "why": wl["why"], "kind": wl["kind"],
        "end_to_end": e2e,
        "samples": {"passes": len(walls), "pass_s": walls, "cpu_s": cpus,
                    "query_s": query_s, "batch_s": batch_s,
                    "tail_percentile": tail_pct, "tail_samples": tail_n,
                    "setup_reps_s": setup_reps, "fixture_s": fixture_s,
                    "warmup_s": warmup},
        "checks": checks, "failures": failures,
    }
    if args.trace:
        layers = metrics.per_layer(spans, wl["kind"], n_cores, LAYER_UNITS)
        kinds = {"traced": [p for p in passes if p.get("traced")],
                 "untraced": [p for p in passes if not p.get("traced")]}
        med = {k: stats.median([metrics.secs(p) for p in v])
               for k, v in kinds.items()}
        record["per_layer"] = layers
        record["self_time_s"] = metrics.self_times(spans)
        record["tracing_overhead"] = {
            "pass_s": med, "passes": {k: len(v) for k, v in kinds.items()},
            "frac": med["traced"] / med["untraced"] - 1}
        result = {k: {"value": layers[k], "unit": u}
                  for k, u in LAYER_UNITS.items()}
        with open(os.path.join(out, "spans.json"), "w") as f:
            json.dump(spans, f)
    else:
        result = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    record["result"] = {"correct": not failures, "attempted": attempted,
                        "failed": failed, "metrics": result}
    return record


if __name__ == "__main__":
    main()
