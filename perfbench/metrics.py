"""Turn the harness's raw document into the benchmark's metrics.

The raw document (written by perfbench.Harness) holds the harness's own
spans (workload → setup | warmup | pass → query → construct | plan |
execute, or pass → phase → upsert | parse, plus check spans), the
micro-batch progress of every stream, and — in a traced run — the Spark
job aggregates and the micro-batch progress the listeners saw. `tree`
joins them into one span tree; the metric functions read that tree.
Times in spans are epoch milliseconds.
"""
import re

import stats

PHASES = ("fresh", "replay")


def secs(span):
    return (span["end"] - span["start"]) / 1000.0


def pass_no(span):
    return int(span["name"][len("pass-"):])


def timed_passes(spans):
    """The measured passes (the warm-up passes and the heap-probe pass
    have negative numbers)."""
    return [s for s in spans if s["kind"] == "pass" and pass_no(s) >= 0]


def tree(raw):
    """All spans of a run, with micro-batches and Spark jobs as spans.

    A micro-batch (kind `batch`) hangs under its phase, and the harness's
    upsert or parse span for that batch id moves under it. A job (kind
    `job`) hangs under the innermost span that contains its start: queries
    and micro-batches run one at a time, so containment is ownership. Job
    times tick in whole milliseconds, hence one millisecond of slack."""
    spans = [dict(s) for s in raw["spans"]]
    by_id = {s["id"]: s for s in spans}
    phase_span = {}
    for s in spans:
        if s["kind"] == "phase":
            phase_span[(pass_no(by_id[s["parent"]]), s["name"])] = s
    batch_span = {}
    for p in raw.get("progress", []):
        m = re.fullmatch(r"(\w+)-(-?\d+)", p["query"])
        phase = phase_span.get((int(m.group(2)), m.group(1)))
        if phase is None:
            continue
        b = {"id": len(spans), "kind": "batch", "name": str(p["batch_id"]),
             "start": p["start"],
             "end": p["start"] + p["duration_ms"]["triggerExecution"],
             "parent": phase["id"], "rows": p["rows"],
             "duration_ms": p["duration_ms"]}
        spans.append(b)
        batch_span[(phase["id"], b["name"])] = b
    for s in spans:
        if s["kind"] in ("upsert", "parse"):
            b = batch_span.get((s["parent"], s["name"]))
            if b is not None:
                s["parent"] = b["id"]
    jobs = raw.get("jobs", [])
    containers = [s for s in spans if s["kind"] != "workload"]
    for job, parent in zip(jobs, stats.attach(jobs, containers, slack=1.0)):
        spans.append(dict(job, id=len(spans), kind="job",
                          name=f"job-{job['job_id']}",
                          parent=parent if parent is not None else -1))
    return spans


def ancestors(span, by_id):
    """Every span above `span`, innermost first."""
    out = []
    while span["parent"] in by_id:
        span = by_id[span["parent"]]
        out.append(span)
    return out


def end_to_end(raw, kind):
    """Per timed pass: wall and process CPU seconds; for ingest also the
    walls of the non-empty micro-batches of the fresh and replay phases
    (their triggerExecution) and each phase's rows read ÷ its wall. A
    batch pass is the whole mix; an ingest pass is its fresh and replay
    phases."""
    spans = raw["spans"]
    walls, cpus, batch_s, rates = [], [], [], {ph: [] for ph in PHASES}
    for p in timed_passes(spans):
        sub = [spans[i] for i in stats.descendants(spans, p["id"])]
        if kind == "batch":
            measured = [p]
        else:
            phases = {s["name"]: s for s in sub if s["kind"] == "phase"}
            measured = [phases[ph] for ph in PHASES]
            mine = [b for b in raw["batches"] if b["pass"] == pass_no(p)]
            for ph in PHASES:
                read = sum(b["rows"] for b in mine if b["phase"] == ph)
                rates[ph].append(read / secs(phases[ph]))
            batch_s += [b["duration_ms"]["triggerExecution"] / 1000.0
                        for b in mine if b["phase"] in PHASES
                        and b["rows"] > 0]
        walls.append(sum(secs(s) for s in measured))
        cpus.append(sum(s["cpu_ms"] for s in measured) / 1000.0)
    return walls, cpus, batch_s, rates


def peak_heap_mb(raw):
    """The most heap the heap-probe pass found held after a full
    collection (Harness.probeHeap)."""
    return max(p["heap_mb"] for p in raw["heap_probes"])


def per_layer(spans, kind, n_cores, names):
    """Per-layer metrics over the traced passes: per-pass sums, reported
    as the median over passes; per-batch durations as medians over the
    micro-batches. Metrics of a layer the workload does not exercise
    are 0."""
    by_id = {s["id"]: s for s in spans}
    traced = [p for p in timed_passes(spans) if p.get("traced")]
    per_pass = {}
    batches = []
    for p in traced:
        sub = [by_id[i] for i in stats.descendants(spans, p["id"])]
        up = {s["id"]: ancestors(s, by_id) for s in sub}
        up_ids = {sid: {a["id"] for a in a_list} for sid, a_list in up.items()}
        jobs = [s for s in sub if s["kind"] == "job"]

        def under(s, kind_, name=None):
            return any(a["kind"] == kind_ and name in (None, a["name"])
                       for a in up[s["id"]])

        if kind == "batch":
            scope = [s for s in sub if s["kind"] == "execute"]
            ops = [s for s in sub if s["kind"] == "query"]
            xjobs = [j for j in jobs if under(j, "execute")]
        else:
            scope = [s for s in sub if s["kind"] == "phase"
                     and s["name"] in PHASES]
            scope_ids = {s["id"] for s in scope}
            ops = [s for s in sub if s["kind"] == "batch"
                   and s["rows"] > 0 and s["parent"] in scope_ids]
            xjobs = [j for j in jobs if any(under(j, "phase", ph)
                                            for ph in PHASES)]
            batches += ops
        run_s = sum(secs(s) for s in scope)
        op_gaps = [stats.uncovered(o, [(j["start"], j["end"]) for j in jobs
                                       if o["id"] in up_ids[j["id"]]])
                   for o in ops]
        vals = {
            "operators.construct_s": sum(secs(s) for s in sub
                                         if s["kind"] == "construct"),
            "operators.construct_jobs": sum(1 for j in jobs
                                            if under(j, "construct")),
            "catalyst.plan_s": sum(secs(s) for s in sub
                                   if s["kind"] == "plan"),
            "execution.run_s": run_s,
            "execution.jobs": len(xjobs),
            "execution.stages": sum(j["stages"] for j in xjobs),
            "execution.tasks": sum(j["tasks"] for j in xjobs),
            "execution.job_busy_s": stats.union_length(
                [(j["start"], j["end"]) for j in xjobs]) / 1000.0,
            "execution.driver_gap_s": sum(op_gaps) / 1000.0,
            "execution.task_busy_frac": (
                sum(j["task_ms"] for j in xjobs) / 1000.0 / (n_cores * run_s)
                if run_s else 0.0),
            "execution.empty_task_frac": stats.empty_task_frac(xjobs),
            "execution.shuffle_write_mb": sum(
                j["shuffle_write_bytes"] for j in xjobs) / 2 ** 20,
            "execution.shuffle_read_mb": sum(
                j["shuffle_read_bytes"] for j in xjobs) / 2 ** 20,
            "execution.spill_mb": sum(
                j["disk_spill_bytes"] for j in xjobs) / 2 ** 20,
            "execution.gc_s": sum(j["gc_ms"] for j in xjobs) / 1000.0,
        }
        if kind == "ingest":
            phases = {s["name"]: s for s in sub if s["kind"] == "phase"}
            parse = phases.get("parse")
            vals["sources.parse_rows_per_s"] = (
                sum(s["rows"] for s in sub if s["kind"] == "batch" and
                    s["parent"] == parse["id"]) / secs(parse)
                if parse else 0.0)
            for ph, metric in zip(PHASES, (
                    "streaming.upsert_insert_rows_per_s",
                    "streaming.upsert_update_rows_per_s")):
                ups = [s for s in sub if s["kind"] == "upsert"
                       and under(s, "phase", ph)]
                landed = sum(by_id[s["parent"]].get("rows", 0) for s in ups)
                took = sum(secs(s) for s in ups)
                vals[metric] = landed / took if took else 0.0
            all_batches = [s for s in sub if s["kind"] == "batch"
                           and s["parent"] in scope_ids]
            vals["streaming.batches"] = len(all_batches)
            vals["streaming.empty_batch_frac"] = (
                sum(1 for b in all_batches if b["rows"] == 0) /
                len(all_batches) if all_batches else 0.0)
        for n, v in vals.items():
            per_pass.setdefault(n, []).append(v)
    out = {n: stats.median(v) for n, v in per_pass.items()}
    if kind == "ingest":
        def per_batch(f):
            return stats.median([f(b) for b in batches])

        def dur(key):
            return per_batch(lambda b: b["duration_ms"].get(key, 0) / 1000.0)

        batch_ids = {b["id"] for b in batches}
        upserts = [s for s in spans if s["kind"] == "upsert"
                   and s["parent"] in batch_ids]
        out["streaming.upsert_s"] = stats.median([secs(s) for s in upserts])
        out["streaming.add_batch_s"] = dur("addBatch")
        out["streaming.query_planning_s"] = dur("queryPlanning")
        out["streaming.wal_commit_s"] = dur("walCommit")
        out["streaming.commit_offsets_s"] = dur("commitOffsets")
        out["streaming.latest_offset_s"] = dur("latestOffset")
        out["streaming.trigger_overhead_s"] = per_batch(
            lambda b: (b["duration_ms"]["triggerExecution"] -
                       b["duration_ms"].get("addBatch", 0)) / 1000.0)
    return {n: out.get(n, 0.0) for n in names}


def self_times(spans):
    """Each span kind's self time (its wall minus its children's union),
    summed per traced pass and reported as the median over those passes,
    in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    per_pass = {}
    for p in timed_passes(spans):
        if not p.get("traced"):
            continue
        sums = {}
        for sid in [p["id"]] + stats.descendants(spans, p["id"]):
            s = spans[sid]
            sums[s["kind"]] = sums.get(s["kind"], 0.0) + stats.self_time(
                s, children.get(sid, [])) / 1000.0
        for kind, v in sums.items():
            per_pass.setdefault(kind, []).append(v)
    return {kind: stats.median(v) for kind, v in per_pass.items()}
