"""Metric arithmetic: percentiles, span self time, and the per-layer and
end-to-end figures derived from a run's raw record."""
import datetime
import math
import statistics

# Module that declares each `heavy` query: the batch layers.
QUERY_LAYER = {
    "g1_components": "ScaleOps", "crypto_nullifier_dedup": "Crypto",
    "dd_minhash": "Similarity",
    "s2_decode_fast_action": "Governance", "q1_agg": "Relational",
    "st1_deadline_tally": "StreamingTwins", "dd_exact": "Text",
}
BATCH_LAYERS = ["Relational", "StreamingTwins", "Text", "Similarity", "ScaleOps",
                "Crypto", "Governance"]
LAYER_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("task_cpu_s", "s"),
                ("task_run_s", "s"), ("queue_s", "s"), ("gc_s", "s"),
                ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("jobs", "count"),
                ("skew", "ratio")]
STREAM_FIELDS = [
    ("StreamOps.trigger_p50_s", "s"), ("StreamOps.trigger_p90_s", "s"),
    ("StreamOps.overhead_s", "s"), ("StreamOps.batch_docs_p50", "count"),
    ("IngestIncr.admit_s", "s"), ("IngestIncr.driver_s", "s"),
    ("IngestIncr.jobs_per_trigger", "count"), ("IngestIncr.task_cpu_s", "s"),
    ("IngestIncr.write_mb", "MB"), ("IngestIncr.state_mb", "MB"),
    ("IngestIncr.state_files", "count"), ("IngestIncr.index_build_s", "s"),
    ("source.lag_files_max", "count"), ("source.gen_late_s", "s"),
]
COMMON_FIELDS = [("Engine.session_s", "s"), ("functions.hash2_us", "us"),
                 ("functions.montMul_ns", "ns"), ("spark.failed_tasks", "count"),
                 ("trace.overhead_pct", "%")]
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
              ("live_heap_mb", "MB"), ("admit_p50_s", "s"), ("admit_p90_s", "s")]
MB = 1048576.0


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    names = [(f"{layer}.{f}", u) for layer in BATCH_LAYERS for f, u in LAYER_FIELDS]
    names += [(f"query.{q}.wall_s", "s") for q in QUERY_LAYER]
    return names + STREAM_FIELDS + COMMON_FIELDS


# --- percentiles ---

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_reportable(n, candidates=(50, 90, 95, 99, 99.9), tail=10):
    """The highest candidate percentile with at least `tail` samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in candidates if beyond(n, p) >= tail]
    return max(ok) if ok else None


# --- spans ---

def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def attribute_jobs(spans, jobs, kind):
    """Maps each job to the `kind` span it ran under: by the span id the
    job carries, else by the stream batch id (triggers are named by it),
    else by the span whose interval holds the job's start."""
    own = [s for s in spans if s["kind"] == kind and s["end_ms"] is not None]
    by_id = {s["id"]: s for s in own}
    by_batch = {s["name"]: s for s in own}
    out = {}
    for j in jobs:
        s = by_id.get(j.get("span"))
        if s is None and j.get("batch_id") is not None:
            s = by_batch.get(str(j["batch_id"]))
        if s is None:
            s = next((x for x in own if x["start_ms"] <= j["start_ms"] <= x["end_ms"]), None)
        if s is not None:
            out[j["id"]] = s["id"]
    return out


def stage_jobs(jobs, stages):
    """Maps each completed stage to the job that ran it: the latest job,
    started no later than the stage, that lists it."""
    out = {}
    for st in stages:
        owners = [j for j in jobs if st["id"] in j["stage_ids"]
                  and j["start_ms"] <= (st.get("submit_ms") or j["start_ms"])]
        if owners:
            out[(st["id"], st["attempt"])] = max(owners, key=lambda j: j["start_ms"])["id"]
    return out


def stage_sums(stages):
    g = lambda k: sum(s.get(k, 0) for s in stages)
    longest = max(stages, key=lambda s: (s.get("end_ms") or 0) - (s.get("submit_ms") or 0),
                  default=None)
    skew = 0.0
    if longest and longest["task_ms"]:
        med = statistics.median(longest["task_ms"])
        skew = max(longest["task_ms"]) / med if med > 0 else 1.0
    return {"task_cpu_s": g("cpu_ns") / 1e9, "task_run_s": g("run_ms") / 1e3,
            "queue_s": sum(sum(s["task_wait_ms"]) for s in stages) / 1e3,
            "gc_s": g("gc_ms") / 1e3, "shuffle_mb": g("shuffle_write_bytes") / MB,
            "spill_mb": g("spill_disk_bytes") / MB, "skew": skew,
            "write_mb": g("output_bytes") / MB}


def trace_groups(trace, kind):
    """Per `kind` span (query or trigger): its interval, its jobs and the
    stages those jobs ran."""
    spans, jobs = trace["spans"], [j for j in trace["jobs"] if j["end_ms"] is not None]
    j2s = attribute_jobs(spans, jobs, kind)
    s2j = stage_jobs(jobs, trace["stages"])
    groups = {s["id"]: {"span": s, "jobs": [], "stages": []}
              for s in spans if s["kind"] == kind and s["end_ms"] is not None}
    jobs_by_id = {j["id"]: j for j in jobs}
    for jid, sid in j2s.items():
        groups[sid]["jobs"].append(jobs_by_id[jid])
    for st in trace["stages"]:
        sid = j2s.get(s2j.get((st["id"], st["attempt"])))
        if sid is not None:
            groups[sid]["stages"].append(st)
    return groups


def batch_layers(trace):
    """Per-layer sums over the traced pass."""
    out = {}
    groups = trace_groups(trace, "query").values()
    for layer in BATCH_LAYERS:
        gs = [g for g in groups if QUERY_LAYER.get(g["span"]["name"]) == layer]
        spans = [(g["span"]["start_ms"], g["span"]["end_ms"]) for g in gs]
        sums = stage_sums([st for g in gs for st in g["stages"]])
        vals = {
            "wall_s": sum(b - a for a, b in spans) / 1e3,
            "driver_s": sum(self_time(sp, [(j["start_ms"], j["end_ms"]) for j in g["jobs"]])
                            for sp, g in zip(spans, gs)) / 1e3,
            "jobs": sum(len(g["jobs"]) for g in gs),
        }
        vals.update(sums)
        out.update((f"{layer}.{f}", vals[f]) for f, _ in LAYER_FIELDS)
    return out


# --- admission ---

def triggers(progress):
    """Data-carrying stream triggers from StreamingQueryProgress JSON."""
    out = []
    for p in progress:
        if p.get("numInputRows", 0) <= 0:
            continue
        start = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start_ms = start.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e3
        d = p["durationMs"]
        out.append({"batch_id": p["batchId"], "start_ms": start_ms,
                    "end_ms": start_ms + d["triggerExecution"],
                    "trigger_s": d["triggerExecution"] / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "rows": p["numInputRows"]})
    return out


def doc_latencies(deliveries, file_docs, doc_batch, trigs):
    """Seconds from each timed document's due time to the commit of the
    trigger that verdicted it."""
    commit = {t["batch_id"]: t["end_ms"] for t in trigs}
    return [(commit[doc_batch[d]] - dv["due_ms"]) / 1e3
            for dv in deliveries for d in file_docs[dv["file"]]]


def backlog_max(deliveries, file_docs, doc_batch, trigs):
    """Most files delivered but not yet committed, at any delivery or
    trigger start."""
    commit = {t["batch_id"]: t["end_ms"] for t in trigs}
    done = sorted(max(commit[doc_batch[d]] for d in file_docs[dv["file"]])
                  for dv in deliveries)
    arrived = sorted(dv["delivered_ms"] for dv in deliveries)
    instants = arrived + [t["start_ms"] for t in trigs]
    return max(sum(1 for a in arrived if a <= t) - sum(1 for c in done if c <= t)
               for t in instants)
