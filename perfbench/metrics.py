"""Turns one run's raw record (samples, values, spans, jobs) into metrics."""
import stats

MB = 1048576.0

# BENCHMARK.json's end-to-end metrics, each computed for every workload from
# the report: an "operation" is a request on `requests_shared` and a
# query on `register`; a "cycle" is a request batch or a register pass.
END_TO_END = {
    "setup_s": ("setup_s", "s"),
    "latency_s": ("op_p50_s", "s"),
    "latency_tail_s": ("op_tail_s", "s"),
    "throughput_per_s": ("ops_per_s", "1/s"),
    "cycle_s": ("cycle_s", "s"),
}

MODULES = ("Cache", "Engine", "StateTable", "Pipeline", "Ckpt", "QueriesCore",
           "QueriesExt")
ENGINE_CALLS = ("submitAll", "tick", "status", "results", "bundle")


def _m(value, unit):
    return {"value": value, "unit": unit}


def report(raw, launch_us):
    """Every end-to-end figure under its README name, with units."""
    s = raw["samples"]
    v = raw["values"]
    out = {"setup_s": _m((raw["first_timed_us"] - launch_us) / 1e6, "s"),
           "timed_s": _m((raw["timed_end_us"] - raw["first_timed_us"]) / 1e6, "s"),
           "failed_frac": _m(raw["failed"] / max(1, raw["attempted"]), "ratio"),
           "heap_mb": _m(v.get("heap_mb", 0.0), "MB")}
    for k, x in v.items():
        if k.startswith("phase."):
            out[k] = _m(x, "s")
    if raw["workload"] == "register":
        q = s.get("query_s", [])
        tail, q_eff, n = stats.tail(q)
        passes = s.get("pass_s", [])
        out.update({
            "register_s": _m(stats.median(passes), "s"),
            "query_p50_s": _m(stats.median(q), "s"),
            "query_p90_s": _m(tail, "s"),
            "query_tail_quantile": _m(q_eff, "ratio"),
            "query_samples": _m(n, "count"),
            "passes": _m(len(passes), "count"),
            "queries_per_pass": _m(v.get("queries", 0), "count"),
            "substrates_s": _m(v.get("substrates_s", 0.0), "s"),
        })
        ops_per_s = len(q) / sum(passes) if passes else 0.0
        op = (stats.median(q), tail, ops_per_s, stats.median(passes))
    else:
        ta = s.get("turnaround_s", [])
        tail, q_eff, n = stats.tail(ta)
        cycles = s.get("cycle_s", [])
        done = v.get("completed", 0)
        rps = done / sum(cycles) if cycles else 0.0
        out.update({
            "turnaround_s": _m(stats.median(ta), "s"),
            "turnaround_p90_s": _m(tail, "s"),
            "turnaround_tail_quantile": _m(q_eff, "ratio"),
            "turnaround_samples": _m(n, "count"),
            "requests_per_s": _m(rps, "1/s"),
            "batch": _m(v.get("batch", 0), "count"),
            "cycles": _m(len(cycles), "count"),
            "disk_mb_per_request": _m(v.get("disk_bytes", 0.0) / MB / max(1, done), "MB"),
        })
        op = (stats.median(ta), tail, rps, stats.median(cycles))
    out["op_p50_s"], out["op_tail_s"] = _m(op[0], "s"), _m(op[1], "s")
    out["ops_per_s"], out["cycle_s"] = _m(op[2], "1/s"), _m(op[3], "s")
    return out


def end_to_end(rep):
    return {name: _m(rep[key]["value"], unit) for name, (key, unit) in END_TO_END.items()}


def timed_tree(spans):
    """(timed root spans, {span id: id of its timed root})."""
    by_id = {sp["id"]: sp for sp in spans}
    roots = [sp for sp in spans
             if (sp["name"] == "cycle" and sp["tag"].startswith("c")) or sp["name"] == "pass"]
    root_ids = {sp["id"] for sp in roots}
    owner = {}
    for sp in spans:
        cur = sp
        while cur is not None and cur["id"] not in root_ids:
            cur = by_id.get(cur["parent"])
        if cur is not None:
            owner[sp["id"]] = cur["id"]
    return roots, owner


def layer_metrics(raw):
    """BENCHMARK.json's per-layer metrics from a traced run. Counts and
    times are per timed cycle (requests_shared) or per pass (register);
    call latencies are medians per call; 0 means the workload does not call
    that layer."""
    spans, jobs, v = raw["spans"], raw["jobs"], raw["values"]
    roots, owner = timed_tree(spans)
    units = max(1, len(roots))
    timed_jobs = [j for j in jobs if j["span"] in owner]
    jobs_of_root = {}
    for j in timed_jobs:
        jobs_of_root.setdefault(owner[j["span"]], []).append(j)
    timed_spans = [sp for sp in spans if sp["id"] in owner]

    def per_unit(x):
        return x / units

    def dur(sp):
        return (sp["end_us"] - sp["start_us"]) / 1e6

    def job_s(js):
        return sum(max(0, j["end_us"] - j["start_us"]) for j in js) / 1e6

    def call_median(name):
        return stats.median([dur(sp) for sp in timed_spans if sp["name"] == name])

    out = {
        "spark.jobs": _m(per_unit(len(timed_jobs)), "count"),
        "spark.stages": _m(per_unit(sum(j["stages"] for j in timed_jobs)), "count"),
        "spark.tasks": _m(per_unit(sum(j["tasks"] for j in timed_jobs)), "count"),
        "spark.task_s": _m(per_unit(sum(j["task_s"] for j in timed_jobs)), "s"),
        "spark.gc_s": _m(per_unit(sum(j["gc_s"] for j in timed_jobs)), "s"),
        "spark.shuffle_read_mb": _m(per_unit(sum(j["shuffle_read_bytes"] for j in timed_jobs)) / MB, "MB"),
        "spark.shuffle_write_mb": _m(per_unit(sum(j["shuffle_write_bytes"] for j in timed_jobs)) / MB, "MB"),
        "spark.spill_mb": _m(per_unit(sum(j["spill_bytes"] for j in timed_jobs)) / MB, "MB"),
        "spark.driver_gap_s": _m(per_unit(sum(
            stats.driver_gap(r, jobs_of_root.get(r["id"], [])) / 1e6 for r in roots)), "s"),
    }
    for mod in MODULES:
        js = [j for j in timed_jobs if j["module"] == mod]
        out[f"{mod}.jobs"] = _m(per_unit(len(js)), "count")
        out[f"{mod}.job_s"] = _m(per_unit(job_s(js)), "s")

    # SparkEntry (register): build vs run vs driver gap, per pass
    queries = [sp for sp in timed_spans if sp["name"] == "query"]
    q_ids = {sp["id"] for sp in queries}
    by_id = {sp["id"]: sp for sp in spans}

    def query_of(span_id):
        cur = by_id.get(span_id)
        while cur is not None and cur["id"] not in q_ids:
            cur = by_id.get(cur["parent"])
        return cur["id"] if cur else None

    q_jobs = {}
    for j in timed_jobs:
        q = query_of(j["span"])
        if q is not None:
            q_jobs.setdefault(q, []).append(j)
    out.update({
        "SparkEntry.build_s": _m(per_unit(sum(dur(sp) for sp in timed_spans
                                              if sp["name"] == "SparkEntry.build")), "s"),
        "SparkEntry.run_s": _m(per_unit(sum(dur(sp) for sp in timed_spans
                                            if sp["name"] == "SparkEntry.run")), "s"),
        "SparkEntry.plan_ms": _m(per_unit(sum(raw["samples"].get("plan_ms", []))) if queries else 0.0, "ms"),
        "SparkEntry.jobs": _m(per_unit(sum(len(js) for js in q_jobs.values())), "count"),
        "SparkEntry.driver_gap_s": _m(per_unit(sum(
            stats.driver_gap(sp, q_jobs.get(sp["id"], [])) for sp in queries) / 1e6), "s"),
        "SparkEntry.substrates_s": _m(v.get("substrates_s", 0.0), "s"),
    })

    # Cache / Pipeline (requests_shared, planning calls timed apart)
    lookups = v.get("cache_lookups", 0)
    out.update({
        "Cache.items": _m(v.get("cache_items", 0), "count"),
        "Cache.fills": _m(per_unit(v.get("cache_fills", 0)), "count"),
        "Cache.hit_ratio": _m(1.0 - v.get("cache_fills", 0) / lookups if lookups else 0.0, "ratio"),
        "Cache.probe_s": _m(call_median("Cache.probe"), "s"),
        "Pipeline.checkRequest_s": _m(call_median("Pipeline.checkRequest"), "s"),
        "Pipeline.items": _m(v.get("pipeline_items", 0) / max(1, v.get("pipeline_requests", 0)), "count"),
    })
    for call in ENGINE_CALLS:
        out[f"Engine.{call}_s"] = _m(call_median(f"Engine.{call}"), "s")
    out.update({
        "Artifacts.files_per_request": _m(v.get("artifact_files_per_request", 0.0), "count"),
        "Artifacts.mb_per_request": _m(v.get("artifact_bytes_per_request", 0.0) / MB, "MB"),
        "StateTable.files": _m(v.get("state_files", 0), "count"),
        "StateTable.mb": _m(v.get("state_bytes", 0) / MB, "MB"),
        "StateTable.versions": _m(v.get("state_versions", 0), "count"),
    })
    return out


def self_time_table(raw):
    """{span name: (calls, total s, self s)} over the timed region."""
    spans = raw["spans"]
    _, owner = timed_tree(spans)
    selfs = stats.self_times(spans)
    table = {}
    for sp in spans:
        if sp["id"] not in owner:
            continue
        calls, total, own = table.get(sp["name"], (0, 0.0, 0.0))
        table[sp["name"]] = (calls + 1, total + (sp["end_us"] - sp["start_us"]) / 1e6,
                             own + selfs[sp["id"]] / 1e6)
    return table
