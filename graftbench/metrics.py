"""Metrics from one run's raw record (written by graftbench.Main).

End-to-end metrics have one name across workloads and a meaning per
workload; `named` also reports them under per-workload names, with the
sample count behind each percentile."""
import glob
import json
import math
import os
import statistics

from stats import lateness, percentile, self_times

# The reference's published figures (single VM, Spark 2.2 local, Presto
# 1-node), beside the graft metric each one is comparable to.
REFERENCE = {
    "ingest_requests_per_s": {"value": 221.8, "unit": "1/s", "beside": "ingest_drain_events_per_s"},
    "batch_ms": {"value": 1055, "unit": "ms", "beside": "streaming.trigger_ms"},
    "first_batch_ms": {"value": 7905, "unit": "ms", "beside": "streaming.first_trigger_ms"},
    "idle_trigger_ms": {"value": "3-5", "unit": "ms", "beside": "streaming.idle_trigger_ms"},
    "presto_A1_rows_per_s": {"value": 959, "unit": "1/s", "beside": "landed_query_p50_ms"},
    "presto_A2_rows_per_s": {"value": 18400, "unit": "1/s", "beside": "landed_query_p50_ms"},
    "presto_A3_rows_per_s": {"value": 19000, "unit": "1/s", "beside": "landed_query_p50_ms"},
    "presto_A4_rows_per_s": {"value": 11700, "unit": "1/s", "beside": "landed_query_p50_ms"},
}

MODULES = ["dedup", "similarity", "text", "graph", "GlobalRank"]
FUNCTIONS = ["MinHashSignature", "MinHashBandKeys", "Md5TokenHashes", "RollingFingerprint",
             "SimHash64", "WordNgrams", "BpeDocSymbols", "SortedIntersectSize",
             "CosineSimilarity", "DotProduct", "L2Norm", "HyperplaneBuckets",
             "HyperplaneProbes", "NearestCells", "PqEncode", "PqAdcLut", "PqAdcDist"]
E2E = ["setup_s", "throughput_per_s", "latency_ms", "latency_tail_ms", "cold_ms", "warm_ms"]


def _m(value, unit, n=None):
    out = {"value": float(value), "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def _med(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- ingest


def _source_batches(log_dir):
    """file name -> batch id, from the file source's checkpoint log."""
    out = {}
    for p in glob.glob(os.path.join(log_dir, "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def main_progress(rec):
    """Progress of the measured stream (not of the set-up streams)."""
    return [p for p in rec["progress"] if p["query"] == rec["main_query"]]


def first_triggers(rec):
    """Duration of each stream's first trigger: the three set-up streams'
    and the measured one's."""
    first = {}
    for p in rec["progress"]:
        if p["rows"] > 0 and p["batch"] < first.get(p["query"], (1 << 62, 0))[0]:
            first[p["query"]] = (p["batch"], p["duration_ms"]["triggerExecution"])
    return [ms for _, ms in first.values()]


def _ingest(rec):
    main = main_progress(rec)
    ends = {p["batch"]: p["start_ms"] + p["duration_ms"]["triggerExecution"]
            for p in main if p["rows"] > 0}
    batch_of = _source_batches(rec["source_log"])
    files = rec["files"]
    drains = []
    for b in sorted({f["phase"] for f in files if f["phase"].startswith("drain-")}):
        fs = [f for f in files if f["phase"] == b]
        end = max(ends[batch_of[f["file"]]] for f in fs)
        drains.append((sum(f["events"] for f in fs), end - rec["marks"][f"{b}-release_ms"]))
    lat = [(ends[batch_of[f["file"]]] - f["due_ms"], f["events"])
           for f in files if f["phase"] == "open"]
    return main, ends, batch_of, drains, lat


def end_to_end(rec):
    w = rec["workload"]
    out = {"setup_s": _m(_med(rec["setup_s"]), "s", len(rec["setup_s"]))}
    if w == "ingest":
        _, _, _, drains, lat = _ingest(rec)
        events = sum(e for e, _ in drains)
        rate = _med([e / (ms / 1000.0) for e, ms in drains])
        # Events of one file share a latency, so files are the independent
        # samples: with 100 of them p90 is the highest percentile that has
        # ten beyond it.
        p50, _, _ = percentile(lat, 50)
        p90, _, _ = percentile(lat, 90)
        n = len(lat)
        landed = [x["ms"] for x in rec["landed"]]
        firsts = first_triggers(rec)
        out.update(
            throughput_per_s=_m(rate, "1/s", events),
            latency_ms=_m(p50, "ms", n), latency_tail_ms=_m(p90, "ms", n),
            cold_ms=_m(_med(firsts), "ms", len(firsts)),
            warm_ms=_m(_med(landed), "ms", len(landed)))
    else:
        fresh = [e["ms"] for e in rec["execs"]
                 if e["pass"].startswith("pass-") and e["pass"] != "pass-0" and "error" not in e]
        cyc = [c for c in rec["cycles"] if c["cycle"] > 0]
        # Five queries of unlike cost: their median jumps from one query to
        # another between runs, their geometric mean does not.
        geomean = math.exp(sum(math.log(ms) for ms in fresh) / len(fresh))
        p90, n, _ = percentile(fresh, 90)
        out.update(
            throughput_per_s=_m(len(fresh) / (sum(c["pass_ms"] for c in cyc) / 1000.0), "1/s", len(fresh)),
            latency_ms=_m(geomean, "ms", n), latency_tail_ms=_m(p90, "ms", n),
            cold_ms=_m(rec["cycles"][0]["pass_ms"], "ms", 1),
            warm_ms=_m(_med([c["rerun_ms"] for c in cyc]), "ms", len(cyc)))
    return out


def named(rec, e2e, error_rate):
    """The end-to-end metrics under per-workload names."""
    w = rec["workload"]
    out = {"setup_s": e2e["setup_s"], "error_rate": _m(error_rate, "share"),
           "cache_mb": _m(rec["cache_bytes"] / 1e6, "MB"),
           "host_steal_share": _m(rec["steal_share"], "share")}
    if w == "ingest":
        out.update(ingest_drain_events_per_s=e2e["throughput_per_s"],
                   ingest_latency_p50_ms=e2e["latency_ms"],
                   ingest_latency_p90_ms=e2e["latency_tail_ms"],
                   ingest_latency_p99_ms=_m(percentile(_ingest(rec)[4], 99)[0], "ms",
                                            e2e["latency_tail_ms"]["n"]),
                   landed_query_p50_ms=e2e["warm_ms"],
                   ingest_first_trigger_ms=e2e["cold_ms"])
    else:
        fresh = [c for c in rec["cycles"] if c["cycle"] > 0]
        out.update(curate_first_pass_s=_m(rec["cycles"][0]["pass_ms"] / 1000.0, "s", 1),
                   curate_pass_s=_m(_med([c["pass_ms"] for c in fresh]) / 1000.0, "s", len(fresh)),
                   curate_rerun_s=_m(_med([c["rerun_ms"] for c in fresh]) / 1000.0, "s", len(fresh)),
                   curate_query_geomean_ms=e2e["latency_ms"],
                   curate_query_p90_ms=e2e["latency_tail_ms"])
    return out


# ---------------------------------------------------------------- per layer


def zero_layer():
    names = ["sources.latest_offset_ms", "sources.get_batch_ms", "streaming.planning_ms",
             "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.add_batch_ms",
             "streaming.trigger_ms", "streaming.first_trigger_ms", "streaming.idle_trigger_ms",
             "sources.gen_late_ms_max", "analytics.plan_ms", "analytics.exec_ms",
             "spark.gc_ms", "op.scan_ms", "op.exchange_ms", "op.aggregate_ms", "op.sort_ms",
             "op.join_ms"] + [f"{m}.ms" if m != "GlobalRank" else "operators.GlobalRank.ms"
                              for m in MODULES]
    out = {n: _m(0, "ms") for n in names}
    for n, u in [("streaming.rows_per_trigger", "count"), ("streaming.valid_ratio", "share"),
                 ("operators.Parse.rows_per_s", "1/s"), ("operators.Filters.rows_per_s", "1/s"),
                 ("operators.Sinks.rows_per_s", "1/s"), ("operators.Sinks.files_per_trigger", "count"),
                 ("operators.Sinks.bytes_per_event", "B"), ("sources.backlog_files_end", "count"),
                 ("analytics.plan_jobs", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
                 ("spark.task_cpu_share", "share"), ("spark.shuffle_mb", "MB"),
                 ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
                 ("op.broadcast_mb", "MB"), ("op.codegen_breaks", "count"),
                 ("cache.persisted_rdds_delta.pass", "count"),
                 ("cache.persisted_rdds_delta.rerun", "count"), ("cache.rerun_leak", "count"),
                 ("cache.mb", "MB"), ("host.steal_share", "share")]:
        out[n] = _m(0, u)
    for f in FUNCTIONS:
        out[f"functions.{f}.rows_per_s"] = _m(0, "1/s")
        out[f"functions.{f}.codegen_fallback"] = _m(0, "count")
    for m in E2E:
        out[f"trace.overhead.{m}"] = _m(0, "share")
    return out


def _spark(rec, out, wall_ms):
    st = rec["stages"]
    out["spark.stages"] = _m(len(st), "count")
    out["spark.jobs"] = _m(len([s for s in rec["spans"] if s["kind"] == "job"]), "count")
    cpu = sum(s.get("cpu_ms", 0) for s in st)
    out["spark.task_cpu_share"] = _m(cpu / (wall_ms * rec["cores"]) if wall_ms else 0, "share")
    out["spark.shuffle_mb"] = _m(sum(s.get("shuffle_write_bytes", 0) for s in st) / 1e6, "MB")
    out["spark.spill_mb"] = _m(sum(s.get("spill_bytes", 0) for s in st) / 1e6, "MB")
    out["spark.peak_exec_mem_mb"] = _m(max([s["peak_exec_mem_bytes"] for s in st] or [0]) / 1e6, "MB")
    out["spark.gc_ms"] = _m(sum(s.get("gc_ms", 0) for s in st), "ms")


def _queries(rec, out, ref_pass, rerun_pass=None):
    spans = rec["spans"]
    plan_spans = {s["id"] for s in spans if s["kind"] == "plan"}
    execs = [e for e in rec["execs"] if e["pass"] == ref_pass and "error" not in e]
    ids = {e["span"] for e in execs}
    child = {s["id"]: s["parent"] for s in spans}
    plan_jobs = sum(1 for s in spans if s["kind"] == "job" and s["parent"] in plan_spans
                    and child.get(s["parent"]) in ids)
    out["analytics.plan_ms"] = _m(sum(e["plan_ms"] for e in execs), "ms")
    out["analytics.exec_ms"] = _m(sum(e["exec_ms"] for e in execs), "ms")
    out["analytics.plan_jobs"] = _m(plan_jobs, "count")
    ops = lambda k: sum(e["ops"].get(k, 0) for e in execs)
    for k in ["scan_ms", "exchange_ms", "aggregate_ms", "sort_ms", "join_ms"]:
        out[f"op.{k}"] = _m(ops(k), "ms")
    out["op.broadcast_mb"] = _m(ops("broadcast_bytes") / 1e6, "MB")
    out["op.codegen_breaks"] = _m(ops("codegen_breaks"), "count")
    out["cache.persisted_rdds_delta.pass"] = _m(sum(e["persisted_delta"] for e in execs), "count")
    if rerun_pass:
        rr = [e for e in rec["execs"] if e["pass"] == rerun_pass]
        out["cache.persisted_rdds_delta.rerun"] = _m(sum(e["persisted_delta"] for e in rr), "count")
    return execs


# Order in which a micro-batch runs the parts StreamingQueryProgress times.
TRIGGER_PARTS = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets"]


def trigger_spans(rec):
    """A span per trigger of the measured stream, under the workload span,
    with its durationMs parts as children laid end to end in run order."""
    parent = next(s["id"] for s in rec["spans"] if s["kind"] == "workload")
    out, next_id = [], 10 ** 9
    for p in main_progress(rec):
        start = p["start_ms"] - rec["epoch0_ms"]
        d = p["duration_ms"]
        tid, next_id = next_id, next_id + 1
        out.append({"id": tid, "parent": parent, "name": f"trigger {p['batch']}",
                    "kind": "trigger", "start_ms": start,
                    "end_ms": start + d.get("triggerExecution", 0), "rows": p["rows"]})
        at = start
        for part in TRIGGER_PARTS:
            if part in d:
                out.append({"id": next_id, "parent": tid, "name": part, "kind": "trigger_part",
                            "start_ms": at, "end_ms": at + d[part]})
                next_id, at = next_id + 1, at + d[part]
    return out


def per_layer(rec, untraced_e2e):
    """Per-layer metrics of a traced run, 0 for a layer the workload does not
    exercise. Adds the ingest trigger spans to rec["spans"]."""
    out = zero_layer()
    w = rec["workload"]
    wspan = next(s for s in rec["spans"] if s["kind"] == "workload")
    wall = wspan["end_ms"] - wspan["start_ms"]
    _spark(rec, out, wall)
    out["cache.mb"] = _m(rec["cache_bytes"] / 1e6, "MB")
    out["host.steal_share"] = _m(rec["steal_share"], "share")
    if w == "ingest":
        main, ends, batch_of, _, _ = _ingest(rec)
        data = [p for p in main if p["rows"] > 0]
        idle = [p for p in main if p["rows"] == 0]
        d = lambda k, ps=data: _med([p["duration_ms"].get(k, 0) for p in ps])
        for name, key in [("sources.latest_offset_ms", "latestOffset"),
                          ("sources.get_batch_ms", "getBatch"),
                          ("streaming.planning_ms", "queryPlanning"),
                          ("streaming.wal_commit_ms", "walCommit"),
                          ("streaming.commit_offsets_ms", "commitOffsets"),
                          ("streaming.add_batch_ms", "addBatch"),
                          ("streaming.trigger_ms", "triggerExecution")]:
            out[name] = _m(d(key), "ms", len(data))
        out["streaming.rows_per_trigger"] = _m(_med([p["rows"] for p in data]), "count", len(data))
        out["streaming.first_trigger_ms"] = _m(_med(first_triggers(rec)), "ms", len(first_triggers(rec)))
        out["streaming.idle_trigger_ms"] = _m(d("triggerExecution", idle), "ms", len(idle))
        parsed = sum(p["observed"].get("n_parsed", 0) for p in main)
        valid = sum(p["observed"].get("n_valid", 0) for p in main)
        out["streaming.valid_ratio"] = _m(valid / parsed if parsed else 0, "share", parsed)
        ops = rec["operators"]
        out["operators.Parse.rows_per_s"] = _m(ops["rows"] / ops["parse_s"], "1/s")
        out["operators.Filters.rows_per_s"] = _m(ops["rows"] / ops["filter_s"], "1/s")
        out["operators.Sinks.rows_per_s"] = _m(ops["valid_rows"] / ops["sink_s"], "1/s")
        out["operators.Sinks.files_per_trigger"] = _m(rec["sink_files"] / len(data), "count")
        out["operators.Sinks.bytes_per_event"] = _m(rec["sink_bytes"] / max(1, valid), "B")
        late_max, _, _ = lateness(rec["late"])
        out["sources.gen_late_ms_max"] = _m(late_max, "ms", len(rec["late"]))
        end = rec["marks"]["open_end_ms"]
        out["sources.backlog_files_end"] = _m(sum(
            1 for f in rec["files"] if f["phase"] == "open" and ends[batch_of[f["file"]]] > end), "count")
    else:
        execs = _queries(rec, out, "pass-1", "rerun-1")
        out["cache.rerun_leak"] = _m(next(c for c in rec["cycles"] if c["cycle"] == 1)["rerun_leak"], "count")
        module = {m["query"]: m["module"] for m in rec["mix"]}
        for m in MODULES:
            key = "operators.GlobalRank.ms" if m == "GlobalRank" else f"{m}.ms"
            out[key] = _m(sum(e["ms"] for e in execs if module[e["query"]] == m), "ms")
        for f in rec["functions"]:
            out[f"functions.{f['expression']}.rows_per_s"] = _m(f["rows_per_s"], "1/s", f["rows"])
            out[f"functions.{f['expression']}.codegen_fallback"] = _m(int(f["codegen_fallback"]), "count")
    traced = end_to_end(rec)
    for m in E2E:
        base = untraced_e2e[m]["value"]
        out[f"trace.overhead.{m}"] = _m((traced[m]["value"] - base) / base if base else 0, "share")
    if w == "ingest":
        rec["spans"] = rec["spans"] + trigger_spans(rec)
    selfs = self_times(rec["spans"])
    kinds = {}
    for s in rec["spans"]:
        kinds[s["kind"]] = kinds.get(s["kind"], 0.0) + selfs[s["id"]]
    out["_self_ms_by_kind"] = kinds
    return out
