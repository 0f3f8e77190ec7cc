"""Turns the runner's raw record into the benchmark's metrics."""
import stats

# The timed unit of work whose latency and rate are the workload's
# end-to-end op metrics.
PRIMARY = {"serve": "request", "refresh": "cycle", "maintain": "", "query_mix": "query:"}
FAMILIES = ("versioned", "streaming", "silver", "text", "vector", "graph", "analytics",
            "operators", "quality")
SCALE = "generated tables near sf0.01 (perfbench/gen.py)"


def _ops(rec):
    return [dict(zip(("kind", "start_ms", "dur_ms", "ok", "traced"), o)) for o in rec["ops"]]


def _primary(rec, ops):
    prefix = PRIMARY[rec["workload"]]
    return [o for o in ops if o["kind"].startswith(prefix)]


def _named_tail(prefix, values, unit="ms"):
    """The highest percentile above the median with ten samples beyond it."""
    level, value = stats.tail(values)
    if level is None or level <= 0.5:
        return {}
    return {f"{prefix}_p{level * 100:g}_{unit}".replace(".", "_"):
            {"value": value, "unit": unit, "samples": len(values)}}


def end_to_end(rec, ops):
    """The workload's own named metrics (the record) and the gated ones."""
    w = rec["workload"]
    prim = [o for o in _primary(rec, ops) if o["ok"] and not o["traced"]]
    lat = [o["dur_ms"] for o in prim]
    measured = rec["measured_s"]
    failed = sum(1 for o in ops if not o["ok"])
    setup = rec["session_start_s"] + stats.median(rec["setup_reps_s"])
    rss = rec["vm_hwm_kb"] / 1024.0
    gated = {
        "setup_s": setup,
        "op_p50_ms": stats.median(lat),
        "ops_s": len(prim) / measured,
        "rss_peak_mb": rss,
    }
    named = {"setup_s": {"value": setup, "unit": "s"},
             "rss_peak_mb": {"value": rss, "unit": "MB"},
             "failed_ratio": {"value": failed / max(1, len(ops)), "unit": "ratio"}}
    x = rec["extra"]
    if w == "serve":
        named["serve_p50_ms"] = {"value": stats.median(lat), "unit": "ms", "samples": len(lat)}
        named.update(_named_tail("serve", lat))
        named["serve_rps"] = {"value": len(prim) / measured, "unit": "1/s"}
    elif w == "refresh":
        named["freshness_s"] = {"value": stats.median(lat) / 1000.0, "unit": "s",
                                "samples": len(lat)}
        named["ingest_rows_s"] = {"value": x["landed_rows"] / max(x["append_s"], 1e-9),
                                  "unit": "1/s"}
    elif w == "maintain":
        writes = set(x["write_kinds"])
        commits = [o["dur_ms"] for o in prim if o["kind"] in writes]
        reads = [o["dur_ms"] for o in prim if o["kind"] not in writes]
        named["commit_p50_ms"] = {"value": stats.median(commits), "unit": "ms",
                                  "samples": len(commits)}
        named.update(_named_tail("commit", commits))
        named["read_p50_ms"] = {"value": stats.median(reads), "unit": "ms", "samples": len(reads)}
        named["maint_ops_s"] = {"value": len(prim) / measured, "unit": "1/s"}
    elif w == "query_mix":
        per_q = {}
        for o in prim:
            per_q.setdefault(o["kind"].split(":")[2], []).append(o["dur_ms"])
        meds = [stats.median(v) for v in per_q.values()]
        named["mix_total_s"] = {"value": sum(meds) / 1000.0, "unit": "s"}
        named["mix_geomean_ms"] = {"value": stats.geomean(meds), "unit": "ms"}
        named["mix_query_ms"] = {"value": {q: stats.median(v) for q, v in sorted(per_q.items())},
                                 "unit": "ms"}
    if "storage_bytes" in x and x.get("plain_bytes"):
        named["storage_amp"] = {"value": x["storage_bytes"] / x["plain_bytes"], "unit": "ratio"}
    return named, gated


def per_layer(rec, ops):
    """Per-layer metrics of the traced window. Counts and `session` times are
    totals over the window; span `_ms` metrics are medians per call; a layer
    the workload never calls reads 0."""
    t = rec["trace"]
    spans = t["spans"]
    x = rec["extra"]
    prim = [o for o in _primary(rec, ops) if o["ok"]]
    traced = [o["dur_ms"] for o in prim if o["traced"]]
    untraced = [o["dur_ms"] for o in prim if not o["traced"]]
    n_ops = max(1, len(traced))
    st = stats.self_times(spans)

    def durations(name, self_time=False):
        return [(st[s[0]] if self_time else s[5] - s[4]) / 1e6 for s in spans if s[2] == name]

    def med(values):
        return stats.median(values) if values else 0.0

    s = t["session"]
    f = t["format"]
    m = {
        "session.planning_ms": s.get("planning_ms", 0),
        "session.jobs": s.get("jobs", 0),
        "session.stages": s.get("stages", 0),
        "session.tasks": s.get("tasks", 0),
        "session.jobs_per_op": s.get("jobs", 0) / n_ops,
        "session.task_run_ms": s.get("task_run_ms", 0),
        "session.task_cpu_ms": s.get("task_cpu_ns", 0) / 1e6,
        "session.task_wait_ms": s.get("task_wait_ms", 0),
        "session.gc_ms": s.get("gc_ms", 0),
        "session.shuffle_write_bytes": s.get("shuffle_write_bytes", 0),
        "session.shuffle_read_bytes": s.get("shuffle_read_bytes", 0),
        "session.spill_bytes": s.get("spill_bytes", 0),
        "session.input_bytes": s.get("input_bytes", 0),
        "session.output_bytes": s.get("output_bytes", 0),
        "session.failed_tasks": s.get("failed_tasks", 0),
    }
    reads, parses = f.get("commit_record_reads", 0), f.get("commit_record_parses", 0)
    kept, total = t["files_kept"], t["files_total"]
    m.update({
        "ingest.commit_ms": med(durations("ingest.commit")),
        "ingest.read_ms": med(durations("ingest.read")),
        "ingest.commits": len(durations("ingest.commit")),
        "ingest.commit_record_reads": reads,
        "ingest.commit_record_parses": parses,
        "ingest.commit_memo_hit_ratio": 1.0 - parses / reads if reads else 0.0,
        "ingest.checkpoint_parses": f.get("checkpoint_parses", 0),
        "ingest.file_status_probes": f.get("file_status_probes", 0),
        "ingest.digest_scans": f.get("digest_scans", 0),
        "ingest.footer_read_timeouts": f.get("footer_read_timeouts", 0),
        "ingest.auto_checkpoint_failures": f.get("auto_checkpoint_failures", 0),
        "ingest.files_kept": kept,
        "ingest.files_total": total,
        "ingest.skip_ratio": 1.0 - kept / total if total else 0.0,
        "ingest.fs_bytes_read": f.get("fs_bytesRead", 0),
        "ingest.fs_bytes_written": f.get("fs_bytesWritten", 0),
        "ingest.write_amp": (f.get("fs_bytesWritten", 0) / s["output_bytes"]
                             if s.get("output_bytes") else 0.0),
        "ingest.active_files": x.get("active_files", 0),
    })
    sm = t["streaming"]
    batch_ms = sum(sm["batch_ms"])
    m.update({
        "streaming.batches": s.get("batches", 0),
        "streaming.batch_ms": med(sm["batch_ms"]),
        "streaming.add_batch_ms": med(sm["add_batch_ms"]),
        "streaming.wal_commit_ms": med(sm["wal_commit_ms"]),
        "streaming.rows_s": s.get("batch_rows", 0) / (batch_ms / 1000.0) if batch_ms else 0.0,
    })
    for name in ("likes", "trending", "playlist_sim", "cf", "follows"):
        m[f"silver.{name}_ms"] = med(durations(f"silver.{name}"))
    m["silver.cf_pairs"] = x.get("cf_rows", 0)
    m["silver.pairs_per_like"] = x["cf_rows"] / x["likes_rows"] if x.get("likes_rows") else 0.0
    m.update({
        "recommend.request_ms": med(durations("recommend.request", self_time=True)),
        "recommend.plan_ms": med(t["serve_plan_ms"]),
        "recommend.rows_read_per_result": med(t["serve_rows_read_per_result"]),
    })
    for fam in FAMILIES:
        m[f"mix.{fam}_ms"] = med(durations(f"mix.{fam}"))
    layers = stats.self_time_by_layer(spans)
    for layer in ("ingest", "streaming", "silver", "recommend", "mix", "bench"):
        m[f"{layer}.self_ms_per_op"] = layers.get(layer, 0) / 1e6 / n_ops
    m["bench.trace_overhead_ratio"] = (stats.median(traced) / stats.median(untraced)
                                       if traced and untraced else 1.0)
    m["bench.traced_ops"] = len(traced)
    m["bench.load_avg_start"] = rec["load_avg_start"]
    m["bench.load_avg_end"] = rec["load_avg_end"]
    m["bench.failed_ratio"] = sum(1 for o in ops if not o["ok"]) / max(1, len(ops))
    return m


def conditions(rec):
    return {
        "workload": rec["workload"], "seed": rec["seed"], "traced": rec["traced"],
        "nproc": rec["nproc"], "load_avg_start": rec["load_avg_start"],
        "load_avg_end": rec["load_avg_end"],
        "high_load": rec["load_avg_start"] > rec["nproc"],
        "max_heap_mb": rec["max_heap_mb"], "spark_version": rec["spark_version"],
        "java_version": rec["java_version"], "scale": SCALE,
        "clients": rec["extra"].get("clients", 1),
        "window_s": rec["window_s"], "measured_s": rec["measured_s"],
        "session_start_s": rec["session_start_s"], "setup_reps_s": rec["setup_reps_s"],
        "harness_s": rec.get("harness_s", {}),
    }


def correct(checks):
    """Every check passed, and none failed to reject its perturbed result
    (`self_test_fails` None marks a check with no perturbation)."""
    return bool(checks) and all(c["ok"] and c["self_test_fails"] is not False for c in checks)


def summarize(rec, spec, traced):
    """The full record and the result line: end-to-end metrics from an
    untraced run, per-layer metrics from a traced one."""
    ops = _ops(rec)
    record = {
        "conditions": conditions(rec),
        "op_ms": [[o["kind"], round(o["dur_ms"], 3), o["ok"], o["traced"]] for o in ops],
        "checks": rec["checks"],
        "failures": rec["failures"],
        "extra": rec["extra"],
    }
    if traced:
        values = record["per_layer"] = per_layer(rec, ops)
        record["self_ms_by_layer"] = {k: v / 1e6 for k, v in
                                      stats.self_time_by_layer(rec["trace"]["spans"]).items()}
        wanted = spec["per_layer"]
    else:
        record["end_to_end"], values = end_to_end(rec, ops)
        wanted = spec["end_to_end"]
    line = {"correct": correct(rec["checks"]), "attempted": len(ops),
            "failed": sum(1 for o in ops if not o["ok"]),
            "metrics": {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
                        for d in wanted}}
    return {"record": record, "line": line}
