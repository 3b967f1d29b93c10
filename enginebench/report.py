"""Metric definitions: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced run. Both lists are the same for every
workload; a layer a workload does not exercise reads 0."""

from __future__ import annotations

import statistics

from spans import children_of, descendants, median, self_times, tail

# name -> unit. The operation cost is CPU time, not wall time: on a shared
# 4-core box the wall latency of the same code moved by up to 2x between
# runs with the neighbours' load, while the CPU time per operation moved by
# about a third as much (NOTES.md). Wall latencies are printed, not gated.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cpu_ms_per_op": "ms",
}

ANN_FNS = ("similarity.ivf_topk", "bucketing.clustered_ivf_topk",
           "similarity.sq8_topk", "published.published_served_topk")
CURATION_FNS = tuple(f"curation.{p}" for p in
                     ("auto_curation", "dedup_manifest", "training_export", "decon_report"))
CURATION_LAYERS = ("dedup", "textops", "sampling")

PER_LAYER = {
    **{f"{fn}.{m}": u for fn in ANN_FNS
       for m, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "codegen.compiles_per_req": "count",
    "codegen.compile_ms_per_req": "ms",
    "flow.route_s": "s",
    "flow.catalog_reads": "count",
    "plan_cache.hit_ratio": "ratio",
    "vector_store.search_store.build_s": "s",
    "vector_store.search_store.plan_s": "s",
    "vector_store.search_store.exec_s": "s",
    "vector_store.multi_store_search.exec_s": "s",
    "embedding.embed_query_s": "s",
    "embedding.rows_embedded_per_changed": "ratio",
    "nl2sql.generate_sql_s": "s",
    "nl2sql.run_sql.parse_s": "s",
    "nl2sql.run_sql.exec_s": "s",
    "vector_store.refresh_diff_s": "s",
    "vector_store.delete_stale_chunks_s": "s",
    "vector_store.partitions_rewritten": "count",
    "vector_store.populate_store_s": "s",
    "vector_store.store_files": "count",
    **{f"{fn}.{m}": u for fn in CURATION_FNS
       for m, u in (("build_s", "s"), ("eager_jobs", "count"), ("jobs", "count"), ("stages", "count"))},
    **{f"{layer}.{m}": u for layer in CURATION_LAYERS
       for m, u in (("self_s", "s"), ("eager_jobs", "count"))},
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_max_over_median": "ratio",
    "cache.active_shared": "count",
    "cache.persisted_bytes": "B",
    "tables.load_tables.jobs": "count",
    "session.get_spark_s": "s",
    "session.ship_package_s": "s",
    "trace.p50_ms": "ms",
    "trace.cpu_ms_per_op": "ms",
}

# Operation kinds that serve an interactive request (rag_serve) as opposed
# to the traced run's trailing refresh wave and its reads.
SERVE_PREFIXES = ("vec", "ann/", "sql", "combined")


def serve_latencies(latency: dict[str, list[float]]) -> list[float]:
    return [x for k, v in latency.items() if k.startswith(SERVE_PREFIXES) for x in v]


def op_latencies(run, by_kind: dict[str, list[float]] | None = None) -> list[float]:
    """The workload's timed operations (requests, or pipeline runs): their
    wall latencies, or the same operations' values in `by_kind`."""
    by_kind = run.latency if by_kind is None else by_kind
    if run.workload == "rag_serve":
        return serve_latencies(by_kind)
    return [x for k, v in by_kind.items() if k.startswith("curation.") for x in v]


def cpu_ms_per_op(run) -> float:
    """CPU milliseconds of the process tree (Python driver, driver JVM,
    Python workers) per timed operation, over every timed operation."""
    cpu = op_latencies(run, run.cpu)
    return 1000 * sum(cpu) / len(cpu) if cpu else 0.0


def end_to_end(run, session_s: float) -> dict[str, float]:
    return {
        "setup_s": session_s + statistics.median(run.setup_times),
        "peak_rss_mb": run.rss_mb,
        "cpu_ms_per_op": cpu_ms_per_op(run),
    }


def summary(run, e2e: dict[str, float]) -> dict[str, object]:
    """The workload's own named metrics, for the human-readable report."""
    lat = op_latencies(run)
    out: dict[str, object] = {
        "error_rate": run.failed / run.attempted if run.attempted else 0.0,
        "setup_repeats_s": [round(x, 3) for x in run.setup_times],
        "op_p50_ms": 1000 * median(lat),
        "phases_s": {k: round(v, 1) for k, v in run.phases.items()},
    }
    if run.workload == "rag_serve":
        p, v = tail(lat)
        out.update({
            "serve_p50_ms": 1000 * median(lat),
            "serve_tail_ms": None if v is None else 1000 * v,
            "serve_tail_percentile": p,
            "serve_samples": len(lat),
            "serve_vec_p50_ms": 1000 * median(run.latency.get("vec", [])),
            "serve_ann_p50_ms": 1000 * median([x for k, v in run.latency.items()
                                                if k.startswith("ann/") for x in v]),
            "serve_sql_p50_ms": 1000 * median(run.latency.get("sql", []) + run.latency.get("combined", [])),
            "plan_cache_hit_ratio": run.extra.get("plan_cache_hit_ratio"),
        })
        if "refresh" in run.latency:
            out.update({
                "refresh_wave_s": median(run.latency["refresh"]),
                "refresh_read_ms": 1000 * median(run.latency.get("read", [])),
                "store_bytes_per_doc_byte": run.extra.get("store_bytes_per_doc_byte"),
            })
    else:
        out.update({
            "curate_docs_per_s": run.docs * len(lat) / run.extra["elapsed_s"],
            "curate_docs": run.docs,
            "passes": run.extra.get("passes"),
            **{f"{k[len('curation.'):]}_s": median(v) for k, v in run.latency.items()
               if k.startswith("curation.")},
        })
    return out


def per_layer(run, session: dict[str, float], groups: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans (timed operations
    only), the job counts attached to them, and the event log's per-group
    task metrics (`groups`, keyed by job group = "s<span id>")."""
    spans = [s for s in run.tracer.spans if s.request is not None]
    kids = children_of(spans)
    selfs = self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ops = [s for s in spans if s.name.startswith("op:")]
    serve_ops = [s for s in ops if s.name[3:].startswith(SERVE_PREFIXES)]
    main_ops = serve_ops if run.workload == "rag_serve" else [
        s for s in ops if s.name.startswith("op:curation.")]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def dur(name):
        return mean(s.end - s.start for s in by_name.get(name, []))

    def subtree(s):
        return [s] + descendants(s.id, kids)

    def jobs(spans_):
        return sum(len(x.jobs) for x in spans_)

    def fn_jobs(fn, with_materialize=True):
        calls = by_name.get(fn, [])
        if not calls:
            return 0.0, 0.0
        eager = [x for c in calls for x in subtree(c)]
        mat = by_name.get(f"{fn}.plan", []) + by_name.get(f"{fn}.exec", []) if with_materialize else []
        return (jobs(eager) + jobs(mat)) / len(calls), (sum(x.stages for x in eager + mat)) / len(calls)

    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    for fn in ANN_FNS:
        m[f"{fn}.build_s"] = dur(fn)
        m[f"{fn}.plan_s"] = dur(f"{fn}.plan")
        m[f"{fn}.exec_s"] = dur(f"{fn}.exec")
        m[f"{fn}.jobs"] = fn_jobs(fn)[0]
    per_op = [run.per_op[s.request] for s in main_ops]
    m["codegen.compiles_per_req"] = mean(p["compiles"] for p in per_op)
    m["codegen.compile_ms_per_req"] = mean(p["compile_ms"] for p in per_op)
    m["flow.route_s"] = dur("flow.route_stores")
    flow_ops = [s for s in serve_ops if s.name in ("op:vec", "op:combined")]
    m["flow.catalog_reads"] = mean(
        sum(1 for x in subtree(s) if x.name == "vector_store.VectorStoreCatalog.discover") for s in flow_ops)
    m["plan_cache.hit_ratio"] = run.extra.get("plan_cache_hit_ratio", 0.0)
    m["vector_store.search_store.build_s"] = dur("vector_store.search_store")
    m["vector_store.search_store.plan_s"] = dur("vector_store.search_store.plan")
    m["vector_store.search_store.exec_s"] = dur("vector_store.search_store.exec")
    m["vector_store.multi_store_search.exec_s"] = dur("vector_store.multi_store_search.exec")
    m["embedding.embed_query_s"] = dur("embedding.embed_query")
    if run.extra.get("rows_changed"):
        wave = run.extra["refresh_request"]
        embedded = sum(g["udf_rows"] for grp, g in groups.items()
                       if grp[1:].isdigit() and run.tracer.spans[int(grp[1:])].request == wave)
        run.extra["rows_embedded"] = embedded
        m["embedding.rows_embedded_per_changed"] = embedded / run.extra["rows_changed"]
    m["nl2sql.generate_sql_s"] = dur("nl2sql.generate_sql")
    m["nl2sql.run_sql.parse_s"] = dur("nl2sql.run_sql")
    m["nl2sql.run_sql.exec_s"] = dur("nl2sql.run_sql.exec")
    m["vector_store.refresh_diff_s"] = dur("vector_store.refresh_diff")
    m["vector_store.delete_stale_chunks_s"] = dur("vector_store.delete_stale_chunks")
    m["vector_store.populate_store_s"] = dur("vector_store.populate_store")
    for k in ("partitions_rewritten", "store_files"):
        m[f"vector_store.{k}"] = float(run.extra.get(k, 0))
    for fn in CURATION_FNS:
        calls = by_name.get(fn, [])
        m[f"{fn}.build_s"] = dur(fn)
        m[f"{fn}.eager_jobs"] = mean(jobs(subtree(c)) for c in calls)
        m[f"{fn}.jobs"], m[f"{fn}.stages"] = fn_jobs(fn)
    n_main = max(len(main_ops), 1)
    for layer in CURATION_LAYERS:
        mine = [s for s in spans if s.name.startswith(layer + ".")]
        m[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine) / n_main
        m[f"{layer}.eager_jobs"] = jobs(mine) / n_main

    # Spark execution, per main operation, from the event log
    op_of = {s.id: s.request for s in spans}
    main_ids = {s.request for s in main_ops}
    per: dict[int, dict] = {}
    for grp, g in groups.items():
        sid = int(grp[1:]) if grp[1:].isdigit() else None
        rid = op_of.get(sid)
        if rid in main_ids:
            acc = per.setdefault(rid, {"tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                       "spill_bytes": 0, "task_max_over_median": 0.0})
            for k in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                acc[k] += g[k]
            acc["task_max_over_median"] = max(acc["task_max_over_median"], g["task_max_over_median"])
    for k in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_max_over_median"):
        m[f"spark.{k}"] = sum(p[k] for p in per.values()) / n_main

    m["cache.active_shared"] = float(max([p["active_shared"] for p in per_op] + [run.extra.get("cache_active_shared", 0)]))
    m["cache.persisted_bytes"] = float(max([p["persisted_bytes"] for p in per_op] or [0]))
    m["tables.load_tables.jobs"] = fn_jobs("tables.load_tables", with_materialize=False)[0]
    m["session.get_spark_s"] = session["get_spark_s"]
    m["session.ship_package_s"] = session["ship_package_s"]
    m["trace.p50_ms"] = 1000 * median(op_latencies(run))
    m["trace.cpu_ms_per_op"] = cpu_ms_per_op(run)
    return m
