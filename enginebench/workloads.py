"""The two workloads: set-up, closed-loop measurement, output checks.

Each workload runs in one Spark session with one client thread and no
think time. `corpus_curate` repeats its set-up `CURATE_SETUPS` times into
fresh directories, each timed, and measures on the last one; `rag_serve`
sets up once (see NOTES.md: three of its set-ups would cost 40 s a run).
Operations that raise count as failed; answers that disagree with the
reference (see checks.py) count as failed too.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

CURATE_SETUPS = 3
N_VECS = 1000
RAG_DOCS = 1500
RAG_ORDERS = 50_000
CURATE_BASE_DOCS = 750
CURATE_TILES = 2
MAX_CYCLES = 100  # far more than a 60 s run can serve
REFRESHED_STORE = "kb_join_table"
FILE_BUCKETS = 8
PIPELINES = ("auto_curation", "dedup_manifest", "training_export", "decon_report")


class Run:
    """One benchmark run: the session, its private work directory, the
    tracer (None when untraced) and everything measured."""

    def __init__(self, spark, work: str, workload: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.latency: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}  # CPU seconds of the process tree per operation
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_times: list[float] = []
        self.requests: list[int] = []  # tracer request ids of timed operations
        self.per_op: dict[int, dict] = {}  # request id -> counters read after it
        self.extra: dict[str, float] = {}
        self.docs = 0
        self.rss_mb = 0.0  # peak resident memory at the end of the timed phase
        self.watch: dict = {}
        self.phases: dict[str, float] = {}  # phase -> wall seconds
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under `name`."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def materialize(self, df, name: str):
        """Collect `df`; traced runs time planning and execution apart."""
        if self.tracer is None:
            return df.collect()
        with self.tracer.span(f"{name}.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span(f"{name}.exec"):
            return df.collect()

    def op(self, kind: str, fn, timed: bool = True):
        """Run one operation; record its latency and the CPU time of the
        process tree under `kind`. Returns fn's result, or None when it
        raised (counted as failed)."""
        if not timed:
            return fn()
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            rid = len(self.requests)
            self.requests.append(rid)
            before = _jvm_counters(self.spark)
            tr.request = rid
            span = tr.open(f"op:{kind}")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # a failed request is a measurement, not a crash
            out = None
            self.fail(kind, f"{type(exc).__name__}: {exc}")
        dt = time.perf_counter() - t0
        dc = tree_cpu_s() - c0
        if tr is not None:
            tr.close(span)
            tr.request = None
            after = _jvm_counters(self.spark)
            tr.collect_jobs([s for s in tr.spans if s.request == rid])
            from ai_optimizer_spark.cache import active_shared_count

            self.per_op[rid] = {
                "kind": kind,
                "active_shared": active_shared_count(),
                "compiles": after["compiles"] - before["compiles"],
                "compile_ms": after["compile_ms"] - before["compile_ms"],
                "persisted_bytes": after["persisted_bytes"],
            }
        if out is not None:
            self.latency.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(dc)
        return out

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {why}"[:400])


def _jvm_counters(spark) -> dict:
    """Codegen compilations and compile time (JVM CodegenMetrics; the time
    is count x reservoir mean, exact while under 1028 compilations) and
    bytes held by persisted RDDs."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = hist.getCount()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "compiles": count,
        "compile_ms": count * hist.getSnapshot().getMean(),
        "persisted_bytes": sum(i.memSize() + i.diskSize() for i in infos),
    }


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM and its Python workers), reaped children included."""
    parent, cpu = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15]) / _TICK
    me, total = os.getpid(), 0.0
    for pid in cpu:
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += cpu[pid]
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    import resource

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def subset(cols: dict, mask: np.ndarray) -> dict:
    return {k: (v[mask] if isinstance(v, np.ndarray) else [x for x, m in zip(v, mask) if m])
            for k, v in cols.items()}


def store_files(path: str) -> dict[str, tuple[int, int]]:
    """relative parquet path -> (bytes, rows) for every data file of a store."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = (os.path.getsize(full), pq.read_metadata(full).num_rows)
    return out


# ---------------------------------------------------------------------------
# tracing targets
# ---------------------------------------------------------------------------


def instrument(tracer, run: Run) -> None:
    """Wrap each layer's public entry points (and every function of the
    curation operator modules) where callers look them up."""
    from ai_optimizer_spark import embedding, tables
    from ai_optimizer_spark.operators import dedup, sampling, similarity, textops
    from ai_optimizer_spark.plans import bucketing, curation, flow, nl2sql, published
    from ai_optimizer_spark.plans import vector_store as VS

    for owner, attr, name in (
        (similarity, "ivf_topk", "similarity.ivf_topk"),
        (similarity, "sq8_topk", "similarity.sq8_topk"),
        (bucketing, "clustered_ivf_topk", "bucketing.clustered_ivf_topk"),
        (bucketing, "ensure_clustered_store", "bucketing.ensure_clustered_store"),
        (published, "published_served_topk", "published.published_served_topk"),
        (published, "publish_init", "published.publish_init"),
        (flow.VecsearchFlow, "run", "flow.VecsearchFlow.run"),
        (flow, "route_stores", "flow.route_stores"),
        (VS.VectorStoreCatalog, "discover", "vector_store.VectorStoreCatalog.discover"),
        (VS, "search_store", "vector_store.search_store"),
        (VS, "multi_store_search", "vector_store.multi_store_search"),
        (VS, "refresh_store", "vector_store.refresh_store"),
        (VS, "refresh_diff", "vector_store.refresh_diff"),
        (VS, "populate_store", "vector_store.populate_store"),
        (embedding.HashEmbedder, "embed_query", "embedding.embed_query"),
        (embedding, "embed_column", "embedding.embed_column"),
        (nl2sql, "generate_sql", "nl2sql.generate_sql"),
        (nl2sql, "run_sql", "nl2sql.run_sql"),
        (tables, "load_tables", "tables.load_tables"),
    ):
        tracer.patch(owner, attr, name)

    def after_delete():
        if run.watch.get("dir"):
            run.watch["after_delete"] = store_files(run.watch["dir"])

    tracer.patch(VS, "delete_stale_chunks", "vector_store.delete_stale_chunks", after=after_delete)
    for module, layer in ((curation, "curation"), (dedup, "dedup"), (textops, "textops"), (sampling, "sampling")):
        tracer.patch_module(module, layer)


# ---------------------------------------------------------------------------
# rag_serve
# ---------------------------------------------------------------------------

ANN_OPS = {
    # request ann kind -> traced function
    "ivf": "similarity.ivf_topk",
    "clustered_ivf": "bucketing.clustered_ivf_topk",
    "sq8": "similarity.sq8_topk",
    "published": "published.published_served_topk",
}


def rag_serve(run: Run) -> None:
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators import similarity
    from ai_optimizer_spark.plans import bucketing, combined, flow, nl2sql, published
    from ai_optimizer_spark.plans import vector_store as VS
    from ai_optimizer_spark.tables import load_tables, register_views

    spark, seed = run.spark, run.seed
    docs = gen.documents(gen.rng_for(seed, "docs"), RAG_DOCS)
    emb = gen.embeddings(gen.rng_for(seed, "emb"), N_VECS)
    rel = gen.relational(gen.rng_for(seed, "rel"), RAG_ORDERS)
    run.docs = RAG_DOCS

    data = gen.write_dataset(run.path("data"), docs, emb, rel)
    t0 = time.perf_counter()
    cat = VS.VectorStoreCatalog(run.path("stores"))
    corpus = spark.read.parquet(f"{data}/documents.parquet")
    for j, name in enumerate(gen.STORE_NAMES):
        VS.refresh_store(spark, cat, name, corpus.filter(F.col("doc_id") % 3 == j),
                         file_buckets=FILE_BUCKETS if name == REFRESHED_STORE else None)
    bucketing.ensure_clustered_store(spark, data)
    published.publish_init(spark, data, n_centroids=16)
    register_views(spark, data)
    run.setup_times.append(time.perf_counter() - t0)
    run.phase("setup")

    fl = flow.VecsearchFlow(spark, cat)
    settings = {c: flow.VecsearchSettings(**kw) for c, kw in gen.CLIENTS.items()}

    def execute(r: gen.Request):
        if r.kind == "vec":
            df = fl.run(r.client, r.question, settings[r.client])
            return run.materialize(df, "vector_store.multi_store_search")
        if r.kind == "ann":
            if r.ann == "ivf":
                df = similarity.ivf_topk(load_tables(spark, data), query_id=r.query_id)
            elif r.ann == "sq8":
                df = similarity.sq8_topk(load_tables(spark, data), query_id=r.query_id)
            elif r.ann == "clustered_ivf":
                df = bucketing.clustered_ivf_topk(spark, data, query_id=r.query_id)
            else:
                df = published.published_served_topk(spark, data, query_id=r.query_id,
                                                      n_centroids=16, epoch=1)
            return run.materialize(df, ANN_OPS[r.ann])
        if r.kind == "sql":
            return run.materialize(nl2sql.answer_question(spark, r.question), "nl2sql.run_sql")
        ans = combined.combined_route(spark, fl, r.client, r.question,
                                      sql=nl2sql.generate_sql(spark, r.question),
                                      settings=settings[r.client])
        return ans.route, ans.answer

    # warm-up, untimed and unchecked: a flow, each ANN tier and an SQL
    # question once, so the timed phase does not start on a cold JVM
    for r in [gen.Request("vec", client="analyst", question="spark stream join value"),
              *(gen.Request("ann", ann=a, query_id=1) for a in ANN_OPS),
              gen.Request("sql", question=gen.SQL_QUESTIONS["revenue"], sql_kind="revenue")]:
        run.op("warmup", lambda r=r: execute(r), timed=False)
    run.phase("warmup")

    # whole request cycles until `seconds` have passed, so every run
    # measures the same request shapes (one cycle takes 10-25 s on 4 cores)
    stream = gen.request_stream(seed, MAX_CYCLES, N_VECS)
    plan_builds = fl.cache.builds
    results = []
    deadline = time.perf_counter() + run.seconds
    for i, r in enumerate(stream):
        if i % len(gen.CYCLE) == 0 and results and time.perf_counter() >= deadline:
            break
        kind = f"ann/{r.ann}" if r.kind == "ann" else r.kind
        results.append((r, run.op(kind, lambda r=r: execute(r))))
    flow_runs = sum(1 for r, _ in results if r.kind in ("vec", "combined"))
    run.extra["plan_cache_hit_ratio"] = (
        (flow_runs - (fl.cache.builds - plan_builds)) / flow_runs if flow_runs else 0.0)

    run.phase("timed")
    run.rss_mb = peak_rss_mb(spark)  # before the checks load DuckDB into this process
    store_ref = read_stores(cat)  # before the wave changes one of them
    if run.tracer is not None:
        refresh_wave(run, cat, docs)
        run.phase("refresh_wave")
    check_rag(run, results, store_ref, emb, data)
    run.phase("checks")


def read_stores(cat) -> checks.StoreReference:
    stores = {}
    for name in gen.STORE_NAMES:
        t = pq.read_table(cat.data_path(name), columns=["id", "text", "embedding"])
        flat = t.column("embedding").combine_chunks().flatten().to_numpy()
        stores[name] = {"id": np.array(t.column("id").to_pylist(), dtype=object),
                        "text": t.column("text").to_pylist(),
                        "emb": flat.reshape(len(t), -1).astype(np.float64)}
    return checks.StoreReference(stores)


def check_rag(run: Run, results, store_ref, emb: dict, data: str) -> None:
    ann_ref = checks.AnnReference(emb["vec_id"], emb["embedding"], emb["label"])
    con = checks.duckdb_con(data, gen.TABLE_NAMES)
    try:
        for r, out in results:
            if out is None:
                continue
            if r.kind == "vec":
                err = store_ref.check(r.question, gen.CLIENTS[r.client], [x.asDict() for x in out])
            elif r.kind == "ann":
                err = ann_ref.check(r.ann, r.query_id, [x.asDict() for x in out])
            elif r.kind == "sql":
                err = checks.compare_rows(list(out[0].__fields__), [tuple(x) for x in out],
                                          con, checks.SQL_ANSWERS[r.sql_kind])
            else:
                err = check_combined(out, con.execute(checks.SQL_ANSWERS[r.sql_kind]).fetchall())
            if err:
                run.fail(f"{r.kind}{'/' + r.ann if r.ann else ''} {r.question or r.query_id}", err)
    finally:
        con.close()


def check_combined(out, want_rows) -> str | None:
    route, answer = out
    if route != "both":
        return f"route {route!r}, expected 'both'"
    if not answer.startswith("sql:"):
        return "answer has no SQL part"
    sql_part = answer[4:].split(" || ")[0]
    allowed = {",".join(str(v) for v in row) for row in want_rows}
    bad = [row for row in sql_part.split("; ") if row not in allowed]
    return f"SQL rows {bad[:2]} not in the answer" if bad else None


def refresh_wave(run: Run, cat, docs: dict) -> None:
    """Traced runs only, after the timed phase: one delta wave through
    `refresh_store` on the file-bucketed store, then read-after-refresh
    searches for text only this wave introduced, and row-count checks."""
    from ai_optimizer_spark.plans import vector_store as VS

    spark = run.spark
    live = subset(docs, docs["doc_id"] % 3 == gen.STORE_NAMES.index(REFRESHED_STORE))
    wave = gen.delta_wave(gen.rng_for(run.seed, "wave"), live, 1)
    path = run.path("wave1.parquet")
    gen.write_table(path, wave.docs)
    store = cat.data_path(REFRESHED_STORE)
    before = store_files(store)
    run.watch = {"dir": store}
    refresh_rid = len(run.requests)
    run.op("refresh", lambda: VS.refresh_store(spark, cat, REFRESHED_STORE,
                                               spark.read.parquet(path), remove_missing=True))
    after = store_files(store)
    mid = run.watch.get("after_delete", before)
    run.watch = {}

    text_of = dict(zip(wave.docs["doc_id"].tolist(), wave.docs["text"]))
    fresh = wave.edited + wave.added
    rng = gen.rng_for(run.seed, "reads")
    for d in rng.choice(fresh, size=min(3, len(fresh)), replace=False):
        q = text_of[int(d)][: gen.CHUNK_SIZE]
        rows = run.op("read", lambda q=q: run.materialize(
            VS.search_store(spark, cat, REFRESHED_STORE, q, top_k=8), "vector_store.search_store"))
        if rows is not None and (not rows or rows[0]["id"] != f"{int(d)}_1"):
            run.fail("read-after-refresh", f"doc {int(d)} not at rank 1")

    ids = pq.read_table(store, columns=["id"]).column("id").to_pylist()
    want = gen.chunk_count(wave.docs["text"])
    if len(ids) != want:
        run.fail("refresh rows", f"{len(ids)} chunks, expected {want}")
    gone = {f"{d}_" for d in wave.removed}
    if any(i.split("_")[0] + "_" in gone for i in ids):
        run.fail("refresh removals", "chunks of removed docs remain")

    def dirs(files):
        out = {}
        for f in files:
            out.setdefault(os.path.dirname(f), set()).add(f)
        return out

    d0, d1 = dirs(before), dirs(mid)
    run.extra.update({
        "refresh_request": refresh_rid,
        "rows_changed": gen.chunk_count(text_of[d] for d in fresh),
        "partitions_rewritten": sum(1 for p in set(d0) | set(d1) if d0.get(p) != d1.get(p)),
        "store_files": len(after),
        "store_bytes_per_doc_byte": sum(b for b, _r in after.values())
        / sum(len(t.encode()) for t in wave.docs["text"]),
    })


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------


def corpus_curate(run: Run) -> None:
    from ai_optimizer_spark import cache
    from ai_optimizer_spark.plans import curation
    from ai_optimizer_spark.registry import ORACLE_SQL
    from ai_optimizer_spark.tables import load_tables

    spark, seed = run.spark, run.seed
    base = gen.documents(gen.rng_for(seed, "docs"), CURATE_BASE_DOCS)
    corpus = gen.tile_corpus(gen.rng_for(seed, "tile"), base, CURATE_TILES)
    emb = gen.embeddings(gen.rng_for(seed, "emb"), N_VECS)
    rel = gen.relational(gen.rng_for(seed, "rel"), 10_000)
    run.docs = len(corpus["doc_id"])

    for i in range(CURATE_SETUPS):
        data = gen.write_dataset(run.path(f"data{i}"), corpus, emb, rel)
        t0 = time.perf_counter()
        load_tables(spark, data)
        run.setup_times.append(time.perf_counter() - t0)
    run.phase("setup")

    outputs = {}
    passes, active = 0, 0
    deadline = time.perf_counter() + run.seconds
    t_start = time.perf_counter()
    while passes == 0 or time.perf_counter() < deadline:
        for name in PIPELINES:
            fq = f"curation.{name}"
            outputs[name] = run.op(fq, lambda name=name, fq=fq: run.materialize(
                getattr(curation, name)(load_tables(spark, data)), fq))
        active = max(active, cache.active_shared_count())
        cache.release_shared_caches()
        passes += 1
    elapsed = time.perf_counter() - t_start
    run.extra.update({"passes": passes, "elapsed_s": elapsed, "cache_active_shared": active})
    run.phase("timed")
    run.rss_mb = peak_rss_mb(spark)  # before the check loads DuckDB into this process

    # The oracles cost DuckDB 3-7 s each, and ~35 s for auto_curation, so a
    # run checks one pipeline chosen by the seed: auto_curation on seeds
    # divisible by 8, otherwise the other three in turn.
    name = PIPELINES[0] if seed % 8 == 0 else PIPELINES[1 + seed % 3]
    rows = outputs[name]
    if rows is not None:
        con = checks.duckdb_con(data, gen.TABLE_NAMES)
        try:
            cols = list(rows[0].__fields__) if rows else []
            err = checks.compare_rows(cols, [tuple(x) for x in rows], con, ORACLE_SQL[f"e2e_{name}"])
        finally:
            con.close()
        if err:
            run.fail(f"curation.{name}", err)
    run.phase("checks")


WORKLOADS = {"rag_serve": rag_serve, "corpus_curate": corpus_curate}
