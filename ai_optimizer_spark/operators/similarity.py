"""Vector similarity retrieval — SURVEY.md §2.3-J1/J9, §2.5-W1/W2, §2.2-P1.

The reference issues per-store `ORDER BY distance FETCH FIRST k` through
LangChain OracleVS (mcp/tools/vs_retriever.py:245-301), converts distances to
similarities, filters by threshold, dedups keep-max, and re-sorts globally.
Here the whole retrieval is ONE declarative plan:

    candidates ⨯ broadcast(queries) → score expr → threshold filter
    → window top-k per query → (union across stores) → keep-max dedup
    → global top-k

Scale shape: the query side is always tiny (a handful of vectors) and
broadcast; the candidate side streams through codegen'd expressions — no
shuffle until the per-query window, which partitions by query_id (perfectly
parallel, no skew since every query sees ~equal candidates). With the
sign-LSH bucket (v6) the scan itself is pruned ~2^bits-fold.

Default parameters mirror the reference: top_k=8, score_threshold=0.65,
fetch_k=20, lambda_mult=0.5 (core/schemas.py:52-55).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import held, shared_persist
from ..functions import vector as V

TOP_K = 8
SCORE_THRESHOLD = 0.65
FETCH_K = 20
LAMBDA_MULT = 0.5


def _query_vectors(t: dict[str, DataFrame], vec_ids: list[int]) -> DataFrame:
    emb = t["embeddings"]
    return emb.filter(F.col("vec_id").isin(vec_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def cosine_topk(t: dict[str, DataFrame], query_id: int = 0, k: int = TOP_K) -> DataFrame:
    """J1+W1: single-query cosine top-k. Rounded to 3 like the reference
    (`round(similarity, 3)`, vs_retriever.py:280); ties broken by vec_id so
    the result is a deterministic set."""
    emb = t["embeddings"]
    q = _query_vectors(t, [query_id])
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def similarity_conversions(t: dict[str, DataFrame], query_id: int = 0) -> DataFrame:
    """F11/J1: all three metric conversions side by side with the exact
    reference formulas (vs_retriever.py:268-274), rounded to 3 as the
    reference does."""
    emb = t["embeddings"]
    q = _query_vectors(t, [query_id])
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            (F.round(V.cosine_score("embedding", "query_vec"), 3) + F.lit(0.0)).alias("cosine_sim"),
            (F.round(V.dot_score("embedding", "query_vec"), 3) + F.lit(0.0)).alias("dot_sim"),
            (F.round(V.euclidean_score("embedding", "query_vec"), 3) + F.lit(0.0)).alias("euclidean_sim"),
        )
    )


def threshold_search(
    t: dict[str, DataFrame], query_id: int = 0, threshold: float = SCORE_THRESHOLD
) -> DataFrame:
    """P1: score-threshold filter with the reference default 0.65 on the
    COSINE-converted similarity (1 - d/2). The filter sits *before* the
    top-k window, so at scale most candidates die in the scan stage."""
    emb = t["embeddings"]
    q = _query_vectors(t, [query_id])
    sim = F.round(V.cosine_score("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", sim.alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


def multi_query_topk(
    t: dict[str, DataFrame], query_ids: tuple[int, ...] = (0, 1, 2), k: int = 5
) -> DataFrame:
    """W2: per-query top-k — a *batch* of query vectors against the store in
    one plan: crossJoin(broadcast(queries)) + window row_number ≤ k.
    This is the engine's knn-join primitive; the reference runs one Oracle
    query per (question, store) instead (vs_retriever.py:224)."""
    emb = t["embeddings"]
    q = _query_vectors(t, list(query_ids))
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def lsh_bucket_topk(
    t: dict[str, DataFrame], query_id: int = 0, k: int = 5, n_bits: int = 8
) -> DataFrame:
    """O6 scale path: approximate top-k searching only the query's sign-LSH
    bucket. At 100 TB the store is written clustered by `bucket` so this
    prunes ~255/256 of the scan via partition pruning; here the bucket
    predicate demonstrates the plan shape. Exact search (cosine_topk) stays
    the default, LSH is the opt-in (SURVEY.md §4-O6)."""
    emb = t["embeddings"].withColumn("bucket", V.sign_bucket("embedding", n_bits))
    q = (
        emb.filter(F.col("vec_id") == query_id)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("bucket").alias("query_bucket"),
        )
    )
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        emb.join(F.broadcast(q), emb.bucket == q.query_bucket)
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "bucket", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _unit_rows(vecs):
    """Stack embeddings into a float64 matrix of unit rows under the
    `V.cosine_similarity` policy: a zero vector stays zero (cosine 0.0
    with anything) and a NULL embedding becomes a NaN row (NULL cosine)."""
    import numpy as np

    dim = next((len(v) for v in vecs if v is not None), 0)
    X = np.array(
        [np.full(dim, np.nan) if v is None else v for v in vecs], dtype=np.float64
    ).reshape(len(vecs), dim)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n > 0, n, 1.0)


def _matmul_topk(emb: DataFrame, q_rows, k: int) -> DataFrame:
    """Exact cosine top-k per query for the collected `q_rows`
    (vec_id, embedding), excluding each query itself: one numpy matmul
    per Arrow batch inside mapInPandas, then the per-query window.

    Spark's higher-order array functions are interpreted (not whole-stage-
    codegen'd), so an expression kernel pays N·Q·d scalar ops; a normalized
    `V @ Qᵀ` hits vectorized BLAS, and each batch emits only its local
    top-k per query, so the shuffle into the final window carries
    O(batches·Q·k) rows, never N·Q. Per-batch pruning orders by (rounded
    sim desc NULLs last, vec_id asc) — the same total order as the final
    window — so pruning can never change the result."""
    import numpy as np
    import pandas as pd

    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qn = _unit_rows([r["embedding"] for r in q_rows])
    bq = emb.sparkSession.sparkContext.broadcast((q_ids, qn))

    def _score(batches):
        ids, qmat = bq.value
        for pdf in batches:
            if pdf.empty or not len(ids):
                continue
            vecs = _unit_rows(list(pdf["embedding"]))
            if vecs.shape[1] == qmat.shape[1]:
                sims = np.round(vecs @ qmat.T, 3) + 0.0  # (n, q)
            else:  # one side is all NULL: every cosine is NULL
                sims = np.full((len(vecs), len(ids)), np.nan)
            vec_ids = pdf["vec_id"].to_numpy()
            parts = []
            for j in range(len(ids)):
                mask = vec_ids != ids[j]
                cand_v, cand_s = vec_ids[mask], sims[mask, j]
                # NaN (NULL) sims sort last, like the window's NULLS LAST
                keep = np.lexsort((cand_v, -cand_s, np.isnan(cand_s)))[:k]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(keep), ids[j], dtype=np.int64),
                            "vec_id": cand_v[keep],
                            "cos_sim": cand_s[keep],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    partial = emb.mapInPandas(_score, "query_id long, vec_id long, cos_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return partial.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def knn_self_join(t: dict[str, DataFrame], k: int = 3, limit_queries: int = 50) -> DataFrame:
    """Brute-force kNN join: for each of the first `limit_queries` vectors,
    its k nearest neighbours (excluding itself). The all-pairs baseline the
    ANN variants are judged against. The query block is one bounded
    collect; at 100 TB it just grows to a tile loop over `_matmul_topk`."""
    emb = t["embeddings"]
    q_rows = (
        emb.filter(F.col("vec_id") < limit_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    return _matmul_topk(emb, q_rows, k)


def _validate_centroid_rows(rows) -> None:
    """Reject a degenerate centroid MODEL (NULL vector or a NULL element
    inside one) with a clear error instead of a TypeError from the float64
    matrix build. Degenerate EMBEDDINGS remain handled (min-cid
    fallthrough); NaN centroid elements are also fine (a NaN distance is
    never the minimum). A broken model is a caller bug, so it raises."""
    for r in rows:
        ce = r["ce"]
        if ce is None or any(x is None for x in ce):
            raise ValueError(
                f"degenerate centroid model: centroid cid={r['cid']} has "
                "a NULL vector or NULL element; fix the centroid source"
            )


def _assign_cells(emb: DataFrame, cents: DataFrame, rows=None) -> DataFrame:
    """Cell assignment, map-only: nearest centroid by euclidean distance,
    ties broken by MIN cid. The centroid set is a tiny model, collected
    once and shipped in the task closure; each Arrow batch runs one
    (batch x k) numpy distance matrix and an argmin inside mapInPandas —
    zero shuffles, the FAISS coarse-quantizer shape, and no k-sized term
    in the plan, so it scales to corpus-sized k (linear in k up to
    k=2560, SCALE.md). `rows` lets a caller that already collected the
    centroid model skip the duplicate collect job.

    Centroids are sorted cid-ascending and `argmin` returns the first
    minimum, which gives the min-cid tie-break (squared distance has the
    same argmin as the root). All arithmetic is float64. A NULL or
    wrong-dim embedding has no distance and lands on the min cid; a NaN
    distance never wins unless every distance is NaN (then: min cid).
    An empty model gives a typed empty result."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    if rows is None:
        rows = cents.collect()
    _validate_centroid_rows(rows)
    base = emb.select("vec_id", "label", "embedding")
    if not rows:
        return base.limit(0).withColumn("cid", F.lit(0).cast("long"))
    order = sorted(rows, key=lambda r: int(r["cid"]))
    cids = np.asarray([int(r["cid"]) for r in order], dtype=np.int64)
    C = np.ascontiguousarray(
        [[float(x) for x in r["ce"]] for r in order], dtype=np.float64
    )
    schema = StructType(base.schema.fields + [StructField("cid", LongType())])

    dim = C.shape[1]

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = list(pdf["embedding"])
            ok = np.asarray(
                [v is not None and len(v) == dim for v in vecs], dtype=bool
            )
            # NULL (or wrong-dim) embedding: no distance, min cid
            out = np.full(len(vecs), cids[0], dtype=np.int64)
            if ok.any():
                X = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v, o in zip(vecs, ok) if o]
                )
                # ||x-c||^2 expanded form: one (n,k) GEMM + broadcast norms —
                # O(n·k·d) flops without materializing (n,k,d)
                d2 = (
                    (X * X).sum(axis=1)[:, None]
                    - 2.0 * (X @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                # NaN distances rank last, like Spark's NaN ordering; an
                # all-NaN row lands on index 0 = min cid
                d2 = np.where(np.isnan(d2), np.inf, d2)
                out[ok] = cids[d2.argmin(axis=1)]
            yield pdf.assign(cid=out)

    return base.mapInPandas(_assign, schema)


def _ivf_assign(emb: DataFrame, n_centroids: int):
    """(centroids, cell assignment) for IVF: centroids seed from a fixed
    corpus subset (deterministic k-means init)."""
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    return cents, _assign_cells(emb, cents)


def _ivf_model(emb: DataFrame, n_centroids: int) -> DataFrame:
    """The cell assignment of `_ivf_assign(emb, n_centroids)`, held
    persisted per embeddings handle (`cache.held`): a request then probes
    and scores instead of re-running the kernel over the corpus.
    `release_shared_caches()` leaves it; after `clearCache()` the next call
    rebuilds it; a rewritten table gets a fresh handle from load_tables,
    and the old handle's assignment is unpersisted once it is collected."""
    return held(emb, ("ivf_assign", n_centroids),
                lambda: _ivf_assign(emb, n_centroids)[1].persist())


def build_seeds(n_centroids: int) -> tuple[tuple[int, int], ...]:
    """The seed map of a build-time store: cell c is seeded by vector c."""
    return tuple((c, c) for c in range(n_centroids))


def cell_model(emb: DataFrame, seeds) -> tuple:
    """The k-row IVF cell model ((cid, centroid floats), ...) for a seed
    map ((cid, seed_vec_id), ...): cell cid's centroid is `emb`'s vector
    at seed_vec_id (None when that embedding is NULL; a cell whose seed
    is not in `emb` is left out, as the seed join did). A miss runs one
    collect of the seed rows; the model is then held per handle, keyed by
    its content: a split or a new epoch gives a new seed map, and a
    rewritten table a new handle, so a model is never served stale."""
    seeds = tuple(sorted((int(c), int(s)) for c, s in seeds))

    def build():
        vec_of = {
            int(r.vec_id): r.embedding
            for r in emb.filter(F.col("vec_id").isin(sorted({s for _, s in seeds})))
            .select("vec_id", "embedding")
            .collect()
        }
        return tuple(
            (c, None if vec_of[s] is None else tuple(vec_of[s]))
            for c, s in seeds
            if s in vec_of
        )

    return held(emb, ("cell_model", seeds), build)


def probe_cells(model, qvec, n_probe: int) -> list[int]:
    """The n_probe cells of `model` nearest to `qvec`, ranked on the driver
    exactly as `orderBy(asc(euclidean_distance(ce, q)), asc(cid))` ranks
    them: (x-y)*(x-y) summed in double left to right from 0.0, then the
    root (an explicit loop: `sum` may compensate, and `np.sum` pairs, and
    either can flip a near-tie). A NULL vector, a NULL element or a length
    mismatch gives a NULL distance, which sorts first; NaN sorts last; the
    min cid wins a tie."""

    def rank(cell):
        cid, ce = cell
        if (ce is None or qvec is None or len(ce) != len(qvec)
                or None in ce or None in qvec):
            return (0, 0.0, cid)
        acc = 0.0
        for x, y in zip(ce, qvec):
            acc += (x - y) * (x - y)
        d = math.sqrt(acc)
        return (2, 0.0, cid) if math.isnan(d) else (1, d, cid)

    return [cid for cid, _ in sorted(model, key=rank)[:n_probe]]


def probe_query(emb: DataFrame, seeds, query_id: int, n_probe: int):
    """(qvec, probed cids): the query's embedding, read with one collect,
    and the n_probe cells of the held cell model for `seeds` nearest to
    it. qvec is None when `query_id` is not in `emb`; a NULL embedding
    reads as [None], against which every distance and cosine is NULL, as
    against NULL."""
    rows = emb.filter(F.col("vec_id") == query_id).select("embedding").collect()
    vec = rows[0].embedding if rows else None
    qvec = None if not rows else [None] if vec is None else list(vec)
    return qvec, probe_cells(cell_model(emb, seeds), qvec, n_probe)


def _topk_cells(
    frame: DataFrame, vec_col: str, qvec, query_id: int, k: int
) -> DataFrame:
    """The shared ANN tail over probed cells: round-3 cosine of `vec_col`
    against the query vector, passed as one array literal (no query
    broadcast), the query itself excluded, `cid` as long, top-k by
    (cos_sim desc, vec_id asc). A None `qvec` (the query id is absent)
    gives an empty frame of the same schema."""
    import numpy as np

    if qvec is None:
        frame = frame.filter(F.lit(False))
    if qvec is None or None in qvec:
        q = F.lit(None).cast("array<double>")
    else:
        q = F.lit(np.asarray(qvec, dtype=np.float64))
    sim = F.round(V.cosine_similarity(vec_col, q), 3) + F.lit(0.0)
    return (
        frame.filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            "label",
            F.col("cid").cast("long").alias("cid"),
            sim.alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _lloyd_update(assigned: DataFrame) -> DataFrame:
    """One Lloyd iteration as pure DataFrame ops: new centroid = per-dim
    mean of its cell's vectors. posexplode → two partial-agg shuffles →
    re-assembled array (sorted by dim position). Iterative ML refinement
    without leaving Catalyst — at 100 TB each iteration is two shuffles of
    (cells × dims) doubles, independent of corpus size after the first
    partial aggregation."""
    return (
        assigned.select("cid", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "cid",
            F.transform("pm", lambda x: x["m"].cast("float")).alias("ce"),
        )
    )


def ivf_kmeans_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """IVF with k-means-refined centroids: deterministic seed centroids,
    `iterations` Lloyd updates (assign → mean → re-assign), then the same
    probe+search plan as ivf_topk. Tighter cells → better recall at equal
    n_probe. Oracle-backed despite the iterative shape: the fixed 2-round
    Lloyd loop unrolls into chained SQL CTEs (assign → per-dim AVG →
    float32-quantize → reassign), exact at sf0.01 and sf0.1; recall is
    additionally unit-tested against brute force."""
    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    for _ in range(iterations):
        cents = _lloyd_update(assigned)
        assigned = _assign_cells(emb, cents)
    q = _query_vectors(t, [query_id])
    return _probe_and_search(cents, assigned, q, query_id, k, n_probe)


def _probe_and_search(
    cents: DataFrame,
    assigned: DataFrame,
    q: DataFrame,
    query_id: int,
    k: int,
    n_probe: int,
) -> DataFrame:
    """Shared IVF tail: rank cells by query-centroid distance, semi-join the
    n_probe nearest into the assignment, score with the rounding contract
    the DuckDB oracle mirrors, take the top-k."""
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", V.euclidean_distance("ce", "query_vec").alias("qdist"))
        .orderBy(F.asc("qdist"), F.asc("cid"))
        .limit(n_probe)
        .select("cid")
    )
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        assigned.join(F.broadcast(probe), "cid", "left_semi")
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "cid", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """O6 scale path #2: IVF-style ANN. Coarse centroids are a fixed subset
    of the corpus (deterministic stand-in for k-means — the assignment and
    probe plan shapes are identical); every vector is assigned to its
    nearest centroid, the query probes only the `n_probe` nearest cells.

    Scale shape: assignment is a write-path cost — at 100 TB the store is
    written clustered/partitioned by `cid`, so the probe semi-join becomes
    partition pruning and the scan reads n_probe/n_centroids of the data.
    Recall is traded against `n_probe` exactly as in FAISS-style IVF-Flat.

    The assignment (`_ivf_model`) and the cell model (`cell_model`) are
    built once per embeddings handle: a repeated request reads the query
    vector, ranks cells on the driver and scans the probed cells.
    """
    emb = t["embeddings"]
    qvec, probe = probe_query(emb, build_seeds(n_centroids), query_id, n_probe)
    return _topk_cells(
        _ivf_model(emb, n_centroids).filter(F.col("cid").isin(probe)),
        "embedding", qvec, query_id, k,
    )


def ivf_knn_join(
    t: dict[str, DataFrame],
    n_queries: int = 20,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Batch ANN: the kNN *join* over IVF cells — every query probes its
    `n_probe` nearest cells; candidates are scored and top-k'd per query.
    This is the training-pipeline shape (dedup/retrieval over millions of
    queries): one cell assignment is shared by ALL queries, the probe list
    is a tiny broadcast, and the per-query window parallelizes on query_id.
    At scale with the store partitioned by `cid`, each query reads
    n_probe/n_centroids of the data — same plan, pruned scan."""
    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("qdist"), F.asc("cid"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cid",
            "query_id",
            "query_vec",
            V.euclidean_distance("ce", "query_vec").alias("qdist"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select("cid", "query_id", "query_vec")
    )
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    w_k = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cid", sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= k)
    )


def union_store_results(t: dict[str, DataFrame], query_id: int = 0, k: int = 5) -> DataFrame:
    """U2: result concatenation across fan-out store searches
    (vs_retriever.py:240-242 extends one hit list per searched table).
    Two "stores" = label partitions of the corpus; per-store top-k plans
    union into one distributed result — no driver-side list append."""
    emb = t["embeddings"]
    q = _query_vectors(t, [query_id])
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)

    def store_topk(store: DataFrame, name: str) -> DataFrame:
        return (
            store.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != query_id)
            .select(
                F.lit(name).alias("searched_table"), "vec_id", sim.alias("cos_sim")
            )
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(k)
        )

    low = store_topk(emb.filter(F.col("label") < 5), "store_low")
    high = store_topk(emb.filter(F.col("label") >= 5), "store_high")
    return low.unionByName(high)


def _mmr_select(vecs, rel, k: int, lambda_mult: float) -> list[int]:
    """Greedy MMR over one candidate set (numpy); shared by the driver-side
    single-query path and the grouped batch path."""
    import numpy as np

    vnorm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pair_sim = vnorm @ vnorm.T
    selected = [0]  # candidates arrive relevance-sorted
    while len(selected) < min(k, len(rel)):
        best_i, best_score = -1, -np.inf
        for i in range(len(rel)):
            if i in selected:
                continue
            redundancy = max(pair_sim[i][j] for j in selected)
            score = lambda_mult * rel[i] - (1 - lambda_mult) * redundancy
            if score > best_score:
                best_i, best_score = i, score
        selected.append(best_i)
    return selected


def mmr_rerank_batch(
    t: dict[str, DataFrame],
    n_queries: int = 10,
    k: int = TOP_K,
    fetch_k: int = FETCH_K,
    lambda_mult: float = LAMBDA_MULT,
) -> DataFrame:
    """J9 at pipeline scale: MMR for MANY queries at once. The distributed
    top-fetch_k plan produces ≤fetch_k candidates per query; a grouped
    applyInPandas runs the greedy selection per query in parallel — each
    group is tiny (≤20 rows) so the Python cost is bounded while thousands
    of queries re-rank concurrently. This is what the reference's one-query-
    at-a-time LangChain MMR (vs_retriever.py:283-294) becomes on Spark."""
    import numpy as np
    import pandas as pd

    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rel_col = V.cosine_similarity("embedding", "query_vec")
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    cands = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "embedding", rel_col.alias("rel"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= fetch_k)
    )

    def _rerank(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rn"]).reset_index(drop=True)
        vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
        rel = pdf["rel"].to_numpy()
        order = _mmr_select(vecs, rel, k, lambda_mult)
        return pd.DataFrame(
            {
                "query_id": key[0],
                "vec_id": pdf.loc[order, "vec_id"].astype("int64").values,
                "mmr_rank": range(1, len(order) + 1),
                "relevance": [round(float(rel[i]), 3) for i in order],
            }
        )

    return cands.groupBy("query_id").applyInPandas(
        _rerank, "query_id long, vec_id long, mmr_rank int, relevance double"
    )


def mmr_rerank(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    fetch_k: int = FETCH_K,
    lambda_mult: float = LAMBDA_MULT,
) -> DataFrame:
    """J9: Maximal-Marginal-Relevance re-rank. Fetch_k candidates come from
    the distributed top-k plan; the greedy selection runs on the collected
    candidate set — exactly the reference's shape (LangChain MMR over ≤20
    rows, vs_retriever.py:283-294). Candidates are tiny by construction, so
    driver-side numpy is the right tool; the heavy lifting (scoring all N
    vectors) stayed in Spark.

    Oracle-backed despite being iterative: the greedy selection is a
    recursive CTE in DuckDB (the chosen set rides as a list, a correlated
    argmax picks each step) — exact match at sf0.01 and sf0.1.
    """
    import numpy as np

    emb = t["embeddings"]
    spark = emb.sparkSession
    q = _query_vectors(t, [query_id])
    sim = V.cosine_similarity("embedding", "query_vec")
    cands = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "embedding", sim.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(fetch_k)
        .collect()
    )
    if not cands:
        return spark.createDataFrame([], "vec_id long, mmr_rank int, relevance double")
    vecs = np.array([r.embedding for r in cands], dtype=np.float64)
    rel = np.array([r.rel for r in cands])
    selected = _mmr_select(vecs, rel, k, lambda_mult)

    rows = [
        (int(cands[i].vec_id), rank + 1, float(round(rel[i], 3)))
        for rank, i in enumerate(selected)
    ]
    return spark.createDataFrame(rows, "vec_id long, mmr_rank int, relevance double")


def _sq_dist(a, b):
    """Σ (aᵢ-bᵢ)² in DOUBLE — squared euclidean, additive across subspaces
    (the property PQ's asymmetric-distance sum relies on)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(emb: DataFrame, m: int, dims: int) -> DataFrame:
    """Slice each embedding into `m` contiguous subvectors:
    (vec_id, sub_id ∈ [0,m), subvec of dims/m floats). Pure narrow map."""
    d = dims // m
    slices = F.array(*[F.slice("embedding", i * d + 1, d) for i in range(m)])
    return emb.select("vec_id", F.posexplode(slices).alias("sub_id", "subvec"))


def pq_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    m: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    refine: int = 4,
) -> DataFrame:
    """O6 scale path #3: product quantization — the compressed-domain ANN
    tier below IVF. Each vector is encoded as `m` one-byte codes (nearest
    codebook centroid per subspace): 64 float32 dims → 8 codes, a 32×
    compression of what the candidate scan has to read and shuffle. The
    query never decompresses the corpus: a (m × n_codes) asymmetric-distance
    table is built once from the query and broadcast, the approximate
    distance is SUM(table[sub, code]) — a partial-aggregable groupBy over
    codes — and only the `refine·k` best candidates are re-ranked exactly.

    Scale shape: codebooks and the ADC table are tiny broadcasts; the
    encode pass is a write-path cost (stored alongside the store like the
    IVF cell id); the read path scans codes only, so at 100 TB the
    candidate generation reads m bytes/vector instead of 4·dims. Codebooks
    seed deterministically from the corpus head (same convention as
    `ivf_topk`; k-means refinement composes exactly as `_lloyd_update`).
    Approximate by design, but deterministic — the encode/ADC/refine
    pipeline is hash-verified against a full SQL re-derivation; recall is
    additionally unit-tested against brute force."""
    emb = t["embeddings"]
    subs = _pq_subvectors(emb, m, dims)
    books = subs.filter(F.col("vec_id") < n_codes).select(
        "sub_id", F.col("vec_id").alias("code"), F.col("subvec").alias("cvec")
    )
    encoded = (
        subs.join(F.broadcast(books), "sub_id")
        .select(
            "vec_id",
            "sub_id",
            F.struct(_sq_dist("subvec", "cvec").alias("d"), F.col("code")).alias("dc"),
        )
        .groupBy("vec_id", "sub_id")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "sub_id", F.col("best.code").alias("code"))
    )
    q = _query_vectors(t, [query_id])
    qsubs = _pq_subvectors(
        q.select(F.lit(-1).alias("vec_id"), F.col("query_vec").alias("embedding")),
        m,
        dims,
    ).select("sub_id", F.col("subvec").alias("qsub"))
    adc = books.join(qsubs, "sub_id").select(
        "sub_id", "code", _sq_dist("cvec", "qsub").alias("qd")
    )
    cands = (
        encoded.join(F.broadcast(adc), ["sub_id", "code"])
        .groupBy("vec_id")
        # round-9 before the cut: identical candidates (same codes) must
        # tie EXACTLY so the vec_id tie-break is engine-independent —
        # DuckDB's parallel hash aggregate sums equal groups in different
        # orders, so unrounded sums differ by ulps between identical rows
        # (caught by the r9 sf0.001 strict check on v20)
        .agg(F.round(F.sum("qd"), 9).alias("approx_d"))
        .filter(F.col("vec_id") != query_id)
        .orderBy(F.asc("approx_d"), F.asc("vec_id"))
        .limit(refine * k)
        .select("vec_id")
    )
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        emb.join(F.broadcast(cands), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ann_recall(
    t: dict[str, DataFrame],
    n_queries: int = 20,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """ANN quality evaluation: recall@k of the IVF kNN join against the
    exact brute-force kNN, per query. This is the "measure, don't guess"
    counterpart to the IVF operators — the query a pipeline runs before
    committing to an (n_centroids, n_probe) operating point, exactly how
    FAISS-style deployments pick nprobe.

    Plan shape: both kNN sides reduce to k rows per query before the
    comparison join, so the recall join touches n_queries*k rows — free at
    any corpus scale; the cost is the two kNN plans themselves (the exact
    side is the one that doesn't survive 100 TB, which is the point of
    measuring on a sample)."""
    exact = knn_self_join(t, k=k, limit_queries=n_queries)
    approx = ivf_knn_join(
        t, n_queries=n_queries, k=k, n_centroids=n_centroids, n_probe=n_probe
    )
    return _recall_at_k(exact, approx, k)


def _recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of the `approx` kNN rows against the `exact` ones."""
    hits = approx.select("query_id", "vec_id", F.lit(1).alias("hit"))
    return (
        exact.select("query_id", "vec_id")
        .join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 3).alias("recall_at_k"),
        )
    )


HYBRID_CANDIDATES = 50
RRF_K = 60


def hybrid_rrf_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    query_terms: tuple[str, ...] = ("window", "stream", "join"),
    k: int = TOP_K,
    n_candidates: int = HYBRID_CANDIDATES,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid retrieval: keyword and vector top-N candidate lists fused by
    Reciprocal Rank Fusion — the engine extension a RAG deployment layers
    over pure vector search (the reference searches vectors only; hybrid is
    the standard recall backstop for exact-term queries).

    RRF operates on the truncated per-modality rankings (the production
    shape: fuse top-N lists, never rank the full corpus): each modality
    contributes 1/(rrf_k + rank) for docs in its top-N, absent docs
    contribute nothing. Both top-Ns are TakeOrderedAndProject prunes —
    per-partition top-N then one tiny merge, no global sort; the fusion
    join touches 2N rows. Ranks use rounded scores with doc_id tie-breaks
    so both engines order identically."""
    docs, emb = t["documents"], t["embeddings"]

    kw_score = sum(
        (F.size(F.regexp_extract_all("text", F.lit(term), F.lit(0))).cast("long")
         for term in query_terms),
        start=F.lit(0).cast("long"),
    )
    w_kw = Window.orderBy(F.desc("kw_score"), F.asc("doc_id"))
    kw = (
        docs.select("doc_id", kw_score.alias("kw_score"))
        .orderBy(F.desc("kw_score"), F.asc("doc_id"))
        .limit(n_candidates)
        .withColumn("r_kw", F.row_number().over(w_kw))
    )

    q = _query_vectors(t, [query_id])
    cos = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    w_vec = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    vec = (
        emb.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(n_candidates)
        .withColumn("r_vec", F.row_number().over(w_vec))
    )

    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(rrf_k) + r), F.lit(0.0)
    )
    return (
        kw.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(contrib(F.col("r_kw")) + contrib(F.col("r_vec")), 6).alias(
                "rrf_score"
            ),
            "r_kw",
            "r_vec",
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
    )


RANGE_RADIUS = 1.2
# Pruning slack: covers the 3-decimal output rounding (±5e-4) plus float
# jitter in the bound arithmetic, so a boundary hit can never sit in a
# pruned cell.
RANGE_PRUNE_EPS = 1e-3


def _range_live_cells(
    cents: DataFrame, cell_r: DataFrame, q: DataFrame, radius: float
) -> DataFrame:
    """Cells whose triangle-inequality lower bound admits a hit:
    d(q, c) - r_cell <= radius (+ slack). Exposed for the pruning test."""
    return (
        cents.join(F.broadcast(cell_r), "cid")
        .crossJoin(F.broadcast(q))
        .select(
            "cid",
            (V.euclidean_distance("ce", "query_vec") - F.col("r_cell")).alias("lb"),
        )
        .filter(F.col("lb") <= F.lit(radius + RANGE_PRUNE_EPS))
        .select("cid")
    )


def range_search(
    t: dict[str, DataFrame],
    query_id: int = 0,
    radius: float = RANGE_RADIUS,
    n_centroids: int = 16,
) -> DataFrame:
    """v16: EXACT radius search with IVF cell pruning — every vector within
    `radius` of the query, guaranteed identical to brute force (and
    hash-verified against the brute-force oracle), but the scan skips whole
    cells via the triangle inequality:

        d(q, x) >= d(q, c) - d(x, c) >= d(q, c) - r_cell

    so a cell whose lower bound exceeds radius (+eps) cannot contain a hit
    and is pruned BEFORE any per-vector distance is computed. Unlike
    ivf_topk this trades nothing: pruning is conservative, recall is 1.0 by
    construction.

    Scale shape: the assignment kernel runs once, into a local checkpoint
    that both the radii aggregate and the pruned scan read; per-cell radii
    are one partial-aggregable groupBy over it (a write-path statistic,
    stored with the clustered layout);
    the probe list is cells-sized and broadcasts; the big side is scanned
    only for surviving cells — with the store partitioned by cid that is
    partition pruning, same as v13. On clustered corpora most cells prune
    (proven in tests/test_similarity.py on constructed clusters); on
    uniformly random vectors distance concentration leaves little to prune,
    which is a property of the data, not the plan."""
    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    assigned = assigned.select("vec_id", "label", "cid", "embedding").localCheckpoint(
        eager=False
    )  # feeds the radii aggregate AND the pruned scan — one assignment pass
    cell_r = (
        assigned.join(F.broadcast(cents), "cid")
        .select("cid", V.euclidean_distance("embedding", "ce").alias("dc"))
        .groupBy("cid")
        .agg(F.max("dc").alias("r_cell"))
    )
    q = _query_vectors(t, [query_id])
    live_cells = _range_live_cells(cents, cell_r, q, radius)
    dist = F.round(V.euclidean_distance("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        assigned.join(F.broadcast(live_cells), "cid", "left_semi")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "label", dist.alias("dist"))
        .filter(F.col("dist") <= radius)
    )


def _ivfpq_model(
    emb: DataFrame,
    query_id: int,
    n_centroids: int,
    n_probe: int,
    m: int,
    n_codes: int,
    dims: int,
):
    """Driver-side IVFPQ model fit: ONE bounded collect (centroids +
    codebook seeds + query) → (C, books, probed, qd, qe). These are
    exactly the artifacts a FAISS index file holds; fitting them is a
    write-path cost."""
    n_seed = max(n_centroids, n_codes)
    model_rows = (
        emb.filter((F.col("vec_id") < n_seed) | (F.col("vec_id") == query_id))
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {int(r["vec_id"]): r["embedding"] for r in model_rows}
    # the seeds ARE the model: a NULL one is the degenerate-model error
    _validate_centroid_rows([{"cid": c, "ce": by_id.get(c)} for c in range(n_seed)])
    by_id = {i: [float(x) for x in e] for i, e in by_id.items()}
    C = [by_id[c] for c in range(n_centroids)]
    d = dims // m

    def _d2(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc += (x - y) ** 2
        return acc

    # shared residual codebooks per subspace, seeded from the corpus head
    # (deterministic, same convention as pq_topk / ivf_topk): codebook
    # entry `code` of subspace `s` is that head vector's residual slice
    books: list[list[list[float]]] = [[None] * n_codes for _ in range(m)]
    for code in range(n_codes):
        e = by_id[code]
        cid = min(range(len(C)), key=lambda c: (_d2(e, C[c]), c))
        resid = [x - y for x, y in zip(e, C[cid])]
        for s in range(m):
            books[s][code] = resid[s * d : (s + 1) * d]

    # probe the n_probe nearest cells; per-cell ADC table from the
    # query residual: qd[p][s][c] = ||q_resid_slice - codebook[s][c]||^2
    qe = by_id[query_id]
    probed = sorted(range(len(C)), key=lambda c: (_d2(qe, C[c]), c))[:n_probe]
    qd = []
    for cid in probed:
        qresid = [x - y for x, y in zip(qe, C[cid])]
        qd.append(
            [
                [_d2(qresid[s * d : (s + 1) * d], books[s][c]) for c in range(n_codes)]
                for s in range(m)
            ]
        )
    return C, books, probed, qd, qe


def ivfpq_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dims: int = 64,
    refine: int = 4,
) -> DataFrame:
    """O6 scale path #4: IVF+PQ — the two ANN tiers composed the way a
    FAISS-style IVFPQ index composes them. Coarse quantizer (IVF cells)
    prunes the scan to n_probe/n_centroids of the corpus; within the
    probed cells the RESIDUAL (vector − cell centroid) is product-
    quantized to `m` codes, and candidates are ranked by an asymmetric-
    distance table before an exact re-rank of the `refine·k` best.
    Residual quantization is what distinguishes IVFPQ from flat PQ:
    residuals concentrate near zero, so the same codebook budget buys
    materially better recall.

    Read-path plan shape — ZERO shuffles before the top-k: every model is
    tiny (centroids n_centroids·dims floats, codebooks m·n_codes·(dims/m)
    floats, ADC table n_probe·m·n_codes doubles — the exact artifacts a
    FAISS index file holds) and ships in the scorer's closure. An Arrow-
    batched mapInPandas kernel does cell argmin, code argmin, and the ADC
    sum as numpy matrix ops — per batch of B vectors one (B×n_centroids)
    distance matrix, m (B×n_codes) subspace matrices and a gather, no
    per-element interpreter — followed by TakeOrderedAndProject for the
    refine·k cut and a broadcast-semi-join exact re-rank. A NULL embedding
    is missing, never a candidate. At 100 TB the store is written clustered
    by cid with codes precomputed alongside (write-path cost), making the
    probe filter partition pruning. The whole index — coarse assignment,
    residual codebooks, ADC tables, refine — is hash-verified against a
    full SQL re-derivation (exact at sf0.01/sf0.1); recall is additionally
    unit-tested against brute force (tests/test_similarity.py)."""
    import numpy as np
    import pandas as pd

    emb = t["embeddings"]
    C, books, probed, qd, qe = _ivfpq_model(
        emb, query_id, n_centroids, n_probe, m, n_codes, dims
    )
    d = dims // m
    Cnp = np.asarray(C, dtype=np.float64)                      # (nc, dims)
    Bnp = np.asarray(books, dtype=np.float64)                  # (m, n_codes, d)
    QD = np.asarray(qd, dtype=np.float64)                      # (n_probe, m, n_codes)
    probed_arr = np.asarray(probed, dtype=np.int64)
    probe_pos = {int(c): i for i, c in enumerate(probed)}

    def _score(batches):
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if X.size == 0:
                yield pd.DataFrame({"vec_id": [], "approx_d": []})
                continue
            # cell assignment: argmin over squared distance, cid tie-break
            d2 = ((X[:, None, :] - Cnp[None, :, :]) ** 2).sum(axis=2)
            cids = d2.argmin(axis=1)  # argmin returns FIRST min → cid asc tie-break
            mask = np.isin(cids, probed_arr)
            if not mask.any():
                yield pd.DataFrame({"vec_id": [], "approx_d": []})
                continue
            Xs = X[mask]
            cs = cids[mask]
            resid = Xs - Cnp[cs]                               # (n, dims)
            sub = resid.reshape(len(Xs), m, d)                 # (n, m, d)
            # code argmin per subspace: (n, m, n_codes)
            dd = ((sub[:, :, None, :] - Bnp[None, :, :, :]) ** 2).sum(axis=3)
            codes = dd.argmin(axis=2)                          # (n, m)
            ppos = np.asarray([probe_pos[int(c)] for c in cs])
            # gather qd[ppos, s, codes] and sum over s; round-9 matches the
            # oracle cut, so identical candidates tie exactly across engines.
            # Residual half-mode caveat: np rounds half-to-even while
            # Spark F.round / DuckDB ROUND round half-away — a sum landing
            # EXACTLY on a 0.5e-9 boundary could still differ, but double
            # sums of products land there with ~0 probability; the tie
            # guarantee this buys is for IDENTICAL codes (equal sums),
            # which round identically under any half mode.
            approx = QD[ppos[:, None], np.arange(m)[None, :], codes].sum(
                axis=1
            ).round(9)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"][mask].astype("int64"), "approx_d": approx}
            )

    scored = (
        emb.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .mapInPandas(_score, "vec_id long, approx_d double")
    )
    cands = (
        scored.filter(F.col("vec_id") != query_id)
        .orderBy(F.asc("approx_d"), F.asc("vec_id"))
        .limit(refine * k)
        .select("vec_id")
    )
    sim = F.round(V.cosine_similarity("embedding", F.lit(qe)), 3) + F.lit(0.0)
    return (
        emb.join(F.broadcast(cands), "vec_id", "left_semi")
        .select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def filtered_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    label_filter: int = 1,
) -> DataFrame:
    """V18: metadata-filtered vector search — top-k among only the vectors
    whose metadata matches a predicate (label here; in the reference the
    analog is per-store scoping + Deep-Data-Security row filters on the
    retriever, mcp/tools/vs_retriever.py). PRE-filter strategy: the
    predicate is applied before scoring, so selectivity prunes the scan —
    the right default when the predicate reaches the storage layer
    (parquet predicate pushdown / partition pruning on the label column).
    The alternative (post-filter after an unfiltered top-k) under-returns
    when the filter is selective — the classic filtered-ANN trap; this
    operator never under-returns k.

    Plan shape: filter is pushed to the scan (PushedFilters on label),
    then the same broadcast-query score + TakeOrderedAndProject tail as
    v1. At 100 TB with the store partitioned by label/tenant the scan
    reads only matching partitions."""
    emb = t["embeddings"].filter(F.col("label") == label_filter)
    q = _query_vectors(t, [query_id])
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        emb.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def crossencoder_rerank(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    fetch_k: int = FETCH_K,
) -> DataFrame:
    """D14: two-stage retrieval — bi-encoder recall then cross-encoder
    precision: stage 1 takes the cosine top-`fetch_k` (cheap, index-
    servable); stage 2 scores each (query, candidate) PAIR with a
    cross-encoder and keeps the top-`k` by that score. The standard RAG
    precision backstop the reference approximates with its LLM grade step
    (mcp/tools/vs_grade.py) — graded per retrieved set there, per pair
    here.

    The cross-encoder is a deterministic double (portable hash60 of the
    pair identity → [0,1) score) behind the REAL serving shape: an
    Arrow-batched pandas UDF over the fetch_k pair rows — exactly where a
    model client would batch its forward passes (same seam as
    embedding.py's scalar-iterator embedder; swap the double for a client
    without touching the plan). Because the double is the portable hash,
    the WHOLE two-stage pipeline is DuckDB-hash-verified, not rows-only.

    Scale shape: stage 1 is v1's TakeOrdered plan; stage 2 touches only
    fetch_k rows per query — model cost, not data cost."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cross_score(pair_key):
        return pair_key.map(
            lambda s: (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 1000)
            / 1000.0
        )

    _cross_score.__annotations__ = {"pair_key": pd.Series, "return": pd.Series}
    cross_udf = pandas_udf(_cross_score, "double")

    # Materialize the stage-1 cut: with the UDF downstream, Catalyst would
    # otherwise plan stage 1 as a global range-sort + limit (the UDF blocks
    # TakeOrderedAndProject fusion) and score up to fetch_k rows PER
    # PARTITION. Checkpointing the fetch_k rows keeps stage 1 a TakeOrdered
    # job and bounds the model's forward passes to exactly fetch_k.
    stage1 = cosine_topk(t, query_id=query_id, k=fetch_k).localCheckpoint(
        eager=False
    )
    pair_key = F.concat_ws(":", F.lit(query_id), F.col("vec_id"))
    return (
        stage1.select(
            "vec_id",
            "cos_sim",
            F.round(cross_udf(pair_key), 3).alias("cross_score"),
        )
        .orderBy(F.desc("cross_score"), F.asc("vec_id"))
        .limit(k)
    )


def ann_operating_curve(
    t: dict[str, DataFrame],
    n_queries: int = 20,
    k: int = 3,
    n_centroids: int = 16,
    probes: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """V19: the full ANN operating curve — mean/min recall@k of the IVF
    tier at every candidate `n_probe`, in one DataFrame. This is the table
    a deployment reads to pick its operating point (the recall/cost knee);
    v12 measures one point of it.

    Plan shape: one exact-kNN frame is passed to every sweep point, so its
    scorer is one subtree whose exchange Spark reuses across the union;
    each side reduces to n_queries·k rows before any comparison join, so
    the whole sweep costs |probes| IVF plans + one exact plan on a sample —
    the measurement runs on samples by design."""
    exact = knn_self_join(t, k=k, limit_queries=n_queries)
    out = None
    for p in probes:
        approx = ivf_knn_join(
            t, n_queries=n_queries, k=k, n_centroids=n_centroids, n_probe=p
        )
        r = (
            _recall_at_k(exact, approx, k)
            .agg(
                F.round(F.avg("recall_at_k"), 3).alias("mean_recall"),
                F.round(F.min("recall_at_k"), 3).alias("min_recall"),
                F.sum("n_hits").alias("total_hits"),
            )
            .select(F.lit(p).alias("n_probe"), "mean_recall", "min_recall", "total_hits")
        )
        out = r if out is None else out.unionByName(r)
    return out


HIER_GROUP_SIZE = 4  # centroids per group (pilot = the group's min cid)
HIER_G_PROBE = 2  # level-1 groups searched at level 2


def _assign_cells_hier(
    emb: DataFrame,
    rows,
    group_size: int = HIER_GROUP_SIZE,
    g_probe: int = HIER_G_PROBE,
) -> DataFrame:
    """Two-level coarse assignment — the fix for the O(n·k) flat-argmin
    term SCALE.md's d20 64× analysis identified (auto-k families pay
    n²/target in assignment; FAISS answers with a hierarchical coarse
    quantizer). Centroids partition into cid-contiguous groups; level 1
    ranks groups by distance to each group's PILOT (its min-cid member —
    chosen over a mean representative deliberately: zero arithmetic, so
    the rule is bit-deterministic and SQL-encodable with no float-order
    risk); level 2 runs the exact argmin over only the g_probe nearest
    groups' members. Per-vector work drops from k to G + g_probe·(k/G)
    (≈2√k at the optimum); with g_probe == n_groups the result is EXACTLY
    the exact argmin (`_assign_cells`). Everything stays one inlined JVM
    projection — zero shuffles."""
    pilots = F.array(
        *[
            F.struct(
                F.lit(int(r["cid"]) // group_size).cast("long").alias("gid"),
                F.lit([float(x) for x in r["ce"]]).alias("pe"),
            )
            for r in rows
            if int(r["cid"]) % group_size == 0
        ]
    )
    members = F.array(
        *[
            F.struct(
                F.lit(int(r["cid"])).cast("long").alias("cid"),
                F.lit(int(r["cid"]) // group_size).cast("long").alias("gid"),
                F.lit([float(x) for x in r["ce"]]).alias("ce"),
            )
            for r in rows
        ]
    )
    gd = F.transform(
        pilots,
        lambda p: F.struct(
            V.euclidean_distance(F.col("embedding"), p["pe"]).alias("dist"),
            p["gid"].alias("gid"),
        ),
    )
    chosen_gids = F.transform(
        F.slice(F.array_sort(gd), 1, g_probe), lambda c: c["gid"]
    )

    # LET-BINDING, load-bearing: referencing `chosen_gids` directly inside
    # the member filter re-evaluates the whole level-1 sort PER MEMBER
    # (the hof-projection re-evaluation trap, measured 15x SLOWER than a
    # flat expression argmin at k=256). transform over a 1-element array binds the
    # chosen-group list once per row; the lambdas below reference the
    # bound variable, not the expression.
    def argmin_within(cg):
        cand = F.filter(members, lambda m: F.array_contains(cg, m["gid"]))
        dcs = F.transform(
            cand,
            lambda m: F.struct(
                V.euclidean_distance(F.col("embedding"), m["ce"]).alias("dist"),
                m["cid"].alias("cid"),
            ),
        )
        return F.array_min(dcs)["cid"]

    cid = F.get(F.transform(F.array(chosen_gids), argmin_within), 0)
    return emb.select("vec_id", "label", "embedding", cid.alias("cid"))


def hier_ivf_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    n_centroids: int = 16,
    group_size: int = HIER_GROUP_SIZE,
    g_probe: int = HIER_G_PROBE,
    n_probe: int = 4,
) -> DataFrame:
    """v22: IVF top-k with HIERARCHICAL corpus assignment — v7's read path
    over a two-level coarse quantizer. The approximation is part of the
    contract: the oracle encodes the pilot rule and the g_probe group
    choice verbatim, so the op is hash-verified WITH its approximation
    (the d3c move: the production knob lives inside the oracle). Query-
    side probing stays exact (one vector, k distances)."""
    emb = t["embeddings"]
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    rows = cents.collect()
    assigned = _assign_cells_hier(emb, rows, group_size, g_probe)
    q = _query_vectors(t, [query_id])
    return _probe_and_search(cents, assigned, q, query_id, k, n_probe)


# SQ8 symmetric max-abs quantization: one int8 code per dimension, one
# float scale per vector. 127 levels per sign — the FAISS ScalarQuantizer
# QT_8bit family member that needs NO training pass, so the write path is
# a pure projection (unlike PQ's codebook fit).
SQ8_LEVELS = 127


def sq8_scale_codes():
    """The SQ8 quantization expressions (scale, codes) over an `embedding`
    column — ONE home for the formula so the batch store (v23), and the
    streaming ingest twin (st19) can never drift. codes are integer-valued
    doubles in [-SQ8_LEVELS, SQ8_LEVELS] (int8 at rest); a zero vector
    quantizes to scale 0 + all-zero codes (no divide-by-zero).

    `codes` references the MATERIALIZED `scale` COLUMN, not the scale
    expression: inlining the array_max fold inside the transform lambda
    makes interpreted HOF evaluation recompute the fold per element —
    O(d^2) per vector on every write path (the same HOF-re-expansion trap
    v23's read path was audited against). Callers therefore project in
    two stages: `scale` first, then `codes` (sq8_project does both);
    Catalyst's CollapseProject keeps them separate because the fold is
    non-cheap and multiply referenced."""
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x))) / F.lit(
        float(SQ8_LEVELS)
    )
    codes = F.when(
        F.col("scale") > 0,
        F.transform("embedding", lambda x: F.round(x / F.col("scale"))),
    ).otherwise(F.transform("embedding", lambda x: F.lit(0.0)))
    return scale, codes


def sq8_project(df: DataFrame) -> DataFrame:
    """Append (scale, codes) to a DataFrame with an `embedding` column as
    TWO projections (scale materialized first) — the one sanctioned way to
    evaluate sq8_scale_codes, shared by v23's store, st19's ingest, t14's
    refresh, and the clustered-store writer."""
    scale, codes = sq8_scale_codes()
    return df.withColumn("scale", scale).withColumn("codes", codes)


def sq8_store(emb: DataFrame) -> DataFrame:
    """The stored layout of the SQ8 tier: (vec_id, label, scale, codes).
    codes are integer-valued (round(x/scale) in [-127, 127]) — at rest
    they serialize as int8, a 4× cut over float32 (8× over float64)
    before any ANN structure is even involved; `scale` is the per-vector
    max-abs / 127. A zero vector stores scale 0 + all-zero codes. Pure
    scan-fused projection: quantization adds ZERO shuffles to ingest."""
    return sq8_project(emb).select("vec_id", "label", "scale", "codes")


def sq8_topk(
    t: dict[str, DataFrame], query_id: int = 0, k: int = TOP_K
) -> DataFrame:
    """V23: scalar-quantized (SQ8) serving tier — the third STORAGE tier
    beside flat float (v1/v5) and product quantization (v11/v17).
    Asymmetric search: the query stays exact while candidates score
    against their RECONSTRUCTED vectors (code · scale) — the FAISS
    ScalarQuantizer read path. Quantization is deterministic arithmetic
    (no trained codebook), so the DuckDB oracle reproduces the codes, the
    reconstruction, and therefore the exact served set — approximation
    encoded in the oracle, the d3c/v22 move.

    Cosine is SCALE-INVARIANT, so scoring the reconstruction
    (codes · scale) equals scoring the raw integer codes — the read path
    therefore never dequantizes at all (per-vector `scale` is only needed
    for dot/euclidean metrics and for reconstruction). This identity also
    keeps the expensive fold referenced ONCE: a recon-array expression
    inside the cosine would re-expand per occurrence (the d17/finding-9
    HOF trap — verified in this op's first plan audit), while `codes` is
    a stored column.

    Scale shape: the plan is cosine_topk's (one corpus pass, broadcast
    1-row query, TakeOrderedAndProject) over a store that is 4-8× smaller
    on disk, which at 100 TB is the difference between a scan that fits
    the read bandwidth budget and one that doesn't. Composes with the IVF
    tiers: a clustered store would hold (cid, scale, codes) and prune
    cells first; this op isolates the quantization contract itself.
    Reference semantics: the vector store's similarity search
    (vs_retriever.py:268-280) under a compressed at-rest layout."""
    store = sq8_store(t["embeddings"])
    q = _query_vectors(t, [query_id])
    sim = F.round(V.cosine_similarity("codes", "query_vec"), 3) + F.lit(0.0)
    return (
        store.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def sq8_cell_stats(emb: DataFrame, cents: DataFrame, rows=None) -> DataFrame:
    """Per-cell SQ8 quantization-health statistics — ONE home for the
    st19 (streaming ingest monitor) and t14 (incremental merge refresh)
    computation so the two can never drift: occupancy, worst per-dimension
    reconstruction error (rounded 9 BEFORE the max so both engines range
    over identical value sets), and the per-cell scale envelope. Every
    aggregate is order-free (count/max/min — no float sums), which is
    both the streaming-correctness argument and the algebraic-merge
    argument (partial maxes merge to the exact global max)."""
    quantized = sq8_project(_assign_cells(emb, cents, rows=rows)).select(
        "vec_id", "cid", "embedding", "scale", "codes"
    )
    qerr = F.when(
        F.col("scale") > 0,
        F.round(
            F.array_max(
                F.zip_with(
                    "embedding",
                    "codes",
                    lambda x, c: F.abs(x - c * F.col("scale")),
                )
            ),
            9,
        ),
    ).otherwise(F.lit(0.0))
    return (
        quantized.select("cid", "scale", qerr.alias("qerr"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (F.max("qerr") + F.lit(0.0)).alias("max_qerr"),
            (F.round(F.max("scale"), 9) + F.lit(0.0)).alias("max_scale"),
            (F.round(F.min("scale"), 9) + F.lit(0.0)).alias("min_scale"),
        )
    )


def residual_sq8_project(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """Residual SQ8 quantization over a cell assignment — the FAISS
    IVF+SQ `by_residual` write path: each vector stores the SQ8 codes of
    (x − centroid[cid]) instead of x itself. The grid step is rscale =
    max|resid|/127: it shrinks with the CELL radius, so reconstruction
    error beats direct SQ8 exactly where cells are tighter than vector
    magnitudes (real embedding corpora cluster; that is why FAISS defaults
    IVF scalar quantizers to by_residual). On an UNCLUSTERED corpus the
    residual is no smaller than the vector (‖x−c‖ ≈ √2‖x‖ for independent
    directions) and direct SQ8 is at par or better — measured honestly on
    the uniform synthetic fixture in tests/test_similarity.py, which
    asserts the win on a constructed tight-cluster corpus and the
    per-dim half-step error contract (err ≤ rscale/2) everywhere.

    HOF discipline (the v23/ADVICE-r6 rule): `resid` is materialized as a
    COLUMN before `rscale` folds over it, and `rcodes` references both as
    columns — no fold is ever inlined inside another lambda, so nothing
    re-evaluates per element. Three stacked projections, all scan-fused:
    residual quantization adds ZERO shuffles over the assignment pass it
    rides (the same pass that writes the clustered layout)."""
    joined = assigned.join(
        F.broadcast(cents.select(F.col("cid").alias("r_cid"), "ce")),
        F.col("cid") == F.col("r_cid"),
    ).drop("r_cid")
    # explicit DOUBLE arithmetic: float−float would round to float
    # precision while the DuckDB oracle subtracts exactly-widened doubles
    resid = joined.withColumn(
        "resid",
        F.zip_with(
            "embedding", "ce", lambda x, c: x.cast("double") - c.cast("double")
        ),
    )
    scaled = resid.withColumn(
        "rscale",
        F.array_max(F.transform("resid", lambda r: F.abs(r)))
        / F.lit(float(SQ8_LEVELS)),
    )
    rcodes = F.when(
        F.col("rscale") > 0,
        F.transform("resid", lambda r: F.round(r / F.col("rscale"))),
    ).otherwise(F.transform("resid", lambda r: F.lit(0.0)))
    return scaled.withColumn("rcodes", rcodes)


def residual_sq8_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """V27: IVF-pruned top-k over RESIDUAL-quantized codes — v24's probe
    with the store's codes holding SQ8(x − centroid) rather than SQ8(x).
    This is the classic FAISS IVF-SQ8 configuration (by_residual=true):
    the cell geometry the IVF layout already paid for is reused to centre
    the quantizer, so the code grid spans the CELL's extent, not the whole
    space — finer wherever cells are tighter than vector magnitudes (the
    clustered-corpus regime; see residual_sq8_project on when it is not).

    Read path must dequantize (cosine is scale-invariant in the codes only
    when the centroid is zero): candidates reconstruct
    x̂ = ce + rcodes·rscale via one zip_with against the BROADCAST k-row
    centroid table, materialized as a column before scoring (HOF
    discipline), then score cosine(x̂, q) exactly like v5. Deterministic
    assignment + deterministic arithmetic ⇒ the DuckDB oracle reproduces
    the exact served set, approximation included (the d3c/v22/v24 move).

    Scale shape: identical to v24 — on the stored layout the probe is a
    literal partition filter over a ~4× compressed store; the added
    reconstruction is d multiply-adds per candidate against a broadcast
    model table (no extra shuffle, no extra scan). What the residual buys
    at 100 TB: the SAME bandwidth as v24 with reconstruction error closer
    to the flat tier — the knob between v23 (cheap, coarse) and raw
    float32 (exact, 4× the bytes).
    Reference semantics: vs_retriever.py:268-280 top-k under a
    compressed-at-rest, cell-centred layout."""
    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    recon = residual_sq8_project(assigned, cents).select(
        "vec_id",
        "label",
        "cid",
        F.zip_with(
            "ce", "rcodes", lambda c, rc: c + rc * F.col("rscale")
        ).alias("embedding"),
    )
    q = _query_vectors(t, [query_id])
    return _probe_and_search(cents, recon, q, query_id, k, n_probe)


def quantization_error_curve(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    n_centroids: int = 16,
) -> DataFrame:
    """V28: the quantization family's quality harness — the d21/d22 move
    (measure the approximation you ship) applied to the SQ8 tiers: one
    row per tier (direct v23 codes vs residual v27 codes) reporting the
    corpus-wide reconstruction-error envelope AND the served top-k recall
    vs the exact flat answer for the probe query. This is the number a
    deployment reads before choosing a layout: on clustered corpora the
    residual tier's max_err collapses with the cell radius; on uniform
    ones the two tie (both regimes are real — the fixture is uniform, so
    the harness is expected to report parity here, and the tight-cluster
    unit test pins the other regime).

    All arithmetic is deterministic (max-abs grids, fixed centroids,
    exact query), so the DuckDB oracle reproduces errors, recalls, and
    the 2-row report bit-for-bit. Scale: two scan-fused projections +
    k-bounded top-k joins; the error aggregate partial-combines — the
    harness costs two corpus passes, and at 100 TB runs on a sample (the
    v12/d21 scoping move)."""
    emb = t["embeddings"]
    q = _query_vectors(t, [query_id])
    exact_sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    # Reuse barriers (r10, guide §1.2 "don't compute things twice"): the
    # exact baseline and both code tables each feed TWO consumers (recall
    # join + error/topk), and Catalyst planned each consumer its own
    # subtree — 24 parquet scans / 6 corpus passes in the before plan
    # (plans/r10/v28_..._before.txt). `exact` checkpoints at k rows;
    # `direct`/`recon` persist so the quantize+reconstruct projections run
    # once and both consumers read the cache (the minhash `sh`/`sig`
    # convention). Values are untouched — same expressions, computed once.
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", exact_sim.alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )

    # direct tier: v23's codes
    direct = sq8_project(emb).transform(shared_persist)
    d_err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.zip_with(
                "embedding", "codes", lambda x, c: F.abs(x - c * F.col("scale"))
            )
        ),
    ).otherwise(F.lit(0.0))
    d_stats = direct.select(d_err.alias("e")).agg(
        (F.round(F.avg("e"), 9) + F.lit(0.0)).alias("mean_err"),
        (F.round(F.max("e"), 9) + F.lit(0.0)).alias("max_err"),
    )
    d_sim = F.round(V.cosine_similarity("codes", "query_vec"), 3) + F.lit(0.0)
    d_top = (
        direct.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", d_sim.alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )
    d_recall = (
        d_top.join(exact, "vec_id", "left_semi")
        .agg((F.count(F.lit(1)) / F.lit(float(k))).alias("recall"))
    )

    # residual tier: v27's codes
    cents, assigned = _ivf_assign(emb, n_centroids)
    resid = residual_sq8_project(assigned, cents)
    recon = resid.withColumn(
        "xr", F.zip_with("ce", "rcodes", lambda c, rc: c + rc * F.col("rscale"))
    ).transform(shared_persist)
    r_err = F.array_max(
        F.zip_with("embedding", "xr", lambda x, h: F.abs(x.cast("double") - h))
    )
    r_stats = recon.select(r_err.alias("e")).agg(
        (F.round(F.avg("e"), 9) + F.lit(0.0)).alias("mean_err"),
        (F.round(F.max("e"), 9) + F.lit(0.0)).alias("max_err"),
    )
    r_sim = F.round(V.cosine_similarity("xr", "query_vec"), 3) + F.lit(0.0)
    r_top = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", r_sim.alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )
    r_recall = (
        r_top.join(exact, "vec_id", "left_semi")
        .agg((F.count(F.lit(1)) / F.lit(float(k))).alias("recall"))
    )

    d_row = (
        d_stats.crossJoin(d_recall)
        .select(F.lit("sq8_direct").alias("tier"), "mean_err", "max_err", "recall")
    )
    r_row = (
        r_stats.crossJoin(r_recall)
        .select(F.lit("sq8_residual").alias("tier"), "mean_err", "max_err", "recall")
    )
    return d_row.unionByName(r_row)


# ---------------------------------------------------------------------------
# v29: random-projection (Johnson–Lindenstrauss) prefilter + exact re-rank
# ---------------------------------------------------------------------------

RP_DIM = 24
RP_EMB_DIM = 64
RP_COARSE_C = 400


def _rp_sign(i: int, j: int) -> float:
    """Deterministic Achlioptas ±1 sign for projection cell (i, j), derived
    from the portable md5 family — reproducible in any engine, no RNG."""
    import hashlib

    return 1.0 if int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0


RP_SIGNS: tuple[tuple[float, ...], ...] = tuple(
    tuple(_rp_sign(i, j) for j in range(RP_EMB_DIM)) for i in range(RP_DIM)
)


def _rp_project(col_name: str, signs=RP_SIGNS) -> Column:
    """The RP_DIM projected coordinates of a vector column as ONE array
    column — each coordinate an explicit left-associated multiply-add
    chain, bit-identical to the same left-associated '+' chain in any
    SQL engine (floating-point addition is order-sensitive; both sides
    fix the SAME order, so no rounding slack is needed anywhere in the
    coarse phase). Materialized as an array ON PURPOSE: the downstream
    cosine references the array through HOF lambdas, which bind the
    value once per row — inlining the 24 depth-64 chains into the three
    consumer sites (dot + both norms) is the hof-projection
    re-evaluation trap (cf. v22/v23) and, at this width, also overflows
    Janino (measured: a single collapsed coarse Project with 2880
    element_at nodes fails codegen and falls back to interpreted).

    Built as ONE JVM-parsed F.expr string, not ~3,000 py4j Column
    constructions — the r5/finding-11 driver-cost lesson applied to the
    read path (measured: the py4j form put ~17 s of DRIVER time on every
    v29 call regardless of corpus size). Scalar per-element casts
    (double(float) is exact) keep the values identical to casting the
    whole array first.

    r11: the parsed Column is held per live SparkContext (`cache.held`)
    — parsing the ~1,500-term string still cost ~0.4 s of driver time PER
    CALL (breakdown probe: v29 build 0.85 s, two `_rp_project` parses). A
    Column is an immutable unresolved expression handle; reusing it across
    plans is exactly what `F.col` does, and analysis re-instantiates fresh
    expression ids per query. Keyed on the SparkContext so a stopped JVM's
    handle is never reused."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if signs is RP_SIGNS and sc is not None:
        return held(sc, ("rp_project", col_name), lambda: _parse_projection(col_name, signs))
    return _parse_projection(col_name, signs)


def _parse_projection(col_name: str, signs) -> Column:
    chains = []
    for row in signs:
        chains.append(
            " + ".join(
                f"CAST(element_at({col_name}, {j + 1}) AS DOUBLE) * {s!r}D"
                for j, s in enumerate(row)
            )
        )
    return F.expr("array(" + ", ".join(chains) + ")")


def _rp_dot(a: Column, b: Column) -> Column:
    """Fold-dot over two projected arrays: 0.0 + a1*b1 + a2*b2 + ... —
    the aggregate's fold order, mirrored verbatim in the oracle SQL."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _rp_cosine(a: Column, b: Column) -> Column:
    """Cosine in the projected space — zero-norm-safe the same way on
    both engines (degenerate projection scores -1)."""
    denom = F.sqrt(_rp_dot(a, a)) * F.sqrt(_rp_dot(b, b))
    return F.when(denom > 0, _rp_dot(a, b) / denom).otherwise(F.lit(-1.0))


def random_projection_topk(
    t: dict[str, DataFrame],
    query_id: int = 0,
    k: int = TOP_K,
    coarse_c: int = RP_COARSE_C,
) -> DataFrame:
    """V29: JL random-projection prefilter + exact re-rank — the
    DIMENSIONALITY-reduction member of the approximate family (IVF
    prunes rows, SQ8 compresses cells, RP compresses DIMENSIONS;
    Johnson & Lindenstrauss 1984, Achlioptas 2003 for ±1 projections).
    Phase 1 scores every vector by cosine in the 24-dim projected space
    (a fixed ±1 matrix, so each coordinate is one multiply-add chain in
    codegen) and keeps the top coarse_c candidates; phase 2 re-scores
    ONLY those with the exact 64-dim cosine and serves the top k.

    Both phases are deterministic cross-engine: the projection sums are
    the same left-associated chains in Spark and the DuckDB oracle (no
    rounding needed for the coarse cut), and the exact re-rank reuses
    the v1 round-3 contract — so the oracle reproduces the SERVED set
    exactly, approximation included (the v24 discipline).

    Why this exists at 100 TB: the coarse pass needs 24 projected coordinates per row
    instead of 64 — with a materialized projection column (the
    stored-form follow-up, cf. v27b) the candidate scan reads ~2.7x fewer
    bytes (float32 projections) and does ~2.7x less arithmetic than a
    brute-force pass, while the
    exact pass touches coarse_c rows regardless of corpus size. Config (p=24, C=400)
    was CHOSEN by measurement, not assumed: recall vs the exact top-8 is
    1.0 at sf0.01 and sf0.1 on the fixture corpora (8/16-dim projections
    lose the ordering: the synthetic embeddings' cosine gaps are tiny);
    the unit test pins a recall floor. Per-row arithmetic and both
    TakeOrdered total orders are partitioning-independent, so the served
    rows do not depend on how the scan is split."""
    emb = t["embeddings"]
    q = _query_vectors(t, [query_id])
    qp = q.select(
        "query_vec", _rp_project("query_vec").alias("qv")
    )
    coarse = (
        emb.crossJoin(F.broadcast(qp))
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            "label",
            "embedding",
            "query_vec",
            # LET-BINDING (the v22 move): transform over a 1-element array
            # binds the projected coordinates once per row; referencing a
            # pv COLUMN from the cosine would let CollapseProject inline
            # the 24 chains into each HOF consumer (measured: 2x
            # re-evaluation even split across two selects).
            F.get(
                F.transform(
                    F.array(_rp_project("embedding")),
                    lambda v: _rp_cosine(v, F.col("qv")),
                ),
                0,
            ).alias("coarse"),
        )
        .orderBy(F.desc("coarse"), F.asc("vec_id"))
        .limit(coarse_c)
    )
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        coarse.select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )
