"""Query registry: every implemented operator exposed as a named
(spark_query, oracle_sql) pair for the driver contract.

`QUERIES[name]` is a callable (spark, sf_dir) -> DataFrame.
`ORACLE_SQL[name]` is the ANSI-SQL equivalent DuckDB runs on the same
parquet (views pre-registered by the driver). Column names/aliases match the
Spark output exactly; float aggregates are ROUNDed identically on both sides
so the order-insensitive value hash is stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import oracle_dedup as OD
from .operators import dedup as D
from .operators import events as E
from .operators import jobs as J
from .operators import refresh as RF
from .operators import relational as R
from .operators import security as SEC
from .operators import similarity as S
from .operators import textops as TX
from .plans.nl2sql import run_sql
from .tables import load_tables, register_views

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, builder, sql: str | None) -> None:
    def run(spark: SparkSession, sf_dir: str, _b=builder) -> DataFrame:
        return _b(load_tables(spark, sf_dir))

    QUERIES[name] = run
    if sql is not None:
        ORACLE_SQL[name] = sql


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

_register(
    "a5_pricing_summary",
    R.pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)

_register(
    "a6_customer_standings",
    R.customer_standings,
    """
    WITH per_cust AS (
        SELECT o.o_custkey,
               ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS total_revenue,
               COUNT(DISTINCT o.o_orderkey) AS num_orders,
               COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS finished_lines,
               ROUND(AVG(l.l_quantity), 4) AS avg_quantity
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    )
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           p.total_revenue, p.num_orders, p.finished_lines, p.avg_quantity
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    ORDER BY p.total_revenue DESC, custkey ASC
    LIMIT 20
    """,
)

_register(
    "a5_team_standings",
    R.team_standings,
    """
    SELECT n.n_name AS team,
           ROUND(SUM(o.o_totalprice), 2) AS total_points,
           COUNT(DISTINCT o.o_custkey) AS num_drivers,
           COUNT(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_orders,
           ROUND(COALESCE(SUM(CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice END), 0.0), 2) AS finished_points,
           ROUND(AVG(o.o_totalprice), 3) AS avg_points
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)

_register(
    "a1_json_group_rollup",
    R.json_group_rollup,
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           COUNT(*) AS n_events,
           ROUND(MAX(value), 4) AS max_value,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1
    """,
)

_register(
    "a2_two_key_rollup",
    R.two_key_rollup,
    """
    SELECT COALESCE(lang, 'orphan') AS lang, source,
           COUNT(*) AS n_docs,
           MAX(n_chars) AS max_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY 1, 2
    """,
)

_register("a4_distinct_sources", R.distinct_sources, "SELECT DISTINCT source FROM documents")

_register(
    "a7_correctness_report",
    R.correctness_report,
    """
    WITH judged AS (
        SELECT lang, (('0x' || substr(md5(text), 1, 15))::BIGINT % 2 = 0) AS correct
        FROM documents
    )
    SELECT 'by_topic' AS scope, lang AS topic,
           ROUND(AVG(CASE WHEN correct THEN 1.0 ELSE 0.0 END), 4) AS correctness,
           COUNT(*) AS n
    FROM judged GROUP BY lang
    UNION ALL
    SELECT 'overall' AS scope, 'all' AS topic,
           ROUND(AVG(CASE WHEN correct THEN 1.0 ELSE 0.0 END), 4) AS correctness,
           COUNT(*) AS n
    FROM judged
    """,
)

_register(
    "a9_evaluation_failures",
    R.evaluation_failures,
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE NOT (('0x' || substr(md5(text), 1, 15))::BIGINT % 2 = 0)
    """,
)

_register(
    "a10_token_usage_fold",
    R.token_usage_fold,
    """
    SELECT source,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY source
    """,
)

# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

_register(
    "j2_anti_join_new_rows",
    R.anti_join_new_rows,
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)

_register(
    "j8_semi_join_existing",
    R.semi_join_existing,
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)

_register(
    "j5_multiway_left_join",
    R.multiway_left_join,
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(c.c_custkey) AS n_customers,
           ROUND(COALESCE(SUM(c.c_acctbal), 0.0), 2) AS total_acctbal
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
    """,
)

_register(
    "j7_cascade_delete_survivors",
    R.cascade_delete_survivors,
    """
    SELECT l.l_returnflag,
           COUNT(*) AS surviving_lines,
           ROUND(SUM(l.l_quantity), 2) AS surviving_qty
    FROM lineitem l
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
    )
    GROUP BY l.l_returnflag
    """,
)

_register(
    "j5_composite_key_join",
    R.composite_key_join,
    """
    SELECT p.p_brand AS brand, s.s_nationkey AS supp_nation,
           ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
)


def _view_on_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.view_on_view_standings(load_tables(spark, sf_dir), spark)


QUERIES["j6_view_on_view_standings"] = _view_on_view
ORACLE_SQL["j6_view_on_view_standings"] = """
    WITH cust_points AS (
        SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS points,
               COUNT(*) AS races
        FROM orders GROUP BY o_custkey
    ),
    nation_standings AS (
        SELECT c.c_nationkey AS nationkey,
               ROUND(SUM(p.points), 2) AS nation_points,
               CAST(SUM(p.races) AS BIGINT) AS nation_races,
               COUNT(*) AS n_scoring_customers
        FROM cust_points p JOIN customer c ON p.custkey = c.c_custkey
        GROUP BY c.c_nationkey
    )
    SELECT n.n_name AS nation, s.nation_points, s.nation_races,
           s.n_scoring_customers
    FROM nation_standings s JOIN nation n ON s.nationkey = n.n_nationkey
"""

# ---------------------------------------------------------------------------
# §2.5 windows / top-k, §2.6 set ops, §2.2 predicates
# ---------------------------------------------------------------------------

_register(
    "w1_global_topk",
    R.global_topk,
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY orders.o_totalprice DESC, o_orderkey ASC
    LIMIT 8
    """,
)

_register(
    "w2_per_group_topk",
    R.per_group_topk,
    """
    SELECT * FROM (
        SELECT c_nationkey AS nationkey, c_custkey AS custkey,
               ROUND(c_acctbal, 2) AS acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey ASC
               ) AS rnk
        FROM customer
    ) WHERE rnk <= 5
    """,
)

_register(
    "w3_keep_max_dedup",
    R.keep_max_dedup,
    """
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS best_price
    FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_extendedprice DESC, l_linenumber ASC
               ) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
)

_register(
    "w6_ranked_standings",
    R.ranked_standings,
    """
    WITH standings AS (
        SELECT n.n_name AS team,
               ROUND(SUM(o.o_totalprice), 2) AS total_points,
               COUNT(DISTINCT o.o_custkey) AS num_drivers
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT CAST(RANK() OVER (ORDER BY total_points DESC, team ASC) AS INTEGER) AS rank,
           team, total_points, num_drivers
    FROM standings
    """,
)

_register(
    "u1_union_grant_targets",
    R.union_grant_targets,
    """
    SELECT 'customer' AS entity_type, c_custkey AS entity_key, c_name AS entity_name
    FROM customer
    UNION ALL
    SELECT 'supplier' AS entity_type, s_suppkey AS entity_key, s_name AS entity_name
    FROM supplier
    """,
)

# ---------------------------------------------------------------------------
# §2.3-J1/J9 vector similarity retrieval
# ---------------------------------------------------------------------------

_register(
    "v1_cosine_topk",
    S.cosine_topk,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 8
    """,
)

_register(
    "v2_similarity_conversions",
    S.similarity_conversions,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(1.0 - (1.0 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe)) / 2.0, 3) + 0.0 AS cosine_sim,
           ROUND(list_inner_product(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS dot_sim,
           ROUND(1.0 / (1.0 + list_distance(e.embedding::DOUBLE[], q.qe)), 3) + 0.0 AS euclidean_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    """,
)

_register(
    "v3_threshold_search",
    S.threshold_search,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(1.0 - (1.0 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe)) / 2.0, 3) + 0.0 AS similarity
    FROM embeddings e, q
    WHERE e.vec_id <> 0
      AND ROUND(1.0 - (1.0 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe)) / 2.0, 3) + 0.0 >= 0.65
    """,
)

_register(
    "v4_multi_query_topk",
    S.multi_query_topk,
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
               ) AS INTEGER) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
)

_register(
    "v6_lsh_bucket_topk",
    S.lsh_bucket_topk,
    """
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               CAST((
                 (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
                 (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
                 (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) +
                 (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) +
                 (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END) +
                 (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) +
                 (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END) +
                 (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END)
               ) AS INTEGER) AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qe, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT c.vec_id, c.bucket,
           ROUND(list_cosine_similarity(c.emb, q.qe), 3) + 0.0 AS cos_sim
    FROM b c JOIN q ON c.bucket = q.qb
    WHERE c.vec_id <> 0
    ORDER BY cos_sim DESC, c.vec_id ASC
    LIMIT 5
    """,
)

_register(
    "v5_knn_self_join",
    S.knn_self_join,
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 50
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
               ) AS INTEGER) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
)

# MMR greedy selection is iterative — oracle-backed via recursive CTE (below).
# J9 MMR: the greedy selection IS SQL-expressible — a recursive CTE carries
# the chosen-set list and a correlated argmax picks the next candidate
# (λ·rel − (1−λ)·max-cosine-to-chosen, ties → relevance order, matching
# _mmr_select's strict-> scan). Verified exact at sf0.01 AND sf0.1.
_MMR_ORACLE = """
WITH RECURSIVE
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
cand AS (
    SELECT vec_id, v, rel, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
    FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS rel
        FROM embeddings e, q WHERE e.vec_id <> 0
    )
    ORDER BY rel DESC, vec_id ASC LIMIT 20
),
sel AS (
    SELECT 1 AS step, [(SELECT vec_id FROM cand WHERE rn = 1)] AS chosen
    UNION ALL
    SELECT s.step + 1,
           list_append(s.chosen, (
               SELECT c.vec_id FROM cand c
               WHERE NOT list_contains(s.chosen, c.vec_id)
               ORDER BY 0.5 * c.rel - 0.5 * (
                           SELECT MAX(list_cosine_similarity(c.v, c2.v))
                           FROM cand c2
                           WHERE list_contains(s.chosen, c2.vec_id)
                       ) DESC,
                       c.rn ASC
               LIMIT 1
           ))
    FROM sel s WHERE s.step < 8
),
final AS (SELECT chosen FROM sel ORDER BY step DESC LIMIT 1)
SELECT c.vec_id, CAST(u.rank AS INTEGER) AS mmr_rank,
       ROUND(c.rel, 3) + 0.0 AS relevance
FROM final f,
     (SELECT unnest(f2.chosen) AS vid,
             unnest(generate_series(1, len(f2.chosen))) AS rank
      FROM final f2) u
JOIN cand c ON c.vec_id = u.vid
"""

_register("j9_mmr_rerank", S.mmr_rerank, _MMR_ORACLE)

# ---------------------------------------------------------------------------
# §2.8 dedup family (exact + near-dup, the LLM-pipeline signature ops)
# ---------------------------------------------------------------------------

# Canonical d1/d4/d5 are the SCALE-SAFE forms (hash shuffle key / blocked
# candidate generation); the all-pairs / raw-text-key variants stay registered
# as explicitly-labeled `*_exact`/`*_textkey` baselines further down.
_register("d1_exact_dedup", D.exact_dedup_hashkey, OD.EXACT_DEDUP)
_register("d2_ngram_jaccard_pairs", D.ngram_jaccard_pairs, OD.NGRAM_JACCARD)
_register("d3_minhash_lsh_pairs", D.minhash_lsh_pairs, OD.MINHASH_LSH)
# d4: choose_simhash_blocking(n_docs) sizes the (B, m) pigeonhole config to
# the corpus (single-block below the measured 320k-doc crossover, wider
# combos above); identical result set for every valid config, so the
# oracle hash is the invariant.
_register("d4_simhash_pairs", D.simhash_pairs_blocked, OD.SIMHASH_PAIRS)

# ---------------------------------------------------------------------------
# text analysis family + reference-parity chunker
# ---------------------------------------------------------------------------

_register(
    "tx1_token_stats",
    TX.token_stats,
    """
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(words)) AS BIGINT) AS n_uniq_tokens,
           ROUND(list_aggregate(list_transform(words, x -> len(x)), 'sum') * 1.0 / len(words), 3) AS avg_token_len
    FROM w
    """,
)

_register(
    "tx2_quality_score",
    TX.quality_score,
    f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents),
    m AS (
        SELECT doc_id,
               len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq
        FROM w
    )
    SELECT doc_id,
           ROUND(LEAST(1.0, n / 50.0), 3) AS len_score,
           ROUND(n_uniq / n, 3) AS diversity,
           ROUND(n_stop / n, 3) AS stop_ratio,
           ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n) + 0.3 * (1.0 - n_stop / n), 3) AS quality
    FROM m
    """,
)

_register(
    "tx3_lang_id",
    TX.lang_id,
    f"""
    WITH w AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents),
    hits AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(words, x -> x IN {TX.LANG_MARKERS['en']!r})) AS INTEGER) AS en_hits,
               CAST(len(list_filter(words, x -> x IN {TX.LANG_MARKERS['es']!r})) AS INTEGER) AS es_hits,
               CAST(len(list_filter(words, x -> x IN {TX.LANG_MARKERS['fr']!r})) AS INTEGER) AS fr_hits,
               CAST(len(list_filter(words, x -> x IN {TX.LANG_MARKERS['de']!r})) AS INTEGER) AS de_hits
        FROM w
    )
    SELECT doc_id, lang AS labeled_lang, en_hits, es_hits, fr_hits, de_hits,
           CASE
             WHEN en_hits > 0 AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
             WHEN es_hits > 0 AND es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
             WHEN fr_hits > 0 AND fr_hits >= de_hits THEN 'fr'
             WHEN de_hits > 0 THEN 'de'
             ELSE 'unknown'
           END AS predicted_lang
    FROM hits
    """,
)

_register(
    "tx4_fingerprints",
    TX.fingerprints,
    """
    WITH n AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents
    )
    SELECT doc_id, md5(norm) AS fingerprint,
           ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fingerprint60
    FROM n
    """,
)

_register(
    "tx5_chunk_documents",
    TX.chunk_documents,
    """
    WITH starts AS (
        SELECT doc_id, text, length(text) AS n,
               unnest(generate_series(0, CAST(ceil(length(text) / 80.0) AS BIGINT))) AS i
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, text, n, i, i * 80 AS start_index,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS idx
        FROM starts
        WHERE (i = 0 AND n > 0) OR (i > 0 AND i * 80 + 20 < n)
    )
    SELECT doc_id,
           doc_id || '_' || CAST(idx AS VARCHAR) AS chunk_id,
           CAST(start_index AS INTEGER) AS start_index,
           substr(text, CAST(start_index AS INTEGER) + 1, 100) AS chunk_text,
           CAST(len(substr(text, CAST(start_index AS INTEGER) + 1, 100)) AS INTEGER) AS chunk_len
    FROM chunks
    """,
)

_register(
    "p4_interval_staleness",
    R.interval_staleness_filter,
    """
    SELECT event_type, COUNT(*) AS n_recent, ROUND(SUM(value), 4) AS recent_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
    GROUP BY event_type
    """,
)

_register(
    "p2_json_path_projection",
    R.json_path_projection,
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) < 10
    """,
)

# ---------------------------------------------------------------------------
# §2.9 stateful/incremental: refresh diff, job state machine, events
# ---------------------------------------------------------------------------

_JOB_LOG_CTE = """
    log AS (
        SELECT user_id AS job_id, ts, event_id,
               CASE event_type
                 WHEN 'signup' THEN 'queued'
                 WHEN 'click' THEN 'running'
                 WHEN 'purchase' THEN 'succeeded'
                 WHEN 'error' THEN 'failed'
               END AS status
        FROM events
    ),
    agg AS (
        SELECT job_id, MAX(ts) AS last_seen, COUNT(*) AS n_updates
        FROM log GROUP BY job_id
    ),
    first_term AS (
        SELECT job_id, status AS term_status FROM (
            SELECT job_id, status,
                   ROW_NUMBER() OVER (PARTITION BY job_id ORDER BY ts ASC, event_id ASC) AS rn
            FROM log WHERE status IN ('succeeded', 'failed')
        ) WHERE rn = 1
    ),
    last_update AS (
        SELECT job_id, status AS last_status FROM (
            SELECT job_id, status,
                   ROW_NUMBER() OVER (PARTITION BY job_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM log WHERE status IS NOT NULL
        ) WHERE rn = 1
    ),
    states AS (
        SELECT a.job_id, a.last_seen, a.n_updates,
               COALESCE(f.term_status, l.last_status, 'queued') AS status
        FROM agg a
        LEFT JOIN first_term f ON a.job_id = f.job_id
        LEFT JOIN last_update l ON a.job_id = l.job_id
    )
"""

_register(
    "j4_detect_changed_objects",
    RF.detect_changed_objects,
    """
    WITH processed AS (
        SELECT user_id AS obj_key, MAX(ts) AS p_mtime, COUNT(*) AS p_etag
        FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
        GROUP BY user_id
    ),
    current AS (
        SELECT user_id AS obj_key, MAX(ts) AS mtime, COUNT(*) AS etag,
               ROUND(SUM(value), 4) AS size
        FROM events GROUP BY user_id
    )
    SELECT c.obj_key, c.etag, c.size,
           CASE
             WHEN p.p_etag IS NULL THEN 'new'
             WHEN c.etag <> p.p_etag OR c.mtime <> p.p_mtime THEN 'modified'
             ELSE 'unchanged'
           END AS status
    FROM current c LEFT JOIN processed p ON c.obj_key = p.obj_key
    """,
)

_register(
    "t1_incremental_refresh",
    RF.incremental_refresh,
    """
    WITH processed AS (
        SELECT user_id AS obj_key, MAX(ts) AS p_mtime, COUNT(*) AS p_etag
        FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
        GROUP BY user_id
    ),
    current AS (
        SELECT user_id AS obj_key, MAX(ts) AS mtime, COUNT(*) AS etag,
               ROUND(SUM(value), 4) AS size
        FROM events GROUP BY user_id
    ),
    changes AS (
        SELECT c.obj_key, c.etag, c.size,
               CASE
                 WHEN p.p_etag IS NULL THEN 'new'
                 WHEN c.etag <> p.p_etag OR c.mtime <> p.p_mtime THEN 'modified'
                 ELSE 'unchanged'
               END AS status
        FROM current c LEFT JOIN processed p ON c.obj_key = p.obj_key
    )
    SELECT status, COUNT(*) AS n_objects,
           CAST(SUM(etag) AS BIGINT) AS total_etag,
           ROUND(SUM(size), 4) AS total_size
    FROM changes GROUP BY status
    """,
)

_register(
    "t2_job_states",
    J.job_states,
    f"""
    WITH {_JOB_LOG_CTE}
    SELECT job_id, last_seen, n_updates, status FROM states
    """,
)

_register(
    "t3_reap_stale_jobs",
    J.reap_stale_jobs,
    f"""
    WITH {_JOB_LOG_CTE}
    SELECT job_id, last_seen,
           CASE WHEN status NOT IN ('succeeded','failed')
                     AND last_seen < TIMESTAMP '2024-01-29 00:00:00'
                THEN 'failed' ELSE status END AS status,
           CASE WHEN status NOT IN ('succeeded','failed')
                     AND last_seen < TIMESTAMP '2024-01-29 00:00:00'
                THEN 'reaped' ELSE 'live' END AS reap_reason
    FROM states
    """,
)

_register(
    "t4_ttl_evict",
    J.ttl_evict,
    f"""
    WITH {_JOB_LOG_CTE}
    SELECT job_id, status, last_seen, n_updates
    FROM states
    WHERE NOT (status IN ('succeeded','failed')
               AND last_seen < TIMESTAMP '2024-01-15 00:00:00')
    """,
)

_register(
    "st1_tumbling_window_counts",
    E.tumbling_window_counts,
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)

_register(
    "st2_sessionize",
    E.sessionize,
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS session_value
    FROM numbered GROUP BY 1, 2
    """,
)

_register(
    "st3_session_stats",
    E.session_stats,
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, session_seq, COUNT(*) AS n_events
        FROM numbered GROUP BY 1, 2
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           ROUND(AVG(n_events), 4) AS avg_events_per_session,
           MAX(n_events) AS max_session_events
    FROM sessions GROUP BY user_id
    """,
)

# ---------------------------------------------------------------------------
# §2.2 security policy view + NL2SQL validated execution
# ---------------------------------------------------------------------------

_register(
    "p6_policy_view",
    SEC.customer_policy_view,
    """
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment
    FROM customer
    WHERE c_acctbal > 0 AND c_mktsegment = 'BUILDING'
    """,
)

_NL2SQL_DEMO = """
    SELECT n.n_name AS nation,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           ROUND(SUM(o.o_totalprice), 2) AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY n.n_name
"""


def _nl2sql_validated_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15: the NL2SQL execution contract — an (LLM-generated) SQL string is
    token-walk validated SELECT-only, parse-checked, then run via spark.sql
    over the registered views (plans/nl2sql.py)."""
    register_views(spark, sf_dir)
    return run_sql(spark, _NL2SQL_DEMO)


QUERIES["o15_nl2sql_validated_run"] = _nl2sql_validated_run
ORACLE_SQL["o15_nl2sql_validated_run"] = _NL2SQL_DEMO

# ---------------------------------------------------------------------------
# §3.2 end-to-end embed pipeline (build stores → fan-out search). The
# pandas_udf embedding double is deterministic → reproduced in DuckDB SQL
# (the _hash_embed_cte family below); the whole path is hash-verified.
# ---------------------------------------------------------------------------


def _e2e_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write+read path: documents → chunk → dedup → embed → two stores
    (split by doc parity, D12 filename-alias grouping) → multi-store search
    with keep-max dedup + global top-k (§3.1 steps 5-6)."""
    import tempfile

    from pyspark.sql import functions as F

    from .plans.vector_store import (
        VectorStoreCatalog,
        chunks_from_documents,
        multi_store_search,
        populate_store,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 100)
    catalog = VectorStoreCatalog(tempfile.mkdtemp(prefix="aio_stores_"))
    populate_store(
        spark, catalog, "even_docs",
        chunks_from_documents(docs.filter(F.col("doc_id") % 2 == 0)),
    )
    populate_store(
        spark, catalog, "odd_docs",
        chunks_from_documents(docs.filter(F.col("doc_id") % 2 == 1)),
    )
    return multi_store_search(
        spark, catalog, ["even_docs", "odd_docs"], "table join filter fast", top_k=8
    )


QUERIES["e2e_vector_search"] = _e2e_vector_search

# ---------------------------------------------------------------------------
# multimodal binary metadata (the oracle-checkable half of the media path;
# the mapInPandas feature extraction is oracle-backed too: the stub hash
# chains are ASCII-hex by construction, see mm2/mm3 oracles)
# ---------------------------------------------------------------------------


def _mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads: size + digest + kind —
    the pruned (no-decode) branch of the multimodal pipeline."""
    from pyspark.sql import functions as F

    from .sources.multimodal import documents_as_media

    docs = load_tables(spark, sf_dir)["documents"]
    media = documents_as_media(docs)
    return media.select(
        "media_id",
        "kind",
        F.length("payload").cast("long").alias("byte_len"),
        F.md5("payload").alias("digest"),
    )


QUERIES["mm1_binary_meta"] = _mm_binary_meta
ORACLE_SQL["mm1_binary_meta"] = """
    SELECT 'm_' || CAST(doc_id AS VARCHAR) AS media_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS digest
    FROM documents
"""

# ---------------------------------------------------------------------------
# §2 completion sweep: LLM-op doubles (D5/D7/D11, F15/F16), IVF ANN (O6),
# fan-out union (U2), and the small W/P/A/F operators — operators/misc.py,
# operators/llm_doubles.py, similarity.ivf_topk/union_store_results.
# ---------------------------------------------------------------------------

from .operators import llm_doubles as LD  # noqa: E402
from .operators import misc as M  # noqa: E402

_register(
    "j10_salted_skew_join",
    R.skewed_nation_rollup,
    """
    SELECT c.c_nationkey, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)

# j9b: the batch form — per-query recursion (query_id rides the CTE), one
# SQL statement re-ranks every query. Verified exact at sf0.01 AND sf0.1.
_MMRB_ORACLE = """
WITH RECURSIVE
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 10),
cand AS (
    SELECT query_id, vec_id, v, rel, rn FROM (
        SELECT query_id, vec_id, v, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id ASC) AS rn
        FROM (
            SELECT q.query_id, e.vec_id, e.embedding::DOUBLE[] AS v,
                   list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS rel
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
        )
    ) WHERE rn <= 20
),
sel AS (
    SELECT query_id, 1 AS step, [vec_id] AS chosen FROM cand WHERE rn = 1
    UNION ALL
    SELECT s.query_id, s.step + 1,
           list_append(s.chosen, (
               SELECT c.vec_id FROM cand c
               WHERE c.query_id = s.query_id
                 AND NOT list_contains(s.chosen, c.vec_id)
               ORDER BY 0.5 * c.rel - 0.5 * (
                           SELECT MAX(list_cosine_similarity(c.v, c2.v))
                           FROM cand c2
                           WHERE c2.query_id = s.query_id
                             AND list_contains(s.chosen, c2.vec_id)
                       ) DESC,
                       c.rn ASC
               LIMIT 1
           ))
    FROM sel s WHERE s.step < 8
),
final AS (
    SELECT query_id, chosen FROM (
        SELECT query_id, chosen,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY step DESC) AS r
        FROM sel
    ) WHERE r = 1
),
flat AS (
    SELECT query_id, unnest(chosen) AS vid,
           unnest(generate_series(1, len(chosen))) AS rank
    FROM final
)
SELECT u.query_id, c.vec_id, CAST(u.rank AS INTEGER) AS mmr_rank,
       ROUND(c.rel, 3) + 0.0 AS relevance
FROM flat u
JOIN cand c ON c.query_id = u.query_id AND c.vec_id = u.vid
"""

_register("j9b_mmr_rerank_batch", S.mmr_rerank_batch, _MMRB_ORACLE)

_register(
    "w7_rolling_frames",
    M.rolling_user_value,
    """
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER w, 4) AS rolling_sum4,
           ROUND(AVG(value) OVER w, 4) AS rolling_avg4
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)

_register(
    "a12_rollup_totals",
    M.rollup_totals,
    """
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
)

# v9: the k-means refinement is 2 Lloyd iterations — UNROLLED in SQL
# (assign → per-dim AVG → float32-quantize → reassign, twice), so even the
# iterative-training tier is hash-verified. Exact at sf0.01 AND sf0.1: the
# float32 cast after each mean absorbs double-summation-order noise.
_register(
    "v9_ivf_kmeans_topk",
    S.ivf_kmeans_topk,
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cents0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
               FROM embeddings WHERE vec_id < 16),
    a0 AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC) AS rn
            FROM e CROSS JOIN cents0 c
        ) WHERE rn = 1
    ),
    c1 AS (
        SELECT cid, list(CAST(CAST(m AS FLOAT4) AS DOUBLE) ORDER BY i) AS ce
        FROM (
            SELECT a.cid, i.i AS i, AVG(a.ee[i.i]) AS m
            FROM a0 a, (SELECT unnest(range(1, 65)) AS i) i
            GROUP BY a.cid, i.i
        ) GROUP BY cid
    ),
    a1 AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC) AS rn
            FROM e CROSS JOIN c1 c
        ) WHERE rn = 1
    ),
    c2 AS (
        SELECT cid, list(CAST(CAST(m AS FLOAT4) AS DOUBLE) ORDER BY i) AS ce
        FROM (
            SELECT a.cid, i.i AS i, AVG(a.ee[i.i]) AS m
            FROM a1 a, (SELECT unnest(range(1, 65)) AS i) i
            GROUP BY a.cid, i.i
        ) GROUP BY cid
    ),
    a2 AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC) AS rn
            FROM e CROSS JOIN c2 c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT c.cid FROM c2 c, q
        ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
        LIMIT 4
    )
    SELECT a.vec_id, a.label, a.cid,
           ROUND(list_cosine_similarity(a.ee, q.qe), 3) + 0.0 AS cos_sim
    FROM a2 a JOIN probe p ON a.cid = p.cid, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 8
    """,
)

_register(
    "a13_quantile_summary",
    M.quantile_summary,
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_price,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)

_register(
    "u4_intersect_sources",
    M.intersect_sources,
    """
    SELECT source FROM documents WHERE lang = 'en'
    INTERSECT
    SELECT source FROM documents WHERE lang = 'de'
    """,
)

_register(
    "u5_except_sources",
    M.except_sources,
    """
    SELECT DISTINCT source FROM documents WHERE lang = 'en'
    AND source NOT IN (SELECT source FROM documents WHERE lang = 'zh')
    """,
)

# All-pairs / raw-key baselines for the canonical scale-safe d1/d4/d5 — kept
# registered (and oracle-checked) as the exact reference points, but never in
# the bench headline: their plans are O(n²) self-joins or full-text shuffles.
_register("d1x_exact_dedup_textkey", D.exact_dedup, OD.EXACT_DEDUP)
_register("d4x_simhash_pairs_exact", D.simhash_pairs, OD.SIMHASH_PAIRS)
_register("d5x_embedding_neardup_exact", D.embedding_neardup_pairs, OD.EMBEDDING_NEARDUP)

_register(
    "d11_query_classification",
    LD.query_classification,
    """
    SELECT doc_id,
           CASE
             WHEN (lower(text) LIKE '%sum%' OR lower(text) LIKE '%count%'
                   OR lower(text) LIKE '%total%' OR lower(text) LIKE '%group%')
              AND (lower(text) LIKE '%similar%' OR lower(text) LIKE '%search%'
                   OR lower(text) LIKE '%find%' OR lower(text) LIKE '%query%')
               THEN 'both'
             WHEN (lower(text) LIKE '%sum%' OR lower(text) LIKE '%count%'
                   OR lower(text) LIKE '%total%' OR lower(text) LIKE '%group%')
               THEN 'nl2sql'
             WHEN (lower(text) LIKE '%similar%' OR lower(text) LIKE '%search%'
                   OR lower(text) LIKE '%find%' OR lower(text) LIKE '%query%')
               THEN 'vecsearch'
             ELSE 'both'
           END AS route
    FROM documents
    """,
)

_register(
    "d7_grade_blanking",
    LD.grade_blanking,
    """
    SELECT doc_id,
           CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                THEN 'yes' ELSE 'no' END AS grade,
           CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                THEN text ELSE '' END AS graded_text
    FROM documents
    """,
)

_register(
    "d5_semantic_routing",
    LD.semantic_routing,
    """
    WITH scores AS (
        SELECT source,
               COUNT(CASE WHEN lower(text) LIKE '%window%'
                            OR lower(text) LIKE '%stream%' THEN 1 END) AS hits,
               COUNT(*) AS n_docs
        FROM documents GROUP BY source
    )
    SELECT source, hits, n_docs, rnk FROM (
        SELECT source, hits, n_docs,
               ROW_NUMBER() OVER (ORDER BY hits DESC, source ASC) AS rnk
        FROM scores
    ) WHERE rnk <= 3
    """,
)

_register(
    "f15_fenced_json_extract",
    LD.fenced_json_extract,
    """
    SELECT event_id,
           regexp_extract('```json ' || props || ' ```',
                          '```json\\s*(\\{.*\\})\\s*```', 1) AS payload,
           CAST(json_extract_string(
                regexp_extract('```json ' || props || ' ```',
                               '```json\\s*(\\{.*\\})\\s*```', 1), '$.k')
                AS INTEGER) AS k
    FROM events
    """,
)

_register(
    "f16_single_line_guard",
    LD.single_line_guard,
    """
    WITH cand AS (
        SELECT doc_id, text,
               CASE WHEN doc_id % 3 = 0
                    THEN substr(text, 1, 20) || chr(10) || substr(text, 21, 20)
                    ELSE upper(substr(text, 1, 40)) END AS candidate
        FROM documents
    )
    SELECT doc_id,
           candidate LIKE '%' || chr(10) || '%' AS rejected,
           CASE WHEN candidate LIKE '%' || chr(10) || '%' THEN text
                ELSE candidate END AS question
    FROM cand
    """,
)

_register(
    "v7_ivf_topk",
    S.ivf_topk,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
        LIMIT 4
    )
    SELECT a.vec_id, a.label, a.cid,
           ROUND(list_cosine_similarity(a.ee, q.qe), 3) + 0.0 AS cos_sim
    FROM assigned a JOIN probe p ON a.cid = p.cid, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 8
    """,
)

_register(
    "u2_union_store_results",
    S.union_store_results,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    low AS (
        SELECT 'store_low' AS searched_table, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
        FROM embeddings e, q WHERE e.label < 5 AND e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 5
    ),
    high AS (
        SELECT 'store_high' AS searched_table, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
        FROM embeddings e, q WHERE e.label >= 5 AND e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 5
    )
    SELECT * FROM low UNION ALL SELECT * FROM high
    """,
)

_register(
    "a3_plain_count",
    M.plain_count,
    "SELECT COUNT(*) AS n_rows FROM lineitem",
)

_register(
    "a11_heartbeat_rowcount",
    M.heartbeat_rowcount,
    """
    SELECT user_id, COUNT(*) AS bumped
    FROM events
    WHERE event_type = 'click'
      AND user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')
    GROUP BY user_id
    """,
)

_register(
    "p3_extension_filter",
    M.extension_filter,
    """
    WITH named AS (
        SELECT doc_id,
               CASE CAST(doc_id % 6 AS INTEGER)
                 WHEN 0 THEN 'PDF' WHEN 1 THEN 'docx' WHEN 2 THEN 'zip'
                 WHEN 3 THEN 'txt' WHEN 4 THEN 'exe' ELSE 'md'
               END AS ext0,
               source
        FROM documents
    )
    SELECT doc_id,
           source || '/doc_' || CAST(doc_id AS VARCHAR) || '.' || ext0 AS filename,
           lower(ext0) AS ext
    FROM named
    WHERE lower(ext0) IN ('pdf', 'docx', 'txt', 'md')
    """,
)

_register(
    "p5_model_usability",
    M.model_usability_filter,
    """
    SELECT source, lang, COUNT(*) AS n_docs
    FROM documents
    WHERE lang IN ('en', 'fr', 'zh')
    GROUP BY source, lang
    """,
)

_register(
    "p8_history_filter",
    M.history_filter,
    """
    SELECT event_id, user_id, event_type FROM events WHERE event_type <> 'error'
    """,
)

_register(
    "w4_ordered_listing",
    M.ordered_listing,
    """
    SELECT event_id, ts, event_type FROM events
    ORDER BY ts DESC, event_id ASC LIMIT 50
    """,
)

_register(
    "w5_limit_probe",
    M.limit_probe,
    """
    SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey ASC LIMIT 1
    """,
)

_register(
    "f1_identifier_normalize",
    M.identifier_normalize,
    """
    WITH ident AS (
        SELECT p_partkey, upper(regexp_replace(p_name, '[^A-Za-z0-9]', '_', 'g')) AS i
        FROM part
    )
    SELECT p_partkey,
           CASE WHEN length(i) > 25
                THEN substr(i, 1, 16) || '_' || substr(sha256(i), 1, 8)
                ELSE i END AS identifier
    FROM ident
    """,
)

_register(
    "f6_timestamp_iso",
    M.timestamp_iso,
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS created_iso,
           CAST(epoch(o_orderdate) AS BIGINT) AS created_epoch
    FROM orders
    """,
)

_register(
    "f8_hex_roundtrip",
    M.hex_roundtrip,
    """
    SELECT c_custkey,
           hex(c_name) AS name_hex,
           decode(unhex(hex(c_name))) AS name_back,
           decode(unhex(hex(c_name))) = c_name AS lossless
    FROM customer
    """,
)

_register(
    "t7_session_history",
    M.session_history,
    """
    SELECT user_id,
           string_agg(event_type || '#' || CAST(event_id AS VARCHAR),
                      chr(10) ORDER BY ts, event_id) AS history,
           CAST(COUNT(*) AS INTEGER) AS n_turns
    FROM events
    WHERE event_type <> 'error'
    GROUP BY user_id
    """,
)


def _store_catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: store-catalog discovery (database/registry.py:29-77 parses GENAI:
    table comments) — build two stores, then scan the catalog back as a
    DataFrame. Filesystem round-trip → rows-only driver check."""
    import tempfile

    from pyspark.sql import functions as F

    from .plans.vector_store import (
        VectorStoreCatalog,
        chunks_from_documents,
        populate_store,
    )

    docs = load_tables(spark, sf_dir)["documents"].limit(40)
    catalog = VectorStoreCatalog(tempfile.mkdtemp(prefix="aio_catalog_"))
    populate_store(
        spark, catalog, "alpha", chunks_from_documents(docs.filter(F.col("doc_id") % 2 == 0))
    )
    populate_store(
        spark, catalog, "beta",
        chunks_from_documents(docs.filter(F.col("doc_id") % 2 == 1)),
        distance_metric="EUCLIDEAN",
    )
    return spark.createDataFrame(
        [
            (c["name"], c["distance_metric"], c["embed_model"], c["dim"])
            for c in catalog.discover()
        ],
        "name string, distance_metric string, embed_model string, dim int",
    )


QUERIES["s13_store_catalog"] = _store_catalog_scan
# The Spark side does the REAL filesystem round-trip (register → discover);
# the oracle pins the exact catalog contract that round-trip must produce.
ORACLE_SQL["s13_store_catalog"] = """
    SELECT * FROM (VALUES
        ('alpha', 'COSINE', 'hash64', 64),
        ('beta', 'EUCLIDEAN', 'hash64', 64)
    ) AS t(name, distance_metric, embed_model, dim)
"""

# ---------------------------------------------------------------------------
# §2.9 T2 as arbitrary stateful processing (pandas fold); shares the window
# implementation's oracle — two independent engines, three implementations.
# ---------------------------------------------------------------------------

from .streaming.stateful import track_jobs_batch  # noqa: E402

_register("t2p_job_states_pandas", track_jobs_batch, None)
ORACLE_SQL["t2p_job_states_pandas"] = ORACLE_SQL["t2_job_states"]

# ---------------------------------------------------------------------------
# D9/D10 doubles + S6 sink/source round-trip
# ---------------------------------------------------------------------------

_register(
    "d9_qa_generation",
    LD.qa_generation,
    """
    WITH starts AS (
        SELECT doc_id, text, lang, source, length(text) AS n,
               unnest(generate_series(0, CAST(ceil(length(text) / 461.0) AS BIGINT))) AS i
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, text, lang, source, n, i, i * 461 AS start_index,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS idx
        FROM starts
        WHERE (i = 0 AND n > 0) OR (i > 0 AND i * 461 + 51 < n)
    )
    SELECT doc_id || '_' || CAST(idx AS VARCHAR) AS qa_id,
           'What does ' || source || ' passage ' || CAST(idx AS VARCHAR)
             || ' describe?' AS question,
           substr(text, CAST(start_index AS INTEGER) + 1, 512)[1:50] AS reference_answer,
           lang AS topic
    FROM chunks
    """,
)

_register(
    "d10_answer_synthesis",
    LD.answer_synthesis,
    """
    SELECT doc_id,
           CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                THEN 'synthesized' ELSE 'sql_only' END AS route,
           CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                THEN 'sql:' || upper(substr(text, 1, 20)) || ' | ' || 'vs:' || substr(text, 21, 20)
                ELSE 'sql:' || upper(substr(text, 1, 20)) END AS answer
    FROM documents
    """,
)


def _chunk_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: chunk → JSON sink → JSON source with explicit schema; the result
    must equal the chunks that went in (oracle = the chunker SQL), proving
    the sink/source pair is lossless including the metadata map."""
    import tempfile

    from pyspark.sql import functions as F

    from .plans.vector_store import chunks_from_documents
    from .sources.files import read_chunks_json, write_chunks_json

    docs = load_tables(spark, sf_dir)["documents"]
    chunks = chunks_from_documents(docs).withColumnRenamed("text", "page_content")
    path = tempfile.mkdtemp(prefix="aio_chunks_json_")
    write_chunks_json(chunks, path)
    back = read_chunks_json(spark, path)
    return back.select(
        "id",
        F.col("page_content").alias("text"),
        F.col("metadata")["source"].alias("source"),
        F.col("metadata")["filename"].alias("filename"),
        F.col("metadata")["start_index"].cast("int").alias("start_index"),
    )


QUERIES["s6_chunk_json_roundtrip"] = _chunk_json_roundtrip
ORACLE_SQL["s6_chunk_json_roundtrip"] = """
    WITH starts AS (
        SELECT doc_id, text, source, length(text) AS n,
               unnest(generate_series(0, CAST(ceil(length(text) / 160.0) AS BIGINT))) AS i
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, text, source, n, i, i * 160 AS start_index,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS idx
        FROM starts
        WHERE (i = 0 AND n > 0) OR (i > 0 AND i * 160 + 40 < n)
    )
    SELECT doc_id || '_' || CAST(idx AS VARCHAR) AS id,
           substr(text, CAST(start_index AS INTEGER) + 1, 200) AS text,
           source,
           'doc_' || CAST(doc_id AS VARCHAR) AS filename,
           CAST(start_index AS INTEGER) AS start_index
    FROM chunks
    """


def _sql_to_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+S12: the SQL-query→CSV source path (embed/utils.py:73-145) — a
    validated SELECT spooled to a CSV staging dir, then read back with an
    explicit schema. The oracle is the SQL itself: the sink/source pair
    must be lossless for the spooled types."""
    import tempfile

    from .sources.files import read_csv, write_csv

    register_views(spark, sf_dir)
    df = run_sql(spark, _NL2SQL_DEMO)
    path = tempfile.mkdtemp(prefix="aio_sql_csv_")
    write_csv(df, path)
    return read_csv(
        spark, path, "nation string, n_customers long, total_spend double"
    )


QUERIES["s8_sql_to_csv_source"] = _sql_to_csv_source
ORACLE_SQL["s8_sql_to_csv_source"] = _NL2SQL_DEMO


def _e2e_clustered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 scale layout end-to-end: build a store partitionBy(sign-LSH
    bucket), search with the bucket predicate → Hive partition pruning
    stands in for the ANN index. Store build is a pandas_udf pipeline →
    hash-verified: the hash-embedding double is reproduced in DuckDB SQL,
    bucket predicate included (pruning semantics additionally unit-verified
    in tests/test_vector_store.py)."""
    import tempfile

    from .plans.vector_store import (
        VectorStoreCatalog,
        chunks_from_documents,
        populate_store,
        search_store,
    )

    from pyspark.sql import functions as F

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 120)
    catalog = VectorStoreCatalog(tempfile.mkdtemp(prefix="aio_clustered_"))
    populate_store(
        spark, catalog, "clustered", chunks_from_documents(docs),
        cluster_by_bucket=True, bucket_bits=4,
    )
    return search_store(spark, catalog, "clustered", "table join filter fast", top_k=8)


QUERIES["e2e_clustered_search"] = _e2e_clustered_search

_register(
    "v8_ivf_knn_join",
    S.ivf_knn_join,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT cid, query_id, qe FROM (
            SELECT c.cid, qq.query_id, qq.qe,
                   ROW_NUMBER() OVER (
                       PARTITION BY qq.query_id
                       ORDER BY list_distance(c.ce, qq.qe) ASC, c.cid ASC
                   ) AS rn
            FROM cents c CROSS JOIN q qq
        ) WHERE rn <= 4
    )
    SELECT query_id, vec_id, cid, cos_sim, rnk FROM (
        SELECT p.query_id, a.vec_id, a.cid,
               ROUND(list_cosine_similarity(a.ee, p.qe), 3) + 0.0 AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY p.query_id
                   ORDER BY ROUND(list_cosine_similarity(a.ee, p.qe), 3) + 0.0 DESC,
                            a.vec_id ASC
               ) AS rnk
        FROM assigned a JOIN probe p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    ) WHERE rnk <= 3
    """,
)


def _e2e_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 on real stores: build → modify one file + add one → refresh; only
    changed files are re-embedded (embed/refresh.py:28-143 semantics).
    Oracle-backed: kept ∪ re-inserted chunks re-derived in SQL (the incremental
    invariants are asserted in tests/test_vector_store.py)."""
    import tempfile

    from pyspark.sql import functions as F

    from .plans.vector_store import VectorStoreCatalog, refresh_store

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 60).select(
        "doc_id", "text", "source"
    )
    catalog = VectorStoreCatalog(tempfile.mkdtemp(prefix="aio_refresh_"))
    refresh_store(spark, catalog, "store_r", docs)
    modified = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.lit("fresh text for doc zero")).otherwise(
            F.col("text")
        ),
    )
    final = refresh_store(spark, catalog, "store_r", modified)
    return final.select(
        "id", F.col("metadata")["filename"].alias("filename"), "text"
    )


QUERIES["e2e_incremental_refresh"] = _e2e_incremental_refresh


def _e2e_vecsearch_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 lifecycle in one call: rephrase-guard → store routing →
    multi-store top-k → grade/blank, compiled once per settings identity
    (plans/flow.py). Rows-only (pandas-UDF store build)."""
    import tempfile

    from pyspark.sql import functions as F

    from .plans.flow import VecsearchFlow, VecsearchSettings
    from .plans.vector_store import (
        VectorStoreCatalog,
        chunks_from_documents,
        populate_store,
    )

    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 80)
    catalog = VectorStoreCatalog(tempfile.mkdtemp(prefix="aio_flow_"))
    populate_store(spark, catalog, "table_docs",
                   chunks_from_documents(docs.filter(F.col("doc_id") % 2 == 0)))
    populate_store(spark, catalog, "stream_docs",
                   chunks_from_documents(docs.filter(F.col("doc_id") % 2 == 1)))
    flow = VecsearchFlow(spark, catalog)
    return flow.run(
        "driver", "table join filter fast",
        VecsearchSettings(top_k=8), history=["prior q", "prior a"],
    )


QUERIES["e2e_vecsearch_flow"] = _e2e_vecsearch_flow


# ---------------------------------------------------------------------------
# DuckDB oracles for the vecsearch e2e pipelines: the hash-embedding double
# is deterministic (md5 token buckets, embedding.py:46-57), so the WHOLE
# chunk → dedup → embed → search path is SQL-expressible — the flagship
# §3.1 read path is hash-verified end-to-end, not rows-only.
# ---------------------------------------------------------------------------


def _chunk_dedup_cte(pred: str, out: str) -> str:
    """documents WHERE {pred} → chunk(200/40) → min-id-per-text dedup;
    mirrors functions/text.py chunk_text + populate_store's dedup window."""
    return f"""
    {out}_starts AS (
        SELECT doc_id, text, length(text) AS n,
               unnest(generate_series(0, CAST(ceil(length(text) / 160.0) AS BIGINT))) AS i
        FROM documents WHERE {pred}
    ),
    {out}_chunks AS (
        SELECT CAST(doc_id AS VARCHAR) || '_' ||
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS VARCHAR) AS id,
               substr(text, CAST(i * 160 AS INTEGER) + 1, 200) AS text
        FROM {out}_starts
        WHERE (i = 0 AND n > 0) OR (i > 0 AND i * 160 + 40 < n)
    ),
    {out} AS (
        SELECT id, text FROM (
            SELECT id, text,
                   ROW_NUMBER() OVER (PARTITION BY text ORDER BY id ASC) AS rn
            FROM {out}_chunks
        ) WHERE rn = 1
    )"""


def _hash_embed_cte(src: str, out: str) -> str:
    """HashEmbedder parity: 60-bit md5 token hash → bucket h%64, sign from
    bit 30, L2-normalize, float32-quantize each component — bit-exact with
    embedding.py:46-57 (verified: exact multiset equality at sf0.01)."""
    return f"""
    {out}_tb AS (
        SELECT id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
               CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT >> 30) & 1 = 1
                    THEN 1.0 ELSE -1.0 END AS sgn
        FROM (
            SELECT id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
            FROM {src}
        )
    ),
    {out}_vm AS (
        SELECT id, map_from_entries(list(struct_pack(k := bucket, v := s))) AS m,
               SQRT(SUM(s * s)) AS nrm
        FROM (SELECT id, bucket, CAST(SUM(sgn) AS DOUBLE) AS s
              FROM {out}_tb GROUP BY id, bucket)
        GROUP BY id
    ),
    {out} AS (
        SELECT d.id, d.text,
               list_transform(range(0, 64),
                   i -> CAST(CAST(COALESCE(v.m[i][1], 0.0) / v.nrm AS FLOAT4) AS DOUBLE)) AS emb
        FROM {src} d JOIN {out}_vm v USING (id)
    )"""


def _qvec_cte(tokens: tuple, out: str = "qv") -> str:
    """Query-side HashEmbedder over a constant token list."""
    toklist = ", ".join("'" + t.replace("'", "''") + "'" for t in tokens)
    return f"""
    {out}_tb AS (
        SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
               CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT >> 30) & 1 = 1
                    THEN 1.0 ELSE -1.0 END AS sgn
        FROM (SELECT unnest([{toklist}]) AS tok)
    ),
    {out}_vm AS (
        SELECT map_from_entries(list(struct_pack(k := bucket, v := s))) AS m,
               SQRT(SUM(s * s)) AS nrm
        FROM (SELECT bucket, CAST(SUM(sgn) AS DOUBLE) AS s FROM {out}_tb GROUP BY bucket)
    ),
    {out} AS (
        SELECT list_transform(range(0, 64),
                   i -> CAST(CAST(COALESCE(m[i][1], 0.0) / nrm AS FLOAT4) AS DOUBLE)) AS qe
        FROM {out}_vm
    )"""


def _store_top_cte(vec: str, store_name: str, out: str, top_k: int = 8) -> str:
    """search_store: COSINE score 1-(1-cos)/2, ROUND 3, per-store top-k by
    (similarity DESC, id ASC) — plans/vector_store.py search_store."""
    return f"""
    {out} AS (
        SELECT id, text, similarity, '{store_name}' AS searched_table FROM (
            SELECT v.id, v.text,
                   ROUND(1.0 - (1.0 - list_cosine_similarity(v.emb, q.qe)) / 2.0, 3) + 0.0 AS similarity,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(1.0 - (1.0 - list_cosine_similarity(v.emb, q.qe)) / 2.0, 3) + 0.0 DESC,
                                v.id ASC) AS rn
            FROM {vec} v, qv q
        ) WHERE rn <= {top_k}
    )"""


ORACLE_SQL["e2e_vector_search"] = f"""
    WITH {_chunk_dedup_cte('doc_id < 100 AND doc_id % 2 = 0', 'even_d')},
    {_chunk_dedup_cte('doc_id < 100 AND doc_id % 2 = 1', 'odd_d')},
    {_hash_embed_cte('even_d', 'even_vec')},
    {_hash_embed_cte('odd_d', 'odd_vec')},
    {_qvec_cte(('table', 'join', 'filter', 'fast'))},
    {_store_top_cte('even_vec', 'even_docs', 'even_top')},
    {_store_top_cte('odd_vec', 'odd_docs', 'odd_top')},
    united AS (SELECT * FROM even_top UNION ALL SELECT * FROM odd_top),
    kept AS (
        SELECT id, text, similarity, searched_table FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY text
                ORDER BY similarity DESC, searched_table ASC, id ASC) AS rn
            FROM united
        ) WHERE rn = 1
    )
    SELECT id, text, similarity, searched_table
    FROM kept ORDER BY similarity DESC, id ASC LIMIT 8
"""

_SIGN4 = (
    "(CASE WHEN {v}[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN {v}[2] >= 0 THEN 2 ELSE 0 END)"
    " + (CASE WHEN {v}[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN {v}[4] >= 0 THEN 8 ELSE 0 END)"
)

ORACLE_SQL["e2e_clustered_search"] = f"""
    WITH {_chunk_dedup_cte('doc_id < 120', 'cl_d')},
    {_hash_embed_cte('cl_d', 'cl_vec')},
    {_qvec_cte(('table', 'join', 'filter', 'fast'))},
    qb AS (SELECT {_SIGN4.format(v='qe')} AS qbucket FROM qv)
    SELECT id, text, similarity FROM (
        SELECT v.id, v.text,
               ROUND(1.0 - (1.0 - list_cosine_similarity(v.emb, q.qe)) / 2.0, 3) + 0.0 AS similarity,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(1.0 - (1.0 - list_cosine_similarity(v.emb, q.qe)) / 2.0, 3) + 0.0 DESC,
                            v.id ASC) AS rn
        FROM cl_vec v, qv q, qb
        WHERE {_SIGN4.format(v='v.emb')} = qb.qbucket
    ) WHERE rn <= 8
"""

# flow: rephrase appends "(re: <last history turn>)" (plans/flow.py:60-66);
# routing picks only table_docs (shared token "table"); grade terms
# join/merge/table blank non-matching hits (flow.py:88-99)
_FLOW_TOKENS = tuple("table join filter fast (re: prior a)".split())

ORACLE_SQL["e2e_vecsearch_flow"] = f"""
    WITH {_chunk_dedup_cte('doc_id < 80 AND doc_id % 2 = 0', 'fl_d')},
    {_hash_embed_cte('fl_d', 'fl_vec')},
    {_qvec_cte(_FLOW_TOKENS)},
    {_store_top_cte('fl_vec', 'table_docs', 'fl_top')},
    kept AS (
        SELECT id, text, similarity, searched_table FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY text
                ORDER BY similarity DESC, searched_table ASC, id ASC) AS rn
            FROM fl_top
        ) WHERE rn = 1
    ),
    final AS (
        SELECT id, text, similarity, searched_table
        FROM kept ORDER BY similarity DESC, id ASC LIMIT 8
    )
    SELECT id,
           CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                     OR lower(text) LIKE '%table%' THEN text ELSE '' END AS text,
           similarity, searched_table,
           CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                     OR lower(text) LIKE '%table%' THEN 'yes' ELSE 'no' END AS grade
    FROM final
"""

# e2e_incremental_refresh: the final store is exactly (store1 minus the
# changed file's rows) ∪ (the changed file's new chunks) — path-dependent
# dedup included: a chunk text that doc_0 originally won stays absent after
# doc_0's rows are deleted, which `kept` (dedup over the ORIGINAL corpus,
# then excluding doc_0-won rows) models faithfully.
ORACLE_SQL["e2e_incremental_refresh"] = f"""
    WITH {_chunk_dedup_cte('doc_id < 60', 'rf_c')},
    kept AS (
        SELECT id, 'doc_' || split_part(id, '_', 1) AS filename, text
        FROM rf_c
        WHERE split_part(id, '_', 1) <> '0'
    )
    SELECT id, filename, text FROM kept
    UNION ALL
    SELECT '0_1' AS id, 'doc_0' AS filename,
           'fresh text for doc zero' AS text
"""


def _e2e_evaluation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 end to end: D9 testset → deterministic answer double (echo the
    reference answer for even doc ids, garbage otherwise) → pandas-UDF
    judge → A7/A8 report. The oracle derives correctness independently
    from qa parity — the judge UDF must agree exactly."""
    from pyspark.sql import functions as F

    from .operators.llm_doubles import qa_generation
    from .plans.testbed import evaluate_testset

    testset = qa_generation(load_tables(spark, sf_dir))
    answers = testset.select(
        "qa_id",
        F.when(
            F.element_at(F.split("qa_id", "_"), 1).cast("long") % 2 == 0,
            F.col("reference_answer"),
        ).otherwise(F.lit("zzz_unrelated_answer"))
        .alias("agent_answer"),
    )
    report, _failures = evaluate_testset(testset, answers)
    return report


QUERIES["e2e_evaluation_report"] = _e2e_evaluation_report
ORACLE_SQL["e2e_evaluation_report"] = """
    WITH starts AS (
        SELECT doc_id, text, lang, length(text) AS n,
               unnest(generate_series(0, CAST(ceil(length(text) / 461.0) AS BIGINT))) AS i
        FROM documents
    ),
    qa AS (
        SELECT doc_id, lang AS topic,
               CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS correct
        FROM starts
        WHERE (i = 0 AND n > 0) OR (i > 0 AND i * 461 + 51 < n)
    )
    SELECT 'by_topic' AS scope, topic,
           ROUND(AVG(correct), 4) AS correctness, COUNT(*) AS n
    FROM qa GROUP BY topic
    UNION ALL
    SELECT 'overall' AS scope, 'all' AS topic,
           ROUND(AVG(correct), 4) AS correctness, COUNT(*) AS n
    FROM qa
"""


def _feature_rows(feats: DataFrame) -> DataFrame:
    """Driver-canon-safe projection shared by mm2/mm3: the engine ops
    return feature ARRAY<FLOAT>, but the external checker canonicalizes
    via pandas sort_values, which cannot sort list columns (r4 red row).
    Explode the vector to (j, feature_value) scalar rows for the checked
    surface — ONE definition, so the next canon-strictness rule lands on
    both media pipelines at once. The array-shaped operators stay the
    production API (tests/test_multimodal_loaders.py)."""
    from pyspark.sql import functions as F

    return feats.select(
        "media_id",
        "kind",
        "byte_len",
        "content_md5",
        F.posexplode("feature").alias("j", "fv"),
        "decode_status",
    ).select(
        "media_id",
        "kind",
        "byte_len",
        "content_md5",
        F.col("j").cast("long").alias("j"),
        F.col("fv").cast("double").alias("feature_value"),
        "decode_status",
    )


def _mm2_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm2: the full media pipeline — payload-sized repartition → video
    frame sampling (1→N mapInPandas) → resize → feature extraction.
    Stubbed kernels, real plumbing — hash-verified end to end (the stub
    chains are ASCII-hex md5, SQL-re-derivable; invariants additionally
    asserted in tests/test_multimodal_loaders.py)."""
    from .sources.multimodal import (
        documents_as_media,
        extract_features,
        repartition_for_payloads,
        resize_images,
        sample_frames,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    media = repartition_for_payloads(documents_as_media(docs), target_bytes=1 << 20)
    frames = resize_images(sample_frames(media, every_ms=100, max_frames=3))
    return _feature_rows(extract_features(frames))


QUERIES["mm2_frame_features"] = _mm2_frame_features

# The stub kernels hash ASCII-hex strings by construction (md5 chains),
# so the WHOLE media pipeline — frame-count arithmetic, 1→N framing,
# resize composition, feature quantization — is SQL-re-derivable; only a
# real codec (env-blocked) would replace the hex chain with pixel data.
ORACLE_SQL["mm2_frame_features"] = f"""
    WITH vids AS (
        SELECT doc_id, md5(text) AS d0, octet_length(encode(text)) AS blen
        FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
        SELECT 'm_' || doc_id || '_f' || i.i AS media_id,
               md5(d0 || CAST(i.i AS VARCHAR)) AS fp
        FROM vids, (SELECT unnest(range(0, 3)) AS i) i
        WHERE i.i < least(greatest(blen // 100, 1), 3)
    ),
    resized AS (
        SELECT media_id, substr(repeat(md5(fp), 25), 1, 784) AS rp FROM frames
    )
    SELECT media_id, 'image' AS kind, CAST(784 AS BIGINT) AS byte_len,
           md5(rp) AS content_md5,
           CAST(j.j AS BIGINT) AS j,
           CAST(CAST((('0x' || substr(md5(rp), j.j * 2 + 1, 2))::INT) / 255.0
                AS FLOAT4) AS DOUBLE) AS feature_value,
           'stub_decoded' AS decode_status
    FROM resized, (SELECT unnest(range(0, 8)) AS j) j
"""


# mm4/mm5: REAL stdlib media decode (verdict r9 task 4 — the decode gap
# partially closable without PIL/librosa). Payloads are GENUINE
# containers — 16-bit PCM WAV written by stdlib `wave`, 8-bit grayscale
# PNG written with zlib+CRC chunks — built per document from closed-form
# deterministic content, then parsed back by the engine's REAL parsers
# (RIFF header walk / chunk CRC verify + inflate + unfilter,
# sources/multimodal.py decode_wav/decode_png). The statistics come from
# the DECODED samples/pixels; the oracle recomputes them from the
# closed-form content, so a parser bug anywhere (header arithmetic,
# endianness, filter reconstruction) breaks the hash. All stats are
# exact-integer sums with one IEEE division/sqrt — bit-identical across
# engines with no rounding step.


def _mm4_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.multimodal import synth_wav_media, wav_stats

    docs = load_tables(spark, sf_dir)["documents"]
    return wav_stats(synth_wav_media(docs))


QUERIES["mm4_wav_stats"] = _mm4_wav_stats
ORACLE_SQL["mm4_wav_stats"] = """
    WITH d AS (
        SELECT doc_id, 64 + doc_id % 129 AS n, doc_id % 9973 AS seed
        FROM documents
    ),
    s AS (
        SELECT d.doc_id, d.n, ((d.seed + i.i * 7919) % 65536) - 32768 AS v
        FROM d, (SELECT unnest(range(0, 193)) AS i) i
        WHERE i.i < d.n
    )
    SELECT 'm_' || doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(16000 AS BIGINT) AS framerate,
           CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
           CAST(SUM(v) AS DOUBLE) / n AS mean_sample,
           CAST(MAX(ABS(v)) AS BIGINT) AS max_abs,
           SQRT(CAST(SUM(v * v) AS DOUBLE) / n) AS rms
    FROM s GROUP BY doc_id, n
"""


def _mm5_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.multimodal import png_stats, synth_png_media

    docs = load_tables(spark, sf_dir)["documents"]
    return png_stats(synth_png_media(docs))


QUERIES["mm5_png_stats"] = _mm5_png_stats
ORACLE_SQL["mm5_png_stats"] = """
    WITH d AS (
        SELECT doc_id, 16 + doc_id % 17 AS w, 8 + doc_id % 13 AS h,
               doc_id % 251 AS seed
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.w, d.h, (d.seed + 3 * i.i) % 256 AS v
        FROM d, (SELECT unnest(range(0, 640)) AS i) i
        WHERE i.i < d.w * d.h
    )
    SELECT 'm_' || doc_id AS media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(SUM(v) AS DOUBLE) / (w * h) AS mean_px,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM px GROUP BY doc_id, w, h
"""


def _nl2sql_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """o15b: question → schema-validated template SQL → validated
    execution (the NL2SQL agent loop with a deterministic generation
    double, agentspec/agent_nl2sql.py:22-75). Generation is deterministic,
    so the oracle is the exact SQL the double emits for this question."""
    from .plans.nl2sql import answer_question

    register_views(spark, sf_dir)
    return answer_question(spark, "total revenue by nation please")


QUERIES["o15b_nl2sql_generated"] = _nl2sql_generated
ORACLE_SQL["o15b_nl2sql_generated"] = """
    SELECT n.n_name AS nation, ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


# ---------------------------------------------------------------------------
# temporal joins (engine extension — SURVEY.md §2.3 notes these are absent
# from the reference; a 100 TB event pipeline needs them first-class)
# ---------------------------------------------------------------------------

from .operators import temporal as TM  # noqa: E402

_register(
    "j11_asof_join",
    TM.asof_join_last_error,
    """
    WITH errors_d AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'error') WHERE rn = 1
    ), clicks AS (
        SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT c.user_id, c.event_id AS click_event_id, c.ts AS click_ts,
           c.value AS click_value, e.ts AS last_error_ts, e.value AS last_error_value
    FROM clicks c ASOF LEFT JOIN errors_d e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)

_register(
    "j12_banded_range_join",
    TM.banded_range_join,
    """
    SELECT e.event_id, e.user_id, e.ts,
           COUNT(c.user_id) AS n_clicks_10m,
           ROUND(COALESCE(SUM(c.value), 0), 4) AS click_value_10m
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON c.user_id = e.user_id AND c.ts > e.ts AND c.ts <= e.ts + INTERVAL 600 SECOND
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)

_register(
    "st4_sliding_window_counts",
    E.sliding_window_counts,
    """
    SELECT time_bucket(INTERVAL '30 minutes', ts) - s.i * INTERVAL '30 minutes' AS window_start,
           event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS value_sum
    FROM events CROSS JOIN (VALUES (0), (1)) AS s(i)
    GROUP BY 1, 2
    """,
)

_register(
    "a14_cube_summary",
    M.cube_summary,
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)

_register(
    "f5_path_functions",
    M.path_functions,
    r"""
    WITH p AS (
        SELECT doc_id,
               '/data/' || source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path
        FROM documents
    ), b AS (
        SELECT doc_id, path, regexp_extract(path, '([^/]+)$', 1) AS basename FROM p
    )
    SELECT doc_id, path, basename,
           regexp_replace(basename, '\.[^.]*$', '') AS stem,
           regexp_extract(basename, '\.([^.]*)$', 1) AS extension,
           replace(substring(path, 2), '/', '_') AS flat_key
    FROM b
    """,
)

_register(
    "f9_json_roundtrip",
    M.json_roundtrip,
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS BIGINT)))
               AS canonical_props
    FROM events
    """,
)


# ---------------------------------------------------------------------------
# deterministic sampling / dataset splits (engine extension — training-data
# pipeline surface; hash-keyed so the DuckDB oracle matches bit-for-bit)
# ---------------------------------------------------------------------------

from .operators import sampling as SMP  # noqa: E402

_H60 = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _h60(expr: str) -> str:
    return _H60.format(expr=expr)


_register(
    "smp1_hash_split",
    SMP.hash_split,
    f"""
    SELECT doc_id, source,
           {_h60("'split|' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {_h60("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                WHEN {_h60("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)

_register(
    "smp2_stratified_sample",
    SMP.stratified_sample,
    f"""
    SELECT label, vec_id, rn AS pick_rank FROM (
        SELECT label, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY label
                   ORDER BY {_h60("'strat|' || CAST(vec_id AS VARCHAR)")} % 1000000000 ASC,
                            vec_id ASC) AS rn
        FROM embeddings)
    WHERE rn <= 20
    """,
)

_register(
    "smp3_weighted_mix",
    SMP.weighted_mix,
    f"""
    WITH rated AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                           WHEN 'src2' THEN 250 ELSE 0 END AS keep_rate
        FROM documents)
    SELECT doc_id, source, keep_rate FROM rated
    WHERE {_h60("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000 < keep_rate
    """,
)

_register(
    "smp4_shuffled_shards",
    SMP.shuffled_shards,
    f"""
    SELECT doc_id, source,
           {_h60("'shard|' || CAST(doc_id AS VARCHAR)")} % 8 AS shard,
           {_h60("'shard|' || CAST(doc_id AS VARCHAR)")} AS sort_key
    FROM documents
    """,
)

_register(
    "smp5_temperature_mix",
    SMP.temperature_mix,
    rf"""
    WITH docs AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    per_source AS (
        SELECT source, SUM(n_tokens) AS n_s,
               CAST(ROUND(sqrt(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT) AS w_s
        FROM docs GROUP BY source
    ),
    totals AS (
        SELECT SUM(n_s) AS n_total, SUM(w_s) AS w_total FROM per_source
    ),
    rates AS (
        SELECT source, n_s,
               LEAST(1000000, CAST(ROUND(
                   (50 / 100.0) * CAST(n_total AS DOUBLE)
                   * CAST(w_s AS DOUBLE) * 1000000.0
                   / (CAST(w_total AS DOUBLE) * CAST(n_s AS DOUBLE))
               ) AS BIGINT)) AS rate_ppm
        FROM per_source, totals
    )
    SELECT d.doc_id, d.source, d.n_tokens, r.rate_ppm
    FROM docs d JOIN rates r USING (source)
    WHERE {_h60("'tmix|' || CAST(doc_id AS VARCHAR)")} % 1000000 < r.rate_ppm
    """,
)

_register(
    "smp6_sequence_packing",
    SMP.sequence_packing,
    rf"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens,
               {_h60("'pack|' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM d
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(start_tok / 2048.0) AS BIGINT) AS bin_id,
           CAST(start_tok % 2048 AS BIGINT) AS bin_offset
    FROM s
    """,
)

_register(
    "tx6_quality_bins",
    SMP.quality_bins,
    """
    SELECT doc_id, lang, n_chars,
           NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS quality_bin
    FROM documents
    """,
)

# THE one remaining rows-only op, by necessity: HLL/KLL sketch outputs
# are implementation-defined — Spark's approx_count_distinct and DuckDB's
# approx sketches legitimately disagree; the op's contract is the error
# bound, unit-tested against exact counts.
_register("a15_approx_sketch_stats", M.approx_sketch_stats, None)

# a26: KMV distinct-count sketch — a15's deterministic counterpart: the
# k smallest portable hashes pin the sketch AND the estimate under the
# exact oracle gate (an approximate operator, hash-verified; HLL can't
# be). The exact count rides along as the harness's error reference.
_register(
    "a26_kmv_distinct_shingles",
    M.kmv_distinct_shingles,
    f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id, words,
               unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
        FROM w
    ),
    nz AS (
        SELECT DISTINCT array_to_string(words[i:i+2], ' ') AS sh FROM g
    ),
    h AS (
        SELECT ('0x' || substr(md5(sh), 1, 15))::BIGINT
                   / {float(1 << 60)} AS h
        FROM nz
    ),
    kth AS (
        SELECT MAX(h) AS hk, COUNT(*) AS n_kept
        FROM (SELECT h FROM h ORDER BY h ASC LIMIT {M.KMV_K})
    ),
    ex AS (SELECT COUNT(*) AS n_exact FROM nz)
    SELECT CAST({M.KMV_K} AS BIGINT) AS k,
           CAST(n_kept AS BIGINT) AS n_kept,
           ROUND(hk, 9) + 0.0 AS kth_hash,
           CASE WHEN n_kept >= {M.KMV_K}
                THEN ROUND({M.KMV_K - 1} * 1.0 / hk, 3)
                ELSE n_exact::DOUBLE END AS estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM kth, ex
    """,
)


# a27: Count-Min Sketch heavy hitters — a26's frequency counterpart: the
# R x W counter sketch, the point estimates over the exact top-N terms,
# and the CMS overcount (always >= 0) are all portable-hash
# deterministic, so an approximate frequency structure sits under the
# exact oracle gate.
_register(
    "a27_cms_heavy_hitters",
    M.cms_heavy_hitters,
    f"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    cells AS (
        SELECT s.seed,
               {_h60("CAST(s.seed AS VARCHAR) || '|' || term")} % {M.CMS_W}
                   AS bucket
        FROM tok, (VALUES (11), (23), (47), (89)) s(seed)
    ),
    sketch AS (SELECT seed, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
    topn AS (
        SELECT term, COUNT(*) AS n_exact FROM tok GROUP BY term
        ORDER BY n_exact DESC, term ASC LIMIT {M.CMS_TOP_N}
    ),
    probes AS (
        SELECT t.term, t.n_exact, s.seed,
               {_h60("CAST(s.seed AS VARCHAR) || '|' || t.term")} % {M.CMS_W}
                   AS bucket
        FROM topn t, (VALUES (11), (23), (47), (89)) s(seed)
    ),
    est AS (
        SELECT p.term, p.n_exact, MIN(k.cnt) AS est
        FROM probes p JOIN sketch k ON k.seed = p.seed AND k.bucket = p.bucket
        GROUP BY 1, 2
    )
    SELECT term, CAST(est AS BIGINT) AS est_count,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(est - n_exact AS BIGINT) AS overcount
    FROM est
    """,
)

_KMV_PAIRS_SQL = ", ".join(f"('{a}', '{b}')" for a, b in M.KMV_PAIRS)

# a28: KMV cross-source Jaccard — per-source k-minimum-value sketches,
# pairwise overlap estimated from the k smallest of the sketch union;
# the exact Jaccard rides along as the error reference. Deterministic
# portable hashing end to end => exact oracle over an approximate op.
_register(
    "a28_kmv_source_overlap",
    M.kmv_source_overlap,
    f"""
    WITH pairs(src_a, src_b) AS (VALUES {_KMV_PAIRS_SQL}),
    w AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    g AS (
        SELECT source, words,
               unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
        FROM w
    ),
    sh AS (
        SELECT DISTINCT source,
               {_h60("array_to_string(words[i:i+2], ' ')")} AS h
        FROM g
    ),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rn
            FROM sh
        ) WHERE rn <= {M.KMV_K}
    ),
    sk_flags AS (
        SELECT p.src_a, p.src_b, s.h,
               MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
        GROUP BY 1, 2, 3
    ),
    est AS (
        SELECT src_a, src_b, COUNT(*) AS n_kept,
               SUM(in_a * in_b) AS n_both
        FROM (
            SELECT src_a, src_b, h, in_a, in_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY src_a, src_b ORDER BY h ASC
                   ) AS urn
            FROM sk_flags
        ) WHERE urn <= {M.KMV_K}
        GROUP BY 1, 2
    ),
    ex_flags AS (
        SELECT p.src_a, p.src_b, s.h,
               MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sh s ON s.source IN (p.src_a, p.src_b)
        GROUP BY 1, 2, 3
    ),
    ex AS (
        SELECT src_a, src_b,
               ROUND(SUM(in_a * in_b) * 1.0 / COUNT(*), 4) + 0.0
                   AS jaccard_exact
        FROM ex_flags GROUP BY 1, 2
    )
    SELECT e.src_a, e.src_b, CAST({M.KMV_K} AS BIGINT) AS k,
           CAST(e.n_kept AS BIGINT) AS n_kept,
           ROUND(e.n_both * 1.0 / e.n_kept, 4) + 0.0 AS jaccard_est,
           x.jaccard_exact
    FROM est e JOIN ex x ON e.src_a = x.src_a AND e.src_b = x.src_b
    """,
)


_register("d6_dedup_clusters", D.dedup_clusters, OD.DEDUP_CLUSTERS)


# ---------------------------------------------------------------------------
# end-to-end corpus curation (the north-star training-data recipe)
# ---------------------------------------------------------------------------

from .plans.curation import curation_pipeline, curation_stats  # noqa: E402

_SPLIT_H = "('0x' || substr(md5('split|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"

_CURATION_SQL = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({OD.MINHASH_LSH}) lsh
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    canon AS (SELECT node AS doc_id FROM cc GROUP BY node HAVING node = MIN(label)),
    wq AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents),
    m AS (
        SELECT doc_id, len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq,
               CAST(len(words) AS BIGINT) AS n_tokens
        FROM wq
    ),
    scored AS (
        SELECT doc_id, n_tokens,
               ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n)
                     + 0.3 * (1.0 - n_stop / n), 3) AS quality
        FROM m
    )
    SELECT d.doc_id, d.source, s.n_tokens, s.quality,
           CASE WHEN {_SPLIT_H} < 80 THEN 'train'
                WHEN {_SPLIT_H} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d
    JOIN canon USING (doc_id)
    JOIN scored s USING (doc_id)
    WHERE d.lang = 'en' AND s.quality >= 0.5
"""

_register("e2e_curation_pipeline", curation_pipeline, _CURATION_SQL)

_register(
    "e2e_curation_stats",
    curation_stats,
    f"""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(quality), 4) AS avg_quality
    FROM ({_CURATION_SQL}) c GROUP BY split
    """,
)

from .plans.curation import training_export  # noqa: E402

_register(
    "e2e_training_export",
    training_export,
    rf"""
    WITH curated AS ({_CURATION_SQL}),
    train AS (
        SELECT doc_id, n_tokens,
               {_h60("'pack|' || CAST(doc_id AS VARCHAR)")} AS h
        FROM curated WHERE split = 'train'
    ),
    s AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM train
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(start_tok / 2048.0) AS BIGINT) AS bin_id,
           CAST(start_tok % 2048 AS BIGINT) AS bin_offset
    FROM s
    """,
)

_register(
    "j13_local_supplier_volume",
    R.local_supplier_volume,
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation ASC
    """,
)


# Bucketed co-located fact join: same result as a plain join/groupBy (the
# oracle), but the physical plan has zero Exchange nodes — layout replaces
# the shuffle (plans/bucketing.py; shape asserted in test_plan_quality.py).
from .plans.bucketing import bucketed_order_revenue  # noqa: E402

QUERIES["j14_bucketed_order_revenue"] = bucketed_order_revenue
ORACLE_SQL["j14_bucketed_order_revenue"] = """
    SELECT o.o_orderkey AS orderkey, o.o_orderstatus,
           ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
"""

_register(
    "tx7_bpe_token_stats",
    TX.bpe_token_stats,
    """
    WITH q AS (
        SELECT doc_id,
               regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+') AS toks,
               regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents
    )
    SELECT doc_id,
           len(ws)::BIGINT AS n_ws_tokens,
           len(toks)::BIGINT AS n_bpe_tokens,
           len(list_distinct(toks))::BIGINT AS n_uniq_bpe,
           ROUND(len(toks) / GREATEST(len(ws), 1), 3) AS bpe_per_word
    FROM q
    """,
)

# v10: the name of the BLAS exact-kNN tier, kept for the bench series; v5
# now runs the same kernel, so the two share one builder and one oracle.
_register(
    "v10_matmul_knn",
    S.knn_self_join,
    ORACLE_SQL["v5_knn_self_join"],
)

_register(
    "tx8_top_terms",
    TX.top_terms,
    """
    WITH w AS (
        SELECT list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS words
        FROM documents
    )
    SELECT term, COUNT(*) AS doc_freq
    FROM (SELECT unnest(words) AS term FROM w)
    GROUP BY term
    ORDER BY doc_freq DESC, term ASC
    LIMIT 20
    """,
)

_register(
    "tx9_tfidf_terms",
    TX.tfidf_top_terms,
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, ROUND(tf.tf * ln(n.n_docs / df.df), 3) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT * FROM (
        SELECT doc_id, term, tfidf,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
               ) AS INTEGER) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
)

_register(
    "j15_market_share",
    R.market_share,
    """
    WITH cust AS (
        SELECT c_custkey FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    vol AS (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               l_extendedprice * (1.0 - l_discount) AS v,
               n_name AS supp_nation
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN cust ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT CAST(o_year AS INTEGER) AS o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_7' THEN v ELSE 0.0 END) / SUM(v), 4) AS mkt_share,
           ROUND(SUM(v), 2) AS total_volume
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)

_register(
    "a16_parts_supplier_counts",
    R.parts_supplier_counts,
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    LIMIT 20
    """,
)

_register(
    "d5_embedding_neardup",
    D.embedding_neardup_blocked,
    f"""
    WITH e AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
        FROM embeddings
    )
    SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) + 0.0 AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) + 0.0
          >= {D.COSINE_NEARDUP_THRESHOLD}
    """,
)


def _mm3_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm3: the audio branch — payload-sized repartition → overlapping
    window framing (1→N mapInPandas) → feature extraction. Stubbed decode,
    real framing/plumbing; hash-verified end to end (ASCII-hex md5 stub
    chain, SQL-re-derivable)."""
    from .sources.multimodal import (
        documents_as_media,
        extract_features,
        repartition_for_payloads,
        window_audio,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    media = repartition_for_payloads(documents_as_media(docs), target_bytes=1 << 20)
    return _feature_rows(extract_features(window_audio(media)))


QUERIES["mm3_audio_features"] = _mm3_audio_features
ORACLE_SQL["mm3_audio_features"] = f"""
    WITH auds AS (
        SELECT doc_id, md5(text) AS d0, octet_length(encode(text)) AS dur
        FROM documents WHERE doc_id % 3 = 1
    ),
    wins AS (
        SELECT 'm_' || doc_id || '_w' || i.i AS media_id,
               md5(d0 || CAST(i.i AS VARCHAR)) AS wp
        FROM auds, (SELECT unnest(range(0, 5)) AS i) i
        WHERE i.i < least(greatest(greatest(dur - 2000, 0) // 1000 + 1, 1), 5)
    )
    SELECT media_id, 'audio' AS kind, CAST(32 AS BIGINT) AS byte_len,
           md5(wp) AS content_md5,
           CAST(j.j AS BIGINT) AS j,
           CAST(CAST((('0x' || substr(md5(wp), j.j * 2 + 1, 2))::INT) / 255.0
                AS FLOAT4) AS DOUBLE) AS feature_value,
           'stub_decoded' AS decode_status
    FROM wins, (SELECT unnest(range(0, 8)) AS j) j
"""

_register(
    "tx10_surprisal",
    TX.surprisal_score,
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    model AS (SELECT term, COUNT(*) AS ctf FROM toks GROUP BY term),
    n AS (SELECT SUM(ctf) AS total_tokens FROM model)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(ln(n.total_tokens / model.ctf)), 4) AS avg_surprisal
    FROM toks JOIN model USING (term) CROSS JOIN n
    GROUP BY doc_id
    """,
)

_register(
    "a17_pivot_status_year",
    R.pivot_status_by_year,
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           ROUND(SUM(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS total_f,
           ROUND(SUM(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS total_o,
           ROUND(SUM(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS total_p
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)

_register(
    "w8_balance_distribution",
    R.balance_distribution,
    """
    SELECT s_suppkey, s_nationkey,
           ROUND(s_acctbal, 2) AS acctbal,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4) AS cume,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC)
    """,
)

_register(
    "j16_small_qty_revenue",
    R.small_quantity_revenue,
    """
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)

_register(
    "j17_large_volume_orders",
    R.large_volume_orders,
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 2) AS o_totalprice, total_qty
    FROM orders
    JOIN (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300.0
    ) big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, o_orderkey ASC
    LIMIT 100
    """,
)

_register(
    "a18_idle_rich_customers",
    R.idle_rich_customers,
    """
    SELECT c_nationkey, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= DATE '2001-01-01')
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)

_register(
    "d8_fuzzy_part_pairs",
    D.fuzzy_part_pairs,
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_brand AS brand,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)

_register(
    "st5_attributed_purchases",
    E.attributed_purchases,
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           v.ts AS view_ts, p.ts AS purchase_ts,
           ROUND(p.value, 4) AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
    """,
)

# PQ is approximate (codebook argmin + ADC sum) — rows-only driver check;
# recall vs brute force is unit-tested in tests/test_similarity.py.
# v11: PQ is fully SQL-expressible — subspace slicing, codebook argmin
# encode, ADC table, SUM-of-table approximate distance, exact refine.
# Exact at sf0.01 AND sf0.1.
_PQ_SQDIST = "list_sum(list_transform(range(1, 9), i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"

_register(
    "v11_pq_topk",
    S.pq_topk,
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    subs AS (
        SELECT vec_id, s.s AS sub_id, ee[s.s * 8 + 1 : s.s * 8 + 8] AS subvec
        FROM e, (SELECT unnest(range(0, 8)) AS s) s
    ),
    books AS (
        SELECT sub_id, vec_id AS code, subvec AS cvec FROM subs WHERE vec_id < 16
    ),
    encoded AS (
        SELECT vec_id, sub_id, code FROM (
            SELECT s.vec_id, s.sub_id, b.code,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.sub_id
                       ORDER BY {_PQ_SQDIST.format(a='s.subvec', b='b.cvec')} ASC,
                                b.code ASC) AS rn
            FROM subs s JOIN books b USING (sub_id)
        ) WHERE rn = 1
    ),
    qsubs AS (
        SELECT s.s AS sub_id, q.qe[s.s * 8 + 1 : s.s * 8 + 8] AS qsub
        FROM q, (SELECT unnest(range(0, 8)) AS s) s
    ),
    adc AS (
        SELECT b.sub_id, b.code, {_PQ_SQDIST.format(a='b.cvec', b='qs.qsub')} AS qd
        FROM books b JOIN qsubs qs USING (sub_id)
    ),
    cands AS (
        SELECT enc.vec_id FROM encoded enc JOIN adc USING (sub_id, code)
        GROUP BY enc.vec_id HAVING enc.vec_id <> 0
        ORDER BY ROUND(SUM(qd), 9) ASC, enc.vec_id ASC
        LIMIT 32
    )
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(e.ee, q.qe), 3) + 0.0 AS cos_sim
    FROM e JOIN cands c ON e.vec_id = c.vec_id, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 8
    """,
)

# IVF+PQ composed (residual quantization within probed cells): the whole
# index — coarse assignment, residual codebooks, per-cell ADC tables,
# SUM-of-table scoring, exact refine — re-derived in SQL. Exact at sf0.01
# AND sf0.1; recall additionally unit-tested vs brute force.
_SQ64 = "list_sum(list_transform(range(1, 65), i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"

_IVFPQ_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings),
q AS (SELECT ee AS qe FROM e WHERE vec_id = 0),
cents AS (SELECT vec_id AS cid, ee AS ce FROM e WHERE vec_id < 16),
assigned AS (
    SELECT vec_id, ee, cid FROM (
        SELECT e.vec_id, e.ee, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_SQ64.format(a='e.ee', b='c.ce')} ASC, c.cid ASC) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn = 1
),
head_cid AS (
    SELECT code, ee, ce FROM (
        SELECT h.vec_id AS code, h.ee, c.ce,
               ROW_NUMBER() OVER (PARTITION BY h.vec_id
                   ORDER BY {_SQ64.format(a='h.ee', b='c.ce')} ASC, c.cid ASC) AS rn
        FROM (SELECT vec_id, ee FROM e WHERE vec_id < 16) h CROSS JOIN cents c
    ) WHERE rn = 1
),
books AS (
    SELECT code, s.s AS sub_id,
           list_transform(range(1, 9), i -> h.ee[s.s * 8 + i] - h.ce[s.s * 8 + i]) AS cvec
    FROM head_cid h, (SELECT unnest(range(0, 8)) AS s) s
),
probed AS (
    SELECT cid, ce, ppos FROM (
        SELECT c.cid, c.ce,
               ROW_NUMBER() OVER (ORDER BY {_SQ64.format(a='q.qe', b='c.ce')} ASC, c.cid ASC) AS ppos
        FROM cents c, q
    ) WHERE ppos <= 4
),
qd AS (
    SELECT p.cid, b.sub_id, b.code,
           list_sum(list_transform(range(1, 9), i ->
               ((q.qe[b.sub_id * 8 + i] - p.ce[b.sub_id * 8 + i]) - b.cvec[i])
             * ((q.qe[b.sub_id * 8 + i] - p.ce[b.sub_id * 8 + i]) - b.cvec[i]))) AS qdist
    FROM probed p, books b, q
),
codes AS (
    SELECT vec_id, cid, sub_id, code FROM (
        SELECT a.vec_id, a.cid, b.sub_id, b.code,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id, b.sub_id
                   ORDER BY list_sum(list_transform(range(1, 9), i ->
                       ((a.ee[b.sub_id * 8 + i] - c.ce[b.sub_id * 8 + i]) - b.cvec[i])
                     * ((a.ee[b.sub_id * 8 + i] - c.ce[b.sub_id * 8 + i]) - b.cvec[i]))) ASC,
                   b.code ASC) AS rn
        FROM assigned a
        JOIN probed c ON a.cid = c.cid
        CROSS JOIN books b
        WHERE a.vec_id <> 0
    ) WHERE rn = 1
),
cands AS (
    SELECT cd.vec_id FROM codes cd
    JOIN qd ON qd.cid = cd.cid AND qd.sub_id = cd.sub_id AND qd.code = cd.code
    GROUP BY cd.vec_id
    ORDER BY ROUND(SUM(qd.qdist), 9) ASC, cd.vec_id ASC
    LIMIT 32
)
SELECT e.vec_id, e.label,
       ROUND(list_cosine_similarity(e.ee, q.qe), 3) + 0.0 AS cos_sim
FROM e JOIN cands c ON e.vec_id = c.vec_id, q
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 8
"""

_register("v17_ivfpq_topk", S.ivfpq_topk, _IVFPQ_ORACLE)

# v20: the name of IVFPQ's numpy tier, kept for the bench series; v17 now
# runs the same kernel, so the two share one builder and one oracle.
_register("v20_ivfpq_topk_np", S.ivfpq_topk, _IVFPQ_ORACLE)

_register(
    "u3_changed_concat",
    RF.changed_objects_union,
    """
    WITH processed AS (
        SELECT user_id AS obj_key, MAX(ts) AS p_mtime, COUNT(*) AS p_etag
        FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
        GROUP BY user_id
    ),
    current AS (
        SELECT user_id AS obj_key, MAX(ts) AS mtime, COUNT(*) AS etag,
               ROUND(SUM(value), 4) AS size
        FROM events GROUP BY user_id
    ),
    diffed AS (
        SELECT c.obj_key, c.etag, c.size,
               CASE
                 WHEN p.p_etag IS NULL THEN 'new'
                 WHEN c.etag <> p.p_etag OR c.mtime <> p.p_mtime THEN 'modified'
                 ELSE 'unchanged'
               END AS status
        FROM current c LEFT JOIN processed p ON c.obj_key = p.obj_key
    )
    SELECT * FROM diffed WHERE status = 'new'
    UNION ALL
    SELECT * FROM diffed WHERE status = 'modified'
    """,
)

_register(
    "f2_whitespace_normalize",
    M.whitespace_normalize,
    r"""
    SELECT doc_id,
           CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS BIGINT)
               AS norm_len,
           md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_md5
    FROM documents
    """,
)

_register(
    "f13_casefold_lookup",
    M.casefold_lookup,
    """
    SELECT v.probe, n.n_name, n.n_nationkey
    FROM nation n
    JOIN (VALUES ('nation_3'), ('Nation_7'), ('NATION_12'), ('nAtIoN_21'),
                 ('nation_99'))
         v(probe)
      ON lower(n.n_name) = lower(v.probe)
    """,
)

_register(
    "tx11_repetition_stats",
    TX.repetition_stats,
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents
    ),
    top AS (
        SELECT doc_id, MAX(cnt) AS top_word_n, SUM(cnt) AS total_n
        FROM (
            SELECT doc_id, word, COUNT(*) AS cnt FROM toks GROUP BY doc_id, word
        ) GROUP BY doc_id
    ),
    arr AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CASE WHEN len(w) > 1 THEN
                   list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || '_' || w[i + 1])
               ELSE [] END AS bigrams
        FROM arr
    )
    SELECT b.doc_id, b.n_tokens,
           CASE WHEN len(b.bigrams) > 0 THEN
               ROUND(1.0 - len(list_distinct(b.bigrams)) / CAST(len(b.bigrams) AS DOUBLE), 3)
           ELSE 0.0 END AS dup_bigram_frac,
           t.top_word_n,
           ROUND(CAST(t.top_word_n AS DOUBLE) / t.total_n, 3) AS top_word_frac
    FROM bg b JOIN top t USING (doc_id)
    """,
)

_register(
    "v12_ann_recall",
    S.ann_recall,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT cid, query_id, qe FROM (
            SELECT c.cid, qq.query_id, qq.qe,
                   ROW_NUMBER() OVER (
                       PARTITION BY qq.query_id
                       ORDER BY list_distance(c.ce, qq.qe) ASC, c.cid ASC
                   ) AS rn
            FROM cents c CROSS JOIN q qq
        ) WHERE rn <= 4
    ),
    ivf AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY ROUND(list_cosine_similarity(a.ee, p.qe), 3) + 0.0 DESC,
                                a.vec_id ASC
                   ) AS rnk
            FROM assigned a JOIN probe p ON a.cid = p.cid
            WHERE a.vec_id <> p.query_id
        ) WHERE rnk <= 3
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 DESC,
                                e.vec_id ASC
                   ) AS rnk
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ) WHERE rnk <= 3
    )
    SELECT e.query_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
           ROUND(COUNT(i.vec_id) / 3.0, 3) AS recall_at_k
    FROM exact e LEFT JOIN ivf i
      ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    GROUP BY e.query_id
    """,
)


def _st6_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL Structured Streaming plan (watermark + availableNow →
    memory sink) and hash-checks it against the same SQL oracle as the batch
    twin st1 — proving streaming-batch equivalence inside the gate, not just
    in unit tests."""
    from .streaming.event_stream import run_tumbling_counts_batch

    return run_tumbling_counts_batch(spark, sf_dir)


QUERIES["st6_streaming_tumbling_counts"] = _st6_streaming_tumbling
ORACLE_SQL["st6_streaming_tumbling_counts"] = """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY 1, 2
"""


def _st7_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL session_window streaming plan (availableNow → memory
    sink) and hash-checks it against the gap-based batch sessionize oracle —
    completing §2.9 streaming parity: st2/st3 prove the batch form, st7
    proves the incremental form produces the same sessions."""
    from .streaming.event_stream import run_sessionize_batch

    return run_sessionize_batch(spark, sf_dir)


QUERIES["st7_streaming_sessionize"] = _st7_streaming_sessionize


def _s5_deep_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 deep parse driven end-to-end on synthesized binary files (document
    text bytes as payloads, extensions rotating through txt/md/pdf): the
    converter tier resolves per partition (docling absent here → the stub
    double), markdown comes back per file, and the result is digested so the
    rows-only check stays deterministic. Real plumbing, stubbed kernel —
    the same contract shape as the multimodal DECODERS."""
    from pyspark.sql import functions as F

    from .sources.deep_parse import deep_parse_documents

    docs = load_tables(spark, sf_dir)["documents"]
    ext = F.element_at(
        F.array(F.lit("txt"), F.lit("md"), F.lit("pdf")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    files = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id"), F.lit("."), ext).alias("path"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    parsed = deep_parse_documents(files, parsing_mode="deep")
    return parsed.select(
        "path",
        "parser",
        "status",
        F.length("page_content").cast("long").alias("n_chars"),
        F.md5("page_content").alias("content_md5"),
    )


QUERIES["s5_deep_parse"] = _s5_deep_parse
# The oracle encodes the STUB converter tier (docling absent in this
# container, so the dispatch deterministically lands on _stub_markdown);
# in a docling-equipped environment the op produces real converter output
# and this oracle would not apply. Exact at sf0.01 AND sf0.1.
ORACLE_SQL["s5_deep_parse"] = """
    WITH base AS (
        SELECT doc_id, text, ['txt','md','pdf'][(doc_id % 3) + 1] AS ext FROM documents
    ),
    built AS (
        SELECT doc_id, ext,
               '# doc_' || doc_id || '.' || ext || chr(10) || chr(10)
               || trim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))
               || chr(10) || chr(10) || '| table | structure |' || chr(10)
               || '| --- | --- |' || chr(10)
               || '| placeholder | ' || substr(md5(text), 1, 12) || ' |' AS pc
        FROM base
    )
    SELECT 'doc_' || doc_id || '.' || ext AS path,
           'stub' AS parser, 'ok' AS status,
           CAST(length(pc) AS BIGINT) AS n_chars,
           md5(pc) AS content_md5
    FROM built
"""


# IVF over the cid-partitioned store layout: identical results (and
# oracles) to v7/v8 — the probe becomes a pruned partition scan / a
# layout-served join, proving the write-path half of the ANN scale story.
from .plans.bucketing import clustered_ivf_knn_join, clustered_ivf_topk  # noqa: E402

QUERIES["v13_clustered_ivf_topk"] = clustered_ivf_topk
ORACLE_SQL["v13_clustered_ivf_topk"] = ORACLE_SQL["v7_ivf_topk"]
QUERIES["v15_clustered_ivf_knn_join"] = clustered_ivf_knn_join
ORACLE_SQL["v15_clustered_ivf_knn_join"] = ORACLE_SQL["v8_ivf_knn_join"]

_register(
    "v16_range_search_pruned",
    S.range_search,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_distance(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS dist
    FROM embeddings e, q
    WHERE e.vec_id <> 0
      AND ROUND(list_distance(e.embedding::DOUBLE[], q.qe), 3) + 0.0 <= 1.2
    """,
)

# v16b: the stored-layout serving twin of v16 — the pruning bound reads
# the per-cell radii written WITH the clustered store (a table statistic,
# not a per-query aggregation), and live cells resolve to a literal
# partition filter. Same brute-force oracle: pruning is conservative,
# recall 1.0 by construction.
from .plans.bucketing import clustered_range_search  # noqa: E402

QUERIES["v16b_clustered_range_search"] = clustered_range_search
ORACLE_SQL["v16b_clustered_range_search"] = ORACLE_SQL["v16_range_search_pruned"]

# v23: scalar-quantized (SQ8) serving tier — deterministic max-abs
# quantization, so the oracle reproduces codes + reconstruction exactly
# (approximation encoded in the oracle, like d3c/v22).
_register(
    "v23_sq8_topk",
    S.sq8_topk,
    f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    sc AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   / {S.SQ8_LEVELS} AS scale
        FROM embeddings
    ),
    codes AS (
        -- cosine is scale-invariant: scoring the int codes == scoring the
        -- reconstruction (codes*scale), so neither engine dequantizes
        SELECT vec_id, label,
               CASE WHEN scale > 0
                    THEN list_transform(e, x -> round(x / scale))
                    ELSE list_transform(e, x -> 0.0) END AS c
        FROM sc
    )
    SELECT vec_id, label,
           ROUND(list_cosine_similarity(c, qv), 3) + 0.0 AS cos_sim
    FROM codes, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT {S.TOP_K}
    """,
)

# v24: the quantized clustered store — v13's partition-pruned probe over
# v23's SQ8 codes; pruning and compression composed. Deterministic
# quantization + deterministic probe, so the oracle reproduces the exact
# served set (approximation inside the oracle).
from .plans.bucketing import quantized_clustered_topk  # noqa: E402

QUERIES["v24_quantized_clustered_topk"] = quantized_clustered_topk
ORACLE_SQL["v24_quantized_clustered_topk"] = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sc AS (
        SELECT vec_id, label, cid, ee,
               list_max(list_transform(ee, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS scale
        FROM assigned
    ),
    qcodes AS (
        SELECT vec_id, label, cid,
               CASE WHEN scale > 0
                    THEN list_transform(ee, x -> round(x / scale))
                    ELSE list_transform(ee, x -> 0.0) END AS c
        FROM sc
    ),
    probe AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
        LIMIT 4
    )
    SELECT a.vec_id, a.label, a.cid,
           ROUND(list_cosine_similarity(a.c, q.qe), 3) + 0.0 AS cos_sim
    FROM qcodes a JOIN probe p ON a.cid = p.cid, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 8
"""

# v25: range search over the quantized clustered store with STORED
# per-cell radii — v16b x v24 composed (layout prunes, quantization
# carries the bandwidth). Both approximations (raw-geometry pruning bound,
# reconstructed distances) are deterministic, so the oracle recomputes
# radii, live set, codes, and distances end to end — the served set is
# hash-verified WITH its approximation.
from .plans.bucketing import quantized_range_search  # noqa: E402
from .operators.similarity import RANGE_PRUNE_EPS, RANGE_RADIUS  # noqa: E402

QUERIES["v25_quantized_range_search"] = quantized_range_search
ORACLE_SQL["v25_quantized_range_search"] = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    radii AS (
        SELECT a.cid, ROUND(MAX(list_distance(a.ee, c.ce)), 9) + 0.0 AS r_cell
        FROM assigned a JOIN cents c ON a.cid = c.cid
        GROUP BY a.cid
    ),
    live AS (
        SELECT c.cid FROM cents c JOIN radii r ON c.cid = r.cid, q
        WHERE ROUND(list_distance(c.ce, q.qe), 9) - r.r_cell
              <= {RANGE_RADIUS + RANGE_PRUNE_EPS}
    ),
    sc AS (
        SELECT vec_id, label, cid, ee,
               list_max(list_transform(ee, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS scale
        FROM assigned
    ),
    qcodes AS (
        SELECT vec_id, label, cid, scale,
               CASE WHEN scale > 0
                    THEN list_transform(ee, x -> round(x / scale))
                    ELSE list_transform(ee, x -> 0.0) END AS c
        FROM sc
    )
    SELECT a.vec_id, a.label,
           ROUND(list_distance(list_transform(a.c, x -> x * a.scale), q.qe),
                 3) + 0.0 AS dist
    FROM qcodes a JOIN live p ON a.cid = p.cid, q
    WHERE a.vec_id <> 0
      AND ROUND(list_distance(list_transform(a.c, x -> x * a.scale), q.qe),
                3) + 0.0 <= {RANGE_RADIUS}
"""

# v26: batch kNN join over the QUANTIZED clustered store — the serving
# matrix's last cell ({single,batch} × {raw,SQ8}): v15's batched probe
# (per-query window over broadcast centroids, DPP into the partitioned
# scan) composed with v23/v24's SQ8 scoring. Every approximation is
# deterministic, so the oracle reproduces codes, per-query probes, and
# the served per-query top-k end to end.
from .plans.bucketing import quantized_ivf_knn_join  # noqa: E402

QUERIES["v26_quantized_ivf_knn_join"] = quantized_ivf_knn_join
ORACLE_SQL["v26_quantized_ivf_knn_join"] = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sc AS (
        SELECT vec_id, label, cid, ee,
               list_max(list_transform(ee, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS scale
        FROM assigned
    ),
    qcodes AS (
        SELECT vec_id, label, cid,
               CASE WHEN scale > 0
                    THEN list_transform(ee, x -> round(x / scale))
                    ELSE list_transform(ee, x -> 0.0) END AS c
        FROM sc
    ),
    probe AS (
        SELECT cid, query_id, qe FROM (
            SELECT c.cid, q.query_id, q.qe,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
                   ) AS rn
            FROM cents c CROSS JOIN q
        ) WHERE rn <= 4
    ),
    scored AS (
        SELECT p.query_id, a.vec_id, a.label, a.cid,
               ROUND(list_cosine_similarity(a.c, p.qe), 3) + 0.0 AS cos_sim
        FROM qcodes a JOIN probe p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, label, cid, cos_sim FROM (
        SELECT scored.*, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
        ) AS rnk
        FROM scored
    ) WHERE rnk <= 3
"""

# v27: residual SQ8 — the FAISS IVF-SQ by_residual configuration: codes
# quantize (x − centroid[cid]) so the 8-bit grid spans the CELL, not the
# corpus. Read path reconstructs x̂ = ce + rcodes·rscale against the
# broadcast centroid model, then scores like v5. All arithmetic is
# deterministic, so the oracle reproduces residuals, codes, the probe,
# the reconstruction, and the exact served set (the d3c/v22/v24 move).
_register(
    "v27_residual_sq8_topk",
    S.residual_sq8_topk,
    f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT a.vec_id, a.label, a.cid, c.ce,
               list_transform(generate_series(1, len(a.ee)),
                              i -> a.ee[i] - c.ce[i]) AS r
        FROM assigned a JOIN cents c ON a.cid = c.cid
    ),
    sc AS (
        SELECT vec_id, label, cid, ce, r,
               list_max(list_transform(r, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS rscale
        FROM resid
    ),
    rcodes AS (
        SELECT vec_id, label, cid, ce, rscale,
               CASE WHEN rscale > 0
                    THEN list_transform(r, x -> round(x / rscale))
                    ELSE list_transform(r, x -> 0.0) END AS rc
        FROM sc
    ),
    probe AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
        LIMIT 4
    ),
    recon AS (
        SELECT a.vec_id, a.label, a.cid,
               list_transform(generate_series(1, len(a.rc)),
                              i -> a.ce[i] + a.rc[i] * a.rscale) AS xr
        FROM rcodes a JOIN probe p ON a.cid = p.cid
    )
    SELECT a.vec_id, a.label, a.cid,
           ROUND(list_cosine_similarity(a.xr, q.qe), 3) + 0.0 AS cos_sim
    FROM recon a, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT {S.TOP_K}
    """,
)

# st21: the streaming serving twin of v26 — foreachBatch runs the SAME
# factored serve tail per query micro-batch; per-query independence makes
# the batch op the exact oracle (shared SQL below).
def _st21_streaming_knn_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_knn_serving

    return streaming_knn_serving(spark, sf_dir)


QUERIES["st21_streaming_knn_serving"] = _st21_streaming_knn_serving
ORACLE_SQL["st21_streaming_knn_serving"] = ORACLE_SQL["v26_quantized_ivf_knn_join"]

# v27b: v27 over its STORED residual-quantized layout — the physical-
# form twin (v7/v13 pattern): literal partition-pruned probe over int8
# residual codes, reconstruction against the broadcast model. Identical
# served set ⇒ shared oracle.
from .plans.bucketing import residual_clustered_topk  # noqa: E402

QUERIES["v27b_residual_clustered_topk"] = residual_clustered_topk
ORACLE_SQL["v27b_residual_clustered_topk"] = ORACLE_SQL["v27_residual_sq8_topk"]

# v28: the quantization family's quality harness — per-tier (direct vs
# residual SQ8) reconstruction-error envelope + served top-k recall vs
# the exact flat answer. Deterministic arithmetic end to end, so the
# 2-row report is hash-verified (the d21/d22 "measure the approximation
# you ship" move applied to the storage tiers).
_register(
    "v28_quantization_error_curve",
    S.quantization_error_curve,
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    ex AS (
        SELECT vec_id FROM (
            SELECT e.vec_id,
                   ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3)
                       + 0.0 AS s
            FROM embeddings e, q WHERE e.vec_id <> 0
        ) ORDER BY s DESC, vec_id ASC LIMIT {S.TOP_K}
    ),
    dsc AS (
        SELECT vec_id, embedding::DOUBLE[] AS ee,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   / {S.SQ8_LEVELS} AS scale
        FROM embeddings
    ),
    dcodes AS (
        SELECT vec_id, ee, scale,
               CASE WHEN scale > 0
                    THEN list_transform(ee, x -> round(x / scale))
                    ELSE list_transform(ee, x -> 0.0) END AS c
        FROM dsc
    ),
    derr AS (
        SELECT vec_id, c,
               CASE WHEN scale > 0
                    THEN list_max(list_transform(
                        ee, x -> abs(x - round(x / scale) * scale)))
                    ELSE 0.0 END AS e
        FROM dcodes
    ),
    dstats AS (
        SELECT ROUND(AVG(e), 9) + 0.0 AS mean_err,
               ROUND(MAX(e), 9) + 0.0 AS max_err
        FROM derr
    ),
    dtop AS (
        SELECT vec_id FROM (
            SELECT d.vec_id,
                   ROUND(list_cosine_similarity(d.c, q.qe), 3) + 0.0 AS s
            FROM derr d, q WHERE d.vec_id <> 0
        ) ORDER BY s DESC, vec_id ASC LIMIT {S.TOP_K}
    ),
    drecall AS (
        SELECT COUNT(*) * 1.0 / {S.TOP_K} AS recall
        FROM dtop JOIN ex ON dtop.vec_id = ex.vec_id
    ),
    cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT a.vec_id, a.ee, c.ce,
               list_transform(generate_series(1, len(a.ee)),
                              i -> a.ee[i] - c.ce[i]) AS r
        FROM assigned a JOIN cents c ON a.cid = c.cid
    ),
    rsc AS (
        SELECT vec_id, ee, ce, r,
               list_max(list_transform(r, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS rscale
        FROM resid
    ),
    rrecon AS (
        SELECT vec_id, ee,
               CASE WHEN rscale > 0
                    THEN list_transform(generate_series(1, len(r)),
                         i -> ce[i] + round(r[i] / rscale) * rscale)
                    ELSE ce END AS xr
        FROM rsc
    ),
    rerr AS (
        SELECT vec_id, xr,
               list_max(list_transform(generate_series(1, len(ee)),
                                       i -> abs(ee[i] - xr[i]))) AS e
        FROM rrecon
    ),
    rstats AS (
        SELECT ROUND(AVG(e), 9) + 0.0 AS mean_err,
               ROUND(MAX(e), 9) + 0.0 AS max_err
        FROM rerr
    ),
    rtop AS (
        SELECT vec_id FROM (
            SELECT r.vec_id,
                   ROUND(list_cosine_similarity(r.xr, q.qe), 3) + 0.0 AS s
            FROM rerr r, q WHERE r.vec_id <> 0
        ) ORDER BY s DESC, vec_id ASC LIMIT {S.TOP_K}
    ),
    rrecall AS (
        SELECT COUNT(*) * 1.0 / {S.TOP_K} AS recall
        FROM rtop JOIN ex ON rtop.vec_id = ex.vec_id
    )
    SELECT 'sq8_direct' AS tier, mean_err, max_err, recall
    FROM dstats, drecall
    UNION ALL
    SELECT 'sq8_residual' AS tier, mean_err, max_err, recall
    FROM rstats, rrecall
    """,
)

# v21: runtime (dynamic) partition pruning — the probe cell set is a
# computed DataFrame, injected into the partitioned scan as a
# dynamicpruningexpression (plan-tested); the literal-filter twin is v13.
from .plans.bucketing import dpp_cell_stats  # noqa: E402

QUERIES["v21_dpp_cell_stats"] = dpp_cell_stats
ORACLE_SQL["v21_dpp_cell_stats"] = """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS cid FROM embeddings WHERE vec_id < 16 AND label = 1
    )
    SELECT a.cid, COUNT(*) AS n_vecs,
           MAX(ROUND(list_cosine_similarity(a.ee, q.qe), 3) + 0.0) AS best_sim
    FROM assigned a JOIN probe p ON a.cid = p.cid, q
    WHERE a.vec_id <> 0
    GROUP BY a.cid
"""

# ---------------------------------------------------------------------------
# round-3 curation extensions: PII redaction, benchmark decontamination,
# grouping sets, streaming dedup index
# ---------------------------------------------------------------------------

_register(
    "tx12_pii_redaction",
    TX.pii_redaction,
    r"""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact u' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
        FROM documents
    ),
    red AS (
        SELECT doc_id, s,
               regexp_replace(
                   regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                  '[EMAIL]', 'g'),
                   '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted
        FROM synth
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(s, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM red
    """,
)

_register(
    "d12_decontamination",
    D.decontamination,
    f"""
    WITH {OD._SHINGLES_CTE},
    bench AS (
        SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % {D.DECON_BENCH_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, shingle FROM sh WHERE doc_id % {D.DECON_BENCH_MOD} <> 0
    ),
    overlap AS (
        SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY 1, 2
        HAVING COUNT(*) >= {D.DECON_MIN_OVERLAP}
    )
    SELECT doc_id, COUNT(*) AS n_bench_hits, MAX(n_shared) AS max_overlap
    FROM overlap GROUP BY doc_id
    """,
)

_register(
    "j18_late_order_priority",
    R.late_order_priority,
    """
    SELECT o_orderpriority, COUNT(*) AS n_late_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

_register(
    "j19_returned_item_revenue",
    R.returned_item_revenue,
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)

_register(
    "a20_forecast_revenue",
    R.forecast_revenue,
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS forecast_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

_register(
    "a19_grouping_sets",
    M.grouping_sets_revenue,
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)


def _st8_streaming_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup index: the content-hash bookkeeping an always-on
    ingest maintains incrementally — per md5(text): canonical (min) doc_id
    and copy count, run as a REAL streaming aggregation (availableNow →
    memory sink) and hash-checked against the batch GROUP BY oracle. The
    incremental twin of d1's first-wins rule: canonical = min id."""
    import uuid

    from pyspark.sql import functions as F

    from .streaming.event_stream import documents_stream, run_to_memory

    docs = documents_stream(spark, sf_dir)
    plan = docs.groupBy(F.md5("text").alias("content_md5")).agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    name = f"st_dedup_{uuid.uuid4().hex[:12]}"
    return run_to_memory(spark, plan, name, timeout_sec=300)


_register(
    "v14_hybrid_rrf_topk",
    S.hybrid_rrf_topk,
    """
    WITH kw AS (
        SELECT doc_id, kw_score,
               CAST(ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id ASC) AS INTEGER) AS r_kw
        FROM (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, 'window'))
                      + len(regexp_extract_all(text, 'stream'))
                      + len(regexp_extract_all(text, 'join')) AS BIGINT) AS kw_score
            FROM documents
        )
        ORDER BY kw_score DESC, doc_id ASC LIMIT 50
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
        SELECT doc_id, cos_sim,
               CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS INTEGER) AS r_vec
        FROM (
            SELECT e.vec_id AS doc_id,
                   ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 3) + 0.0 AS cos_sim
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
        )
        ORDER BY cos_sim DESC, doc_id ASC LIMIT 50
    )
    SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + r_kw), 0) + COALESCE(1.0 / (60 + r_vec), 0), 6) AS rrf_score,
           r_kw, r_vec
    FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
    ORDER BY rrf_score DESC, doc_id ASC LIMIT 8
    """,
)

QUERIES["st8_streaming_dedup_index"] = _st8_streaming_dedup_index
ORACLE_SQL["st8_streaming_dedup_index"] = """
    SELECT md5(text) AS content_md5, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
"""
ORACLE_SQL["st7_streaming_sessionize"] = """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS session_value
    FROM numbered GROUP BY user_id, session_seq
"""


_T6_ORACLE = r"""
    WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    toks AS (
        SELECT doc_id, i - 1 AS seq, w[i] AS chunk
        FROM arr, unnest(generate_series(1, len(w))) AS t(i)
    )
    SELECT doc_id AS session_id,
           string_agg(chunk, ' ' ORDER BY seq) AS message,
           CAST(COUNT(*) AS BIGINT) AS completion_tokens,
           CAST(SUM(len(chunk)) AS BIGINT) AS completion_chars
    FROM toks GROUP BY doc_id
"""


def _t6_token_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 SSE token streaming, batch form: per-session ordered chunk
    reassembly + usage fold (runtime/langgraph/session.py:50-110); the
    order-by-seq concat is hash-checked against a string_agg oracle."""
    from .streaming.token_stream import token_assembly

    return token_assembly(load_tables(spark, sf_dir))


QUERIES["t6_token_stream_assembly"] = _t6_token_assembly
ORACLE_SQL["t6_token_stream_assembly"] = _T6_ORACLE


def _st10_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join (purchases × customer → per-segment
    rollup) run as a REAL streaming query — the enrichment shape §2.9 lacked;
    hash-checked against the equivalent batch join SQL."""
    from .streaming.event_stream import run_segment_purchases_stream

    return run_segment_purchases_stream(spark, sf_dir)


QUERIES["st10_stream_static_enrichment"] = _st10_stream_static_enrichment
ORACLE_SQL["st10_stream_static_enrichment"] = """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_purchases,
           ROUND(SUM(e.value), 4) AS purchase_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
"""


def _st9_streaming_token_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 streaming twin: the REAL streaming aggregation (complete mode,
    availableNow → memory sink) hash-checked against the same string_agg
    oracle — token-by-token message assembly as an incremental operator."""
    from .streaming.token_stream import run_token_assembly_stream

    return run_token_assembly_stream(spark, sf_dir)


QUERIES["st9_streaming_token_assembly"] = _st9_streaming_token_assembly
ORACLE_SQL["st9_streaming_token_assembly"] = _T6_ORACLE


_register(
    "st11_funnel_steps",
    E.funnel_steps,
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS step_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS step_ts FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.step_ts
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS step_ts FROM events e
        JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.step_ts
        WHERE e.event_type = 'signup' GROUP BY e.user_id
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS step_ts FROM events e
        JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.step_ts
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    steps AS (
        SELECT '1_view' AS step, COUNT(*) AS n_users FROM s1
        UNION ALL SELECT '2_click', COUNT(*) FROM s2
        UNION ALL SELECT '3_signup', COUNT(*) FROM s3
        UNION ALL SELECT '4_purchase', COUNT(*) FROM s4
    )
    SELECT step, n_users,
           ROUND(n_users / FIRST_VALUE(n_users) OVER (ORDER BY step), 4) AS pct_of_first,
           ROUND(n_users / COALESCE(LAG(n_users) OVER (ORDER BY step), n_users), 4) AS pct_of_prev
    FROM steps
    """,
)

# F17: the chunker as a REAL Python UDTF (lateral table function) —
# §2.10's extension-point mechanism demonstrated literally; bit-identical
# contract to tx5, so it shares tx5's oracle.
_register("f17_chunk_udtf", TX.chunk_documents_udtf, None)
ORACLE_SQL["f17_chunk_udtf"] = ORACLE_SQL["tx5_chunk_documents"]

_register(
    "d14_crossencoder_rerank",
    S.crossencoder_rerank,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    stage1 AS (
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id ASC
        LIMIT 20
    )
    SELECT vec_id, cos_sim,
           ROUND((('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0, 3)
               AS cross_score
    FROM stage1
    ORDER BY cross_score DESC, vec_id ASC
    LIMIT 8
    """,
)

def _ann_recall_block(p: int) -> str:
    """Per-n_probe aggregated recall block for the v19 operating curve —
    the v12 oracle with the probe width parameterized and the per-query
    rows collapsed to (mean, min, total)."""
    return f"""
    SELECT {p} AS n_probe,
           ROUND(AVG(recall_at_k), 3) AS mean_recall,
           ROUND(MIN(recall_at_k), 3) AS min_recall,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits
    FROM (
        WITH cents AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
            FROM embeddings WHERE vec_id < 16
        ),
        q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
            FROM embeddings WHERE vec_id < 20
        ),
        assigned AS (
            SELECT vec_id, ee, cid FROM (
                SELECT e.vec_id, e.ee, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                       ) AS rn
                FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
                CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT cid, query_id, qe FROM (
                SELECT c.cid, qq.query_id, qq.qe,
                       ROW_NUMBER() OVER (
                           PARTITION BY qq.query_id
                           ORDER BY list_distance(c.ce, qq.qe) ASC, c.cid ASC
                       ) AS rn
                FROM cents c CROSS JOIN q qq
            ) WHERE rn <= {p}
        ),
        ivf AS (
            SELECT query_id, vec_id FROM (
                SELECT p.query_id, a.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.query_id
                           ORDER BY ROUND(list_cosine_similarity(a.ee, p.qe), 3) + 0.0 DESC,
                                    a.vec_id ASC
                       ) AS rnk
                FROM assigned a JOIN probe p ON a.cid = p.cid
                WHERE a.vec_id <> p.query_id
            ) WHERE rnk <= 3
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, e.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 DESC,
                                    e.vec_id ASC
                       ) AS rnk
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            ) WHERE rnk <= 3
        )
        SELECT e.query_id,
               CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
               ROUND(COUNT(i.vec_id) / 3.0, 3) AS recall_at_k
        FROM exact e LEFT JOIN ivf i
          ON e.query_id = i.query_id AND e.vec_id = i.vec_id
        GROUP BY e.query_id
    )
    """


_register(
    "v19_ann_operating_curve",
    S.ann_operating_curve,
    "\nUNION ALL\n".join(_ann_recall_block(p) for p in (1, 2, 4, 8)),
)

# d3c: the PRODUCTION LSH configuration — bucket cap ON and encoded in the
# oracle itself, so the skew-guarded form is hash-verified directly (d3
# stays the exact-candidates baseline; SCALE.md finding 3 is the measured
# difference between them at 16x corpus).
_register(
    "d3c_minhash_lsh_capped",
    lambda t: D.minhash_lsh_pairs(t, max_bucket_size=D.LSH_MAX_BUCKET_DEFAULT),
    OD.minhash_lsh_capped(D.LSH_MAX_BUCKET_DEFAULT),
)

# d21: dedup-quality measurement — the v12 harness replayed for LSH.
# Embeds the d2 (exact Jaccard) and d3c (capped LSH) oracle SQL verbatim.
_register(
    "d21_lsh_recall",
    lambda t: D.lsh_recall(t, max_bucket_size=D.LSH_MAX_BUCKET_DEFAULT),
    f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({OD.NGRAM_JACCARD}) x),
    l AS (SELECT doc_a, doc_b
          FROM ({OD.minhash_lsh_capped(D.LSH_MAX_BUCKET_DEFAULT)}) y),
    j AS (
        SELECT CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS ie,
               CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS il
        FROM e FULL OUTER JOIN l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST(COALESCE(SUM(ie), 0) AS BIGINT) AS n_exact_pairs,
           CAST(COALESCE(SUM(il), 0) AS BIGINT) AS n_lsh_pairs,
           CAST(COALESCE(SUM(ie * il), 0) AS BIGINT) AS n_common,
           ROUND(CAST(COALESCE(SUM(ie * il), 0) AS BIGINT) * 1.0
                 / GREATEST(CAST(COALESCE(SUM(ie), 0) AS BIGINT), 1), 4) + 0.0
               AS recall_vs_exact,
           ROUND(CAST(COALESCE(SUM(ie * il), 0) AS BIGINT) * 1.0
                 / GREATEST(CAST(COALESCE(SUM(il), 0) AS BIGINT), 1), 4) + 0.0
               AS precision_vs_exact
    FROM j
    """,
)

# d21b: the sampled form of the recall harness — the v12 move the d21
# docstring promises ("at 100 TB you run this on a SAMPLE") as a real,
# driver-verified parameter. Mod-2 doc sampling is deterministic, so the
# oracle reproduces the exact sample; parity with the unsampled op at
# sample_mod=1 is unit-tested (tests/test_dedup_quality.py).
_SAMPLED_DOCS = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
_register(
    "d21b_lsh_recall_sampled",
    lambda t: D.lsh_recall(
        t, max_bucket_size=D.LSH_MAX_BUCKET_DEFAULT, sample_mod=2
    ),
    f"""
    WITH e AS (SELECT doc_a, doc_b
               FROM ({OD.ngram_jaccard(_SAMPLED_DOCS)}) x),
    l AS (SELECT doc_a, doc_b
          FROM ({OD.minhash_lsh_capped(D.LSH_MAX_BUCKET_DEFAULT, _SAMPLED_DOCS)}) y),
    j AS (
        SELECT CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS ie,
               CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS il
        FROM e FULL OUTER JOIN l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST(COALESCE(SUM(ie), 0) AS BIGINT) AS n_exact_pairs,
           CAST(COALESCE(SUM(il), 0) AS BIGINT) AS n_lsh_pairs,
           CAST(COALESCE(SUM(ie * il), 0) AS BIGINT) AS n_common,
           ROUND(CAST(COALESCE(SUM(ie * il), 0) AS BIGINT) * 1.0
                 / GREATEST(CAST(COALESCE(SUM(ie), 0) AS BIGINT), 1), 4) + 0.0
               AS recall_vs_exact,
           ROUND(CAST(COALESCE(SUM(ie * il), 0) AS BIGINT) * 1.0
                 / GREATEST(CAST(COALESCE(SUM(il), 0) AS BIGINT), 1), 4) + 0.0
               AS precision_vs_exact
    FROM j
    """,
)

# d22: the recall-vs-cap sweep — one pass computes the whole curve (per-
# pair min colliding-bucket size, then every cap is a threshold) plus the
# smallest swept cap clearing the recall floor. The oracle recomputes the
# ladder (choose_lsh_bucket_cap's formula), curve, and choice end to end,
# so the auto-tuning DECISION is hash-verified, not just the measurement
# (VERDICT r6 task 1: "auto-tuning is cheaper" -> "auto-tuning is safe").
_register(
    "d22_lsh_cap_recall_sweep",
    D.lsh_cap_recall_sweep,
    OD.cap_recall_sweep(
        headroom=4.0, recall_floor=D.LSH_RECALL_FLOOR_DEFAULT, sample_mod=1
    ),
)

# d25: winnowing fingerprint pairs (Schleimer et al., SIGMOD 2003 — the
# MOSS algorithm): per-window rightmost-min k-gram hash selection, then
# the inverted-index pairing with the stop-fingerprint cap. Guaranteed
# (not probabilistic) detection of shared runs >= w+k-1 words. The
# selection tie-break is packed arithmetic ((h40<<20) | (2^20-1-pos)),
# identical in both engines, so the oracle reproduces fingerprints and
# pairs bit-for-bit.
_register(
    "d25_winnow_pairs",
    D.winnow_pairs,
    f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    g AS (
        SELECT doc_id, len(words) - {D.WINNOW_K - 1} AS n_grams, words,
               unnest(generate_series(
                   1, greatest(len(words) - {D.WINNOW_K - 1}, 0))) AS i
        FROM w
    ),
    kg AS (
        SELECT doc_id, i - 1 AS pos, n_grams,
               ('0x' || substr(md5(
                   array_to_string(words[i:i+{D.WINNOW_K - 1}], ' ')
               ), 1, 10))::BIGINT AS h40
        FROM g
    ),
    keyed AS (
        SELECT doc_id, pos, n_grams,
               h40 * {D._WINNOW_POS_BITS}
                   + ({D._WINNOW_POS_BITS - 1} - pos) AS key
        FROM kg
    ),
    sel AS (
        SELECT doc_id, pos, n_grams,
               MIN(key) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {D.WINNOW_W - 1} FOLLOWING
               ) AS selkey
        FROM keyed
    ),
    fps AS (
        SELECT DISTINCT doc_id, selkey // {D._WINNOW_POS_BITS} AS fp
        FROM sel WHERE pos <= n_grams - {D.WINNOW_W}
    ),
    keep AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {D.WINNOW_MAX_POSTINGS}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fps a
        JOIN keep k ON a.fp = k.fp
        JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= {D.WINNOW_MIN_SHARED}
    """,
)

# d24: the incremental (delta×corpus) near-dup gate — the production
# per-batch dedup shape: band-join the incoming batch's minhash keys
# against the STORED corpus band index (capped at rest, the d3c guard),
# verify with exact Jaccard, answer for EVERY incoming doc. The oracle
# rebuilds both sides and the verdict end to end.
_register(
    "d24_incremental_lsh_dedup",
    D.incremental_lsh_dedup,
    OD.incremental_lsh(
        D.LSH_MAX_BUCKET_DEFAULT, delta_mod=D.DELTA_MOD, delta_rem=D.DELTA_REM
    ),
)

_register(
    "v18_filtered_topk",
    S.filtered_topk,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) + 0.0 AS cos_sim
    FROM embeddings e, q
    WHERE e.label = 1 AND e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 8
    """,
)

_register(
    "st12b_neardup_candidates_batch",
    D.streaming_neardup_candidates_batch,
    OD.STREAMING_NEARDUP_CANDIDATES,
)


def _st12_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_neardup_candidates

    return streaming_neardup_candidates(spark, sf_dir)


QUERIES["st12_streaming_neardup_candidates"] = _st12_streaming_neardup
ORACLE_SQL["st12_streaming_neardup_candidates"] = OD.STREAMING_NEARDUP_CANDIDATES

def _st14_streaming_span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_span_novelty

    return streaming_span_novelty(spark, sf_dir)


QUERIES["st14_streaming_span_novelty"] = _st14_streaming_span_novelty
# The stream drains the same documents dir the index was built from, so
# "known" reduces to n_docs >= 2 over the static corpus — exactly d15's
# cross-document duplication, re-derived here independently.
ORACLE_SQL["st14_streaming_span_novelty"] = rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        FROM documents
    ),
    maxn AS (SELECT COALESCE(MAX(len(words)), 1) AS n FROM w),
    wins AS (
        SELECT doc_id,
               {_h60("array_to_string(words[i.i : i.i + 7], ' ')")} AS wh
        FROM w, (SELECT unnest(range(1, (SELECT n FROM maxn) + 1)) AS i) i
        WHERE i.i + 7 <= len(words)
    ),
    idx AS (
        SELECT wh, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS min_doc
        FROM wins GROUP BY wh
    )
    SELECT wins.doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN i.n_docs >= 2
                              OR i.min_doc <> wins.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_known_spans
    FROM wins JOIN idx i USING (wh)
    GROUP BY wins.doc_id
"""


def _st13_streaming_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_ivf_assign

    return streaming_ivf_assign(spark, sf_dir)


QUERIES["st13_streaming_ivf_assign"] = _st13_streaming_ivf_assign
ORACLE_SQL["st13_streaming_ivf_assign"] = """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    )
    SELECT cid, COUNT(*) AS n_vecs,
           MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
    FROM assigned GROUP BY cid
"""


def _st19_streaming_sq8_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_sq8_ingest

    return streaming_sq8_ingest(spark, sf_dir)


QUERIES["st19_streaming_sq8_ingest"] = _st19_streaming_sq8_ingest
# streamed per-cell quantization-health stats == the same stats batch over
# the full input (quantize + assign are stateless; max/min aggregates are
# order-free, so arrival order cannot matter).
ORACLE_SQL["st19_streaming_sq8_ingest"] = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sc AS (
        SELECT cid,
               list_max(list_transform(ee, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS scale,
               ee
        FROM assigned
    ),
    per_vec AS (
        SELECT cid, scale,
               CASE WHEN scale > 0
                    THEN ROUND(list_max(list_transform(
                             ee, x -> abs(x - round(x / scale) * scale))), 9)
                    ELSE 0.0 END AS qerr
        FROM sc
    )
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MAX(qerr) + 0.0 AS max_qerr,
           ROUND(MAX(scale), 9) + 0.0 AS max_scale,
           ROUND(MIN(scale), 9) + 0.0 AS min_scale
    FROM per_vec GROUP BY cid
"""


def _st15_streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_drift_monitor

    return streaming_drift_monitor(spark, sf_dir)


QUERIES["st15_streaming_drift_monitor"] = _st15_streaming_drift_monitor
# same oracle as t12 by construction: the streamed per-cell delta must
# agree with the batch delta bit-for-bit (registered after t12 below, so
# the SQL is attached there once both exist)


def _st16_streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_decontamination

    return streaming_decontamination(spark, sf_dir)


QUERIES["st16_streaming_decontamination"] = _st16_streaming_decontamination


def _st17_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_quality_gate

    return streaming_quality_gate(spark, sf_dir)


QUERIES["st17_streaming_quality_gate"] = _st17_streaming_quality_gate


def _st18_streaming_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_semantic_decontamination

    return streaming_semantic_decontamination(spark, sf_dir)


QUERIES["st18_streaming_semantic_decon"] = _st18_streaming_semantic_decon
# shares d20's oracle: ingest-time cell probing must reproduce the offline
# semantic audit bit-for-bit (attached after d20's registration below)
# shares tx19's oracle: the stateless per-row ingest scorer must reproduce
# the batch classifier's scores bit-for-bit (attached after tx19's
# registration below)
# same oracle as d19 by construction: streamed ingest-time admission
# verdicts must equal the offline Bloom gate bit-for-bit (attached after
# d19's registration at the bottom of this file)

_register(
    "t9_incremental_rollup",
    RF.incremental_rollup,
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)

_register(
    "t10_span_index_refresh",
    RF.span_index_refresh,
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        FROM documents
    ),
    maxn AS (SELECT COALESCE(MAX(len(words)), 1) AS n FROM w),
    wins AS (
        SELECT DISTINCT doc_id,
               {_h60("array_to_string(words[i.i : i.i + 7], ' ')")} AS wh
        FROM w, (SELECT unnest(range(1, (SELECT n FROM maxn) + 1)) AS i) i
        WHERE i.i + 7 <= len(words)
    )
    SELECT wh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM wins GROUP BY wh
    """,
)

# t11: the merged (stored ⊎ delta) cell stats are bit-identical to the
# full recompute — count and max are associative — so the oracle IS the
# one-shot aggregate over all vectors, with distances rounded to 3
# decimals BEFORE the max on both engines (the v16 dist contract) and
# assignment tie-broken on the UNROUNDED distance like v7/v13.
_register(
    "t11_cell_stats_refresh",
    RF.cell_stats_refresh,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, cid, dist FROM (
            SELECT e.vec_id, c.cid,
                   ROUND(list_distance(e.embedding::DOUBLE[], c.ce), 3) + 0.0 AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    )
    SELECT CAST(cid AS BIGINT) AS cid, COUNT(*) AS n_vecs,
           MAX(dist) AS r_cell
    FROM assigned GROUP BY cid
    """,
)

_register(
    "t8_scd2_history",
    E.scd2_state_history,
    """
    WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                         OR LAG(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versioned AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM flagged
    ),
    runs AS (
        SELECT user_id, version, MIN(event_type) AS state,
               MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM versioned GROUP BY user_id, version
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           n_events
    FROM runs
    """,
)

_register(
    "a23_source_median_quality",
    TX.source_median_quality,
    f"""
    WITH w AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents
    ),
    m AS (
        SELECT source,
               len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq
        FROM w
    ),
    q AS (
        SELECT source,
               ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n) + 0.3 * (1.0 - n_stop / n), 3) AS quality
        FROM m
    )
    SELECT source, ROUND(median(quality), 4) AS median_quality, COUNT(*) AS n_docs
    FROM q GROUP BY source ORDER BY source
    """,
)

_register(
    "a22_cohort_retention",
    E.cohort_retention,
    """
    WITH cohorts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_active
    FROM (
        SELECT a.user_id, c.cohort_week,
               CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS INTEGER) AS week_offset
        FROM activity a JOIN cohorts c ON a.user_id = c.user_id
    )
    WHERE week_offset >= 0 AND week_offset < 8
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)

_register(
    "j26_shipping_priority",
    R.shipping_priority,
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)

_register(
    "j27_disjunctive_part_revenue",
    R.disjunctive_part_revenue,
    """
    SELECT COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 5 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)

_register(
    "j28_min_cost_supplier",
    R.min_cost_supplier,
    """
    WITH offers AS (
        SELECT l.l_partkey, l.l_suppkey, p.p_name,
               MIN(l.l_extendedprice / l.l_quantity) AS cost
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 15 AND p.p_type = 'PROMO'
        GROUP BY 1, 2, 3
    ),
    eligible AS (
        SELECT o.l_partkey, o.p_name, o.cost,
               s.s_acctbal, s.s_name, n.n_name AS nation
        FROM offers o
        JOIN supplier s ON o.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    best AS (
        SELECT l_partkey, MIN(cost) AS min_cost FROM eligible GROUP BY 1
    )
    SELECT e.s_acctbal, e.s_name, e.nation,
           e.l_partkey AS p_partkey, e.p_name, e.cost
    FROM eligible e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.cost = b.min_cost
    ORDER BY e.s_acctbal DESC, e.nation ASC, e.s_name ASC, p_partkey ASC
    LIMIT 20
    """,
)

_register(
    "a24_important_part_values",
    R.important_part_values,
    """
    WITH scoped AS (
        SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(18,6)) AS v
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_7'
    ),
    per_part AS (
        SELECT l_partkey, SUM(v) AS pv FROM scoped GROUP BY 1
    ),
    total AS (SELECT SUM(pv) AS tv FROM per_part)
    SELECT l_partkey, CAST(ROUND(pv, 2) AS DOUBLE) AS part_value
    FROM per_part, total
    WHERE pv * 5000 > tv
    ORDER BY part_value DESC, l_partkey ASC
    """,
)

_register(
    "smp9_token_budget_select",
    SMP.token_budget_select,
    f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents),
    m AS (
        SELECT doc_id,
               len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq
        FROM w
    ),
    q AS (
        SELECT doc_id,
               ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n)
                     + 0.3 * (1.0 - n_stop / n), 3) AS quality
        FROM m
    ),
    tk AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens FROM w),
    sel AS (
        SELECT q.doc_id, q.quality, tk.n_tokens,
               SUM(tk.n_tokens) OVER (
                   ORDER BY q.quality DESC, q.doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM q JOIN tk ON tk.doc_id = q.doc_id
    ),
    b AS (SELECT CAST(FLOOR({SMP.BUDGET_FRAC} * SUM(n_tokens)) AS BIGINT) AS budget FROM tk)
    SELECT doc_id, quality, n_tokens, CAST(cum AS BIGINT) AS cum_tok
    FROM sel, b WHERE cum <= budget
    """,
)

_register(
    "smp8_quality_resample",
    SMP.quality_resample,
    f"""
    WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents),
    m AS (
        SELECT doc_id, source,
               len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq
        FROM w
    ),
    scored AS (
        SELECT doc_id, source,
               ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n)
                     + 0.3 * (1.0 - n_stop / n), 3) AS quality
        FROM m
    )
    SELECT doc_id, source, quality,
           LEAST(1000000, CAST(ROUND(quality * 1000000.0 / 1.0) AS BIGINT)) AS p_keep_ppm
    FROM scored
    WHERE {_h60("'qrs|' || CAST(doc_id AS VARCHAR)")} % 1000000
          < LEAST(1000000, CAST(ROUND(quality * 1000000.0 / 1.0) AS BIGINT))
    """,
)

_register(
    "smp7_leakage_safe_split",
    SMP.leakage_safe_split,
    f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({OD.MINHASH_LSH}) q
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CASE WHEN {_h60("'split|' || CAST(cluster_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                WHEN {_h60("'split|' || CAST(cluster_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM clusters
    """,
)

_register(
    "d13_topic_clusters",
    D.topic_clusters,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 12
    ),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sizes AS (
        SELECT a.cid, COUNT(*) AS n_vecs,
               ROUND(CAST(SUM(CAST(ROUND(list_distance(a.ee, c.ce), 4) AS DECIMAL(14,4))) AS DOUBLE)
                     / COUNT(*), 3) AS avg_dist
        FROM assigned a JOIN cents c ON a.cid = c.cid
        GROUP BY a.cid
    ),
    top AS (
        SELECT cid, label AS top_label, n AS top_n FROM (
            SELECT cid, label, COUNT(*) AS n,
                   ROW_NUMBER() OVER (
                       PARTITION BY cid ORDER BY COUNT(*) DESC, label ASC
                   ) AS rn
            FROM assigned GROUP BY cid, label
        ) WHERE rn = 1
    )
    SELECT s.cid, s.n_vecs, t.top_label,
           ROUND(t.top_n / s.n_vecs, 3) AS top_label_share,
           s.avg_dist
    FROM sizes s JOIN top t ON s.cid = t.cid
    ORDER BY s.cid
    """,
)

_register(
    "d15_repeated_substrings",
    D.repeated_substring_stats,
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        FROM documents
    ),
    maxn AS (SELECT COALESCE(MAX(len(words)), 1) AS n FROM w),
    wins AS (
        SELECT doc_id,
               {_h60("array_to_string(words[i.i : i.i + 7], ' ')")} AS wh
        FROM w, (SELECT unnest(range(1, (SELECT n FROM maxn) + 1)) AS i) i
        WHERE i.i + 7 <= len(words)
    ),
    c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY wh) AS n_occ FROM wins)
    SELECT doc_id, COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           ROUND(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS dup_frac
    FROM c GROUP BY doc_id
    """,
)

_register("d16_cluster_survivors", D.cluster_survivors, OD.CLUSTER_SURVIVORS)

_register("d17_corpus_dup_profile", D.corpus_dup_profile, OD.CORPUS_DUP_PROFILE)

_register(
    "tx13_bpe_pair_counts",
    TX.bpe_pair_counts,
    """
    WITH wf AS (
        SELECT w, COUNT(*) AS freq
        FROM (
            SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS w
            FROM documents
        )
        GROUP BY w
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
               substr(w, CAST(i AS INTEGER) + 1, 1) AS b,
               freq
        FROM wf, UNNEST(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2
    )
    SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY a, b
    ORDER BY pair_count DESC, a ASC, b ASC
    LIMIT 30
    """,
)

# BPE learning is iterative (argmax + merge per round) — but with a FIXED
# merge budget the loop unrolls into chained CTEs: words are kept as
# separator-delimited symbol strings ('\x1f' || sym || '\x1f' per
# boundary), and one merge round is a single replace() — SQL's leftmost
# non-overlapping replacement semantics are exactly BPE's greedy
# left-to-right fold. Exact at sf0.01 AND sf0.1 (plus pure-Python trainer
# parity in tests/test_bpe.py).
_BPE_SEP = "chr(31)"
_BPE_PRE = "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'"


def _bpe_learn_ctes(n_merges: int) -> list[str]:
    """Shared CTE chain: word freq → symbol strings → n_merges rounds of
    (pair counts → argmax b{r} → replace-merge s{r+1})."""
    parts = [f"""
    wf AS (
        SELECT w, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_extract_all(text, {_BPE_PRE})) AS w FROM documents)
        GROUP BY w
    ),
    s0 AS (
        SELECT {_BPE_SEP} || array_to_string(string_split(w, ''), {_BPE_SEP} || {_BPE_SEP}) || {_BPE_SEP} AS s,
               freq
        FROM wf
    ),
    maxpos AS (
        -- pair-position bound DERIVED from the data (ADVICE r4): the s0
        -- symbol count of a word is its char length, and merges only
        -- shrink it, so this bound is exact for every round — no silent
        -- truncation on long unbroken tokens
        SELECT COALESCE(MAX(length(w)), 1) + 1 AS n FROM wf
    )"""]
    for r in range(n_merges):
        parts.append(f"""
    p{r} AS (
        SELECT syms[c.i] AS a, syms[c.i + 1] AS b, freq
        FROM (SELECT string_split(s[2 : length(s) - 1], {_BPE_SEP} || {_BPE_SEP}) AS syms, freq
              FROM s{r}) t,
             (SELECT unnest(range(1, (SELECT n FROM maxpos))) AS i) c
        WHERE c.i < len(syms)
    ),
    b{r} AS (
        SELECT {r} AS merge_rank, a, b, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM p{r} GROUP BY a, b
        ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1
    ),
    s{r + 1} AS (
        SELECT replace(t.s,
                       {_BPE_SEP} || b.a || {_BPE_SEP} || {_BPE_SEP} || b.b || {_BPE_SEP},
                       {_BPE_SEP} || b.a || b.b || {_BPE_SEP}) AS s,
               t.freq
        FROM s{r} t, b{r} b
    )""")
    return parts


def _bpe_learn_sql(n_merges: int = 8) -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT CAST(merge_rank AS INTEGER) AS merge_rank, a, b, pair_count FROM b{r}"
        for r in range(n_merges)
    )
    return "WITH " + ",".join(_bpe_learn_ctes(n_merges)) + "\n    " + union


def _bpe_tokenize_sql(n_merges: int = 8) -> str:
    parts = _bpe_learn_ctes(n_merges)
    expr = "dw.s"
    for r in range(n_merges):
        expr = (
            f"replace({expr}, {_BPE_SEP} || b{r}.a || {_BPE_SEP} || {_BPE_SEP} || b{r}.b || {_BPE_SEP}, "
            f"{_BPE_SEP} || b{r}.a || b{r}.b || {_BPE_SEP})"
        )
    froms = ", ".join(f"b{r}" for r in range(n_merges))
    parts.append(f"""
    docw AS (
        SELECT doc_id, unnest(regexp_extract_all(text, {_BPE_PRE})) AS w FROM documents
    ),
    dw AS (
        SELECT w, {_BPE_SEP} || array_to_string(string_split(w, ''), {_BPE_SEP} || {_BPE_SEP}) || {_BPE_SEP} AS s
        FROM (SELECT DISTINCT w FROM docw)
    ),
    tok AS (
        SELECT dw.w,
               string_split(({expr})[2 : length({expr}) - 1], {_BPE_SEP} || {_BPE_SEP}) AS toks
        FROM dw, {froms}
    ),
    ex AS (
        SELECT d.doc_id, unnest(t.toks) AS sub
        FROM docw d JOIN tok t ON d.w = t.w
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_subwords,
               COUNT(DISTINCT sub) AS n_uniq_subwords
        FROM ex GROUP BY doc_id
    ),
    chars AS (SELECT doc_id, SUM(length(w)) AS n_chars FROM docw GROUP BY doc_id)
    SELECT doc.doc_id,
           CAST(COALESCE(a.n_subwords, 0) AS BIGINT) AS n_subwords,
           CAST(COALESCE(a.n_uniq_subwords, 0) AS BIGINT) AS n_uniq_subwords,
           ROUND(COALESCE(c.n_chars, 0) / GREATEST(COALESCE(a.n_subwords, 0), 1), 3) + 0.0
               AS chars_per_subword
    FROM documents doc
    LEFT JOIN agg a ON doc.doc_id = a.doc_id
    LEFT JOIN chars c ON doc.doc_id = c.doc_id""")
    return "WITH " + ",".join(parts)


_register("tx14_bpe_learn", TX.bpe_learn, _bpe_learn_sql())

# BPE tokenization applies the learned merge model inside an Arrow-batched
# mapInPandas (the sequential merge loop is the canonical pandas-UDF case);
# the oracle re-learns the model in SQL (chained CTEs above) and applies
# the 8 merges as nested replace()s per distinct word.
_register("tx15_bpe_tokenize", TX.bpe_tokenize, _bpe_tokenize_sql())


def _tx20_fertility_sql(n_merges: int = 8) -> str:
    """tx20: the tx15 tokenization CTEs aggregated to the per-(lang,
    source) fertility/budgeting table. SUMs cast to BIGINT (HUGEINT
    trap); ratios computed from the same *1.0 doubles as Spark."""
    parts = _bpe_learn_ctes(n_merges)
    expr = "dw.s"
    for r in range(n_merges):
        expr = (
            f"replace({expr}, {_BPE_SEP} || b{r}.a || {_BPE_SEP} || {_BPE_SEP} || b{r}.b || {_BPE_SEP}, "
            f"{_BPE_SEP} || b{r}.a || b{r}.b || {_BPE_SEP})"
        )
    froms = ", ".join(f"b{r}" for r in range(n_merges))
    parts.append(f"""
    docw AS (
        SELECT doc_id, unnest(regexp_extract_all(text, {_BPE_PRE})) AS w FROM documents
    ),
    dw AS (
        SELECT w, {_BPE_SEP} || array_to_string(string_split(w, ''), {_BPE_SEP} || {_BPE_SEP}) || {_BPE_SEP} AS s
        FROM (SELECT DISTINCT w FROM docw)
    ),
    tok AS (
        SELECT dw.w,
               len(string_split(({expr})[2 : length({expr}) - 1], {_BPE_SEP} || {_BPE_SEP})) AS n_toks
        FROM dw, {froms}
    ),
    per_doc AS (
        SELECT d.doc_id,
               COUNT(*) AS n_words,
               SUM(t.n_toks) AS n_subwords,
               SUM(length(d.w)) AS n_chars
        FROM docw d JOIN tok t ON d.w = t.w
        GROUP BY d.doc_id
    )
    SELECT doc.lang, doc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT) AS total_words,
           CAST(SUM(COALESCE(p.n_subwords, 0)) AS BIGINT) AS total_subwords,
           ROUND(CAST(SUM(COALESCE(p.n_subwords, 0)) AS BIGINT) * 1.0
                 / GREATEST(CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT), 1), 4) + 0.0
               AS fertility,
           ROUND(CAST(SUM(COALESCE(p.n_chars, 0)) AS BIGINT) * 1.0
                 / GREATEST(CAST(SUM(COALESCE(p.n_subwords, 0)) AS BIGINT), 1), 4) + 0.0
               AS chars_per_subword
    FROM documents doc
    LEFT JOIN per_doc p ON doc.doc_id = p.doc_id
    GROUP BY doc.lang, doc.source""")
    return "WITH " + ",".join(parts)


_register("tx20_tokenizer_fertility", TX.tokenizer_fertility, _tx20_fertility_sql())


def _st20_streaming_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_fertility

    return streaming_fertility(spark, sf_dir)


QUERIES["st20_streaming_fertility"] = _st20_streaming_fertility
# st20 shares tx20's oracle: integer sums are exact and order-free, so the
# streamed per-(lang, source) table equals the batch table bit-for-bit
# once the stream has consumed the full input (ratios are computed on the
# aggregate output rows, downstream of the one streaming aggregation).
ORACLE_SQL["st20_streaming_fertility"] = ORACLE_SQL["tx20_tokenizer_fertility"]

_register(
    "j20_volume_shipping",
    R.volume_shipping,
    """
    SELECT supp_nation, cust_nation, CAST(l_year AS INTEGER) AS l_year,
           CAST(ROUND(SUM(CAST(v AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM (
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               EXTRACT(year FROM l_shipdate) AS l_year,
               l_extendedprice * (1.0 - l_discount) AS v
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND sn.n_name IN ('NATION_3', 'NATION_7')
          AND cn.n_name IN ('NATION_3', 'NATION_7')
          AND sn.n_name <> cn.n_name
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

_register(
    "j21_profit_rollup",
    R.profit_by_nation_year,
    """
    SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM(CAST(
               l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity
           AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)

_register(
    "a21_customer_order_distribution",
    R.customer_order_distribution,
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

_register(
    "j22_promo_revenue",
    R.promo_revenue,
    """
    SELECT ROUND(
               100.0
               * CAST(SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
                               ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
               4) AS promo_revenue_pct,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)

_register(
    "j23_top_supplier",
    R.top_supplier,
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)

_register(
    "j24_small_qty_loss",
    R.small_quantity_loss,
    """
    WITH brand_lines AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#5'
    ),
    avg_qty AS (
        SELECT l_partkey AS a_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
        FROM brand_lines GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2)
               AS avg_yearly_loss,
           COUNT(*) AS n_small_lines
    FROM brand_lines JOIN avg_qty ON l_partkey = a_partkey
    WHERE l_quantity < half_avg_qty
    """,
)

_register(
    "j25_waiting_supplier",
    R.waiting_supplier,
    """
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END)
                   AS was_late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey AS g_orderkey, COUNT(*) AS n_supps, SUM(was_late) AS n_late
        FROM per_os GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM per_os
    JOIN per_order ON l_orderkey = g_orderkey AND n_supps >= 2 AND n_late = 1
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE was_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)

_register(
    "tx16_ngram_perplexity",
    TX.ngram_perplexity,
    f"""
    WITH arr AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ),
    mx AS (SELECT COALESCE(MAX(len(w)), 1) AS m FROM arr),
    bi AS (
        SELECT doc_id, lang, w[i.i] AS prev, w[i.i + 1] AS cur
        FROM arr, (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) i
        WHERE len(w) >= 2 AND i.i < len(w)
    ),
    ref AS (SELECT prev, cur FROM bi WHERE doc_id % 2 = 0),
    c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM ref GROUP BY 1, 2),
    c1 AS (SELECT prev, COUNT(*) AS c1 FROM ref GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT cur) AS v FROM ref),
    per_doc AS (
        SELECT bi.doc_id, bi.lang, COUNT(*) AS n_bigrams,
               ROUND(-AVG(ln((COALESCE(c2.c2, 0) + 1.0)
                             / (COALESCE(c1.c1, 0) + v.v))), 4) + 0.0 AS cross_entropy
        FROM bi LEFT JOIN c2 USING (prev, cur)
                LEFT JOIN c1 USING (prev)
                CROSS JOIN v
        GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_bigrams, cross_entropy,
           CASE NTILE(3) OVER (PARTITION BY lang
                               ORDER BY cross_entropy ASC, doc_id ASC)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM per_doc
    """,
)

_register(
    "smp10_dsir_importance",
    SMP.dsir_importance,
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    doc_b AS (
        SELECT doc_id, source,
               {_h60("'dsir|' || term")} % 64 AS b,
               COUNT(*) AS cnt
        FROM toks GROUP BY 1, 2, 3
    ),
    raw AS (SELECT b, SUM(cnt) AS cr FROM doc_b GROUP BY 1),
    tgt AS (SELECT b, SUM(cnt) AS ct FROM doc_b WHERE source = 'src0' GROUP BY 1),
    nt AS (SELECT COALESCE(SUM(ct), 0) AS nt FROM tgt),
    nr AS (SELECT SUM(cr) AS nr FROM raw),
    ratio AS (
        SELECT raw.b,
               ln((COALESCE(tgt.ct, 0) + 1.0) / (nt.nt + 64))
             - ln((raw.cr + 1.0) / (nr.nr + 64)) AS log_ratio
        FROM raw LEFT JOIN tgt USING (b) CROSS JOIN nt CROSS JOIN nr
    ),
    weights AS (
        SELECT doc_id, source, ROUND(SUM(cnt * log_ratio), 4) + 0.0 AS weight
        FROM doc_b JOIN ratio USING (b) GROUP BY 1, 2
    ),
    k AS (SELECT CEIL(COUNT(*) / 4.0) AS k FROM weights)
    SELECT doc_id, source, weight FROM (
        SELECT doc_id, source, weight,
               ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id ASC) AS rn
        FROM weights
    ) ranked, k WHERE ranked.rn <= k.k
    """,
)

_register(
    "tx17_gopher_rules",
    TX.gopher_rules,
    f"""
    WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               ROUND(list_sum(list_transform(w, x -> length(x)))
                     / CAST(len(w) AS DOUBLE), 3) AS mean_word_len,
               ROUND(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                     / CAST(len(w) AS DOUBLE), 3) AS alpha_frac,
               CAST(len(list_intersect(w,
                    {list(TX.STOPWORDS)!r})) AS BIGINT) AS stop_hits
        FROM arr
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
           n_words >= 30 AND n_words <= 100000 AS ok_word_count,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_len,
           alpha_frac >= 0.8 AS ok_alpha,
           stop_hits >= 2 AS ok_stopwords,
           (n_words >= 30 AND n_words <= 100000)
               AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AND alpha_frac >= 0.8 AND stop_hits >= 2 AS keep
    FROM scored
    """,
)

_register(
    "t12_drift_monitor",
    RF.drift_monitor,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, cid, dc FROM (
            SELECT e.vec_id, c.cid,
                   ROUND(list_distance(e.ee, c.ce), 3) + 0.0 AS dc,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    h AS (SELECT cid, COUNT(*) AS n, AVG(dc) AS md FROM assigned
          WHERE vec_id < 400 GROUP BY 1),
    d AS (SELECT cid, COUNT(*) AS n, AVG(dc) AS md FROM assigned
          WHERE vec_id >= 400 GROUP BY 1),
    th AS (SELECT SUM(n) AS th FROM h),
    td AS (SELECT SUM(n) AS td FROM d)
    SELECT COALESCE(h.cid, d.cid) AS cid,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS hist_n,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS new_n,
           ROUND((COALESCE(h.n, 0) + 0.5) / (th.th + 8.0), 4) AS hist_share,
           ROUND((COALESCE(d.n, 0) + 0.5) / (td.td + 8.0), 4) AS new_share,
           ROUND(((COALESCE(d.n, 0) + 0.5) / (td.td + 8.0)
                  - (COALESCE(h.n, 0) + 0.5) / (th.th + 8.0))
                 * ln(((COALESCE(d.n, 0) + 0.5) / (td.td + 8.0))
                      / ((COALESCE(h.n, 0) + 0.5) / (th.th + 8.0))), 6) + 0.0 AS psi,
           ROUND(COALESCE(d.md, 0.0) - COALESCE(h.md, 0.0), 4) + 0.0 AS dist_delta,
           ROUND(((COALESCE(d.n, 0) + 0.5) / (td.td + 8.0)
                  - (COALESCE(h.n, 0) + 0.5) / (th.th + 8.0))
                 * ln(((COALESCE(d.n, 0) + 0.5) / (td.td + 8.0))
                      / ((COALESCE(h.n, 0) + 0.5) / (th.th + 8.0))), 6) + 0.0
               > 0.01 AS drifted
    FROM h FULL OUTER JOIN d ON h.cid = d.cid, th, td
    """,
)

ORACLE_SQL["st15_streaming_drift_monitor"] = ORACLE_SQL["t12_drift_monitor"]

_register(
    "d18_semdedup",
    D.semdedup,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
        -- 16-cell layout: choose_semdedup_k's floor for every fixture
        -- (<= 8000 vectors); the coupling is guarded by
        -- tests/test_text_dedup.py::test_semdedup_auto_k_matches_oracle_floor
    ),
    scored AS (
        SELECT vec_id, cid, ee,
               ROUND(list_cosine_similarity(ee, ce), 3) + 0.0 AS cos_c
        FROM (
            SELECT e.vec_id, e.ee, c.cid, c.ce,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    removed AS (
        SELECT DISTINCT a.vec_id
        FROM scored a JOIN scored b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id
        WHERE ROUND(list_cosine_similarity(a.ee, b.ee), 3) + 0.0 >= 0.3
          AND (b.cos_c < a.cos_c
               OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id))
    )
    SELECT s.vec_id, s.cid, s.cos_c, r.vec_id IS NULL AS is_kept
    FROM scored s LEFT JOIN removed r ON s.vec_id = r.vec_id
    """,
)

from .plans.corpus_mix import corpus_assembly  # noqa: E402

_register(
    "e2e_corpus_assembly",
    corpus_assembly,
    f"""
    WITH arr AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ),
    mx AS (SELECT COALESCE(MAX(len(w)), 1) AS m FROM arr),
    bi AS (
        SELECT doc_id, lang, w[i.i] AS prev, w[i.i + 1] AS cur
        FROM arr, (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) i
        WHERE len(w) >= 2 AND i.i < len(w)
    ),
    ref AS (SELECT prev, cur FROM bi WHERE doc_id % 2 = 0),
    c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM ref GROUP BY 1, 2),
    c1 AS (SELECT prev, COUNT(*) AS c1 FROM ref GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT cur) AS v FROM ref),
    per_doc AS (
        SELECT bi.doc_id, COUNT(*) AS n_bigrams,
               ROUND(-AVG(ln((COALESCE(c2.c2, 0) + 1.0)
                             / (COALESCE(c1.c1, 0) + v.v))), 4) + 0.0 AS cross_entropy,
               bi.lang
        FROM bi LEFT JOIN c2 USING (prev, cur)
                LEFT JOIN c1 USING (prev)
                CROSS JOIN v
        GROUP BY bi.doc_id, bi.lang
    ),
    keep AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   NTILE(3) OVER (PARTITION BY lang
                                  ORDER BY cross_entropy ASC, doc_id ASC) AS tert
            FROM per_doc
        ) WHERE tert <= 2
    ),
    toks AS (
        SELECT d.doc_id, d.source, d.lang,
               unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS term
        FROM documents d JOIN keep USING (doc_id)
    ),
    doc_b AS (
        SELECT doc_id, source, lang,
               {_h60("'dsir|' || term")} % 64 AS b,
               COUNT(*) AS cnt
        FROM toks GROUP BY 1, 2, 3, 4
    ),
    raw AS (SELECT b, SUM(cnt) AS cr FROM doc_b GROUP BY 1),
    tgt AS (SELECT b, SUM(cnt) AS ct FROM doc_b WHERE source = 'src0' GROUP BY 1),
    nt AS (SELECT COALESCE(SUM(ct), 0) AS nt FROM tgt),
    nr AS (SELECT SUM(cr) AS nr FROM raw),
    ratio AS (
        SELECT raw.b,
               ln((COALESCE(tgt.ct, 0) + 1.0) / (nt.nt + 64))
             - ln((raw.cr + 1.0) / (nr.nr + 64)) AS log_ratio
        FROM raw LEFT JOIN tgt USING (b) CROSS JOIN nt CROSS JOIN nr
    ),
    weights AS (
        SELECT doc_id, source, lang,
               ROUND(SUM(cnt * log_ratio), 4) + 0.0 AS weight,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens
        FROM doc_b JOIN ratio USING (b) GROUP BY 1, 2, 3
    ),
    k AS (SELECT CEIL(COUNT(*) / 4.0) AS k FROM weights),
    sel AS (
        SELECT lang, source, weight, n_tokens FROM (
            SELECT lang, source, weight, n_tokens,
                   ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id ASC) AS rn
            FROM weights
        ) ranked, k WHERE ranked.rn <= k.k
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(CAST(weight AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_weight
    FROM sel GROUP BY 1, 2
    """,
)


_register(
    "smp11_unimax_budget",
    SMP.unimax_budget,
    f"""
    WITH arr AS (
        SELECT lang, source, len(regexp_split_to_array(trim(text), '\\s+')) AS nt
        FROM documents
    ),
    dom AS (
        SELECT lang, source,
               CAST(SUM(nt) AS BIGINT) AS n_tokens,
               CAST(SUM(nt) AS BIGINT) * {SMP.UNIMAX_MAX_EPOCHS} AS cap
        FROM arr GROUP BY 1, 2
    ),
    b AS (
        SELECT CAST(FLOOR({SMP.UNIMAX_BUDGET_FRAC} * CAST(SUM(n_tokens) AS BIGINT)) AS BIGINT) AS budget
        FROM dom
    ),
    ranked AS (
        SELECT lang, source, n_tokens, cap, budget,
               ROW_NUMBER() OVER (ORDER BY cap ASC, lang ASC, source ASC) AS r,
               CAST(COALESCE(SUM(cap) OVER (ORDER BY cap ASC, lang ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre,
               COUNT(*) OVER () AS n_dom
        FROM dom CROSS JOIN b
    ),
    flagged AS (
        SELECT *,
               CASE WHEN cap * (n_dom - r + 1) <= budget - pre THEN 1 ELSE 0 END AS capped
        FROM ranked
    ),
    tot AS (
        SELECT *,
               CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN cap END) OVER (), 0) AS BIGINT) AS capped_sum,
               CAST(COUNT(*) OVER () - SUM(capped) OVER () AS BIGINT) AS n_uncapped
        FROM flagged
    )
    SELECT lang, source, n_tokens, cap, capped,
           (CASE WHEN capped = 1 THEN CAST(cap AS DOUBLE)
                 ELSE ROUND((budget - capped_sum) / n_uncapped, 4) END) + 0.0
               AS alloc_tokens,
           ROUND(
               (CASE WHEN capped = 1 THEN CAST(cap AS DOUBLE)
                ELSE ROUND((budget - capped_sum) / n_uncapped, 4) END) / n_tokens,
               4) + 0.0 AS epochs
    FROM tot
    """,
)

_register(
    "tx18_zipf_fit",
    TX.zipf_fit,
    f"""
    WITH terms AS (
        SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    freqs AS (
        SELECT source, term, COUNT(*) AS freq FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY freq DESC, term ASC) AS rank
        FROM freqs
    ),
    pts AS (
        SELECT source,
               CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(12,6)) AS lx,
               CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(12,6)) AS ly
        FROM ranked WHERE rank <= {TX.ZIPF_TOP_TERMS}
    ),
    agg AS (
        SELECT source,
               COUNT(*) AS n_terms,
               CAST(SUM(lx) AS DOUBLE) AS sx,
               CAST(SUM(ly) AS DOUBLE) AS sy,
               CAST(SUM(lx * ly) AS DOUBLE) AS sxy,
               CAST(SUM(lx * lx) AS DOUBLE) AS sxx
        FROM pts GROUP BY 1
    )
    SELECT source, n_terms,
           ROUND((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 4) + 0.0
               AS zipf_slope,
           ROUND((sy - ((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)) * sx)
                 / n_terms, 4) + 0.0 AS zipf_intercept
    FROM agg
    WHERE n_terms >= 2
    """,
)

_register(
    "d19_bloom_decontamination",
    D.bloom_decontamination,
    f"""
    WITH {OD._SHINGLES_CTE},
    seeds AS (SELECT unnest(range(0, {D.BLOOM_HASHES})) AS s),
    bench_bits AS (
        SELECT DISTINCT
               ('0x' || substr(md5('bloom' || s.s || '|' || shingle), 1, 15))::BIGINT
                   % {D.BLOOM_BITS} AS bit
        FROM sh, seeds s WHERE doc_id % {D.DECON_BENCH_MOD} = 0
    ),
    cb AS (
        SELECT DISTINCT doc_id, shingle,
               ('0x' || substr(md5('bloom' || s.s || '|' || shingle), 1, 15))::BIGINT
                   % {D.BLOOM_BITS} AS bit
        FROM sh, seeds s WHERE doc_id % {D.DECON_BENCH_MOD} <> 0
    ),
    need AS (SELECT doc_id, shingle, COUNT(*) AS n_need FROM cb GROUP BY 1, 2),
    matched AS (
        SELECT c.doc_id, c.shingle, COUNT(*) AS n_match
        FROM cb c JOIN bench_bits b ON c.bit = b.bit GROUP BY 1, 2
    ),
    pos AS (
        SELECT m.doc_id
        FROM matched m JOIN need n ON m.doc_id = n.doc_id AND m.shingle = n.shingle
        WHERE m.n_match = n.n_need
    ),
    hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM pos GROUP BY 1),
    csizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh
        WHERE doc_id % {D.DECON_BENCH_MOD} <> 0 GROUP BY 1
    )
    SELECT h.doc_id, h.n_hit, c.n_sh,
           ROUND(h.n_hit * 1.0 / c.n_sh, 3) AS hit_frac
    FROM hits h JOIN csizes c ON h.doc_id = c.doc_id
    WHERE h.n_hit >= {D.BLOOM_MIN_OVERLAP}
    """,
)


# st16 shares d19's oracle: the streaming Bloom gate must reproduce the
# offline gate's admission verdicts exactly (same filter, same counts).
ORACLE_SQL["st16_streaming_decontamination"] = ORACLE_SQL[
    "d19_bloom_decontamination"
]

from .plans.curation import auto_curation, dedup_cascade  # noqa: E402


def _cascade_oracle(lsh_inner: str, lead_ctes: str = "", extra_cols: str = "", final_select: str = "") -> str:
    """The dedup-cascade oracle, shared by e2e_dedup_cascade (fixed cap)
    and e2e_auto_curation (cap + k derived in SQL via `lead_ctes`, exposed
    through `extra_cols`) so the two can never drift. `lsh_inner` is the
    capped-LSH pair SQL; its nested WITH shadows any same-named lead CTEs
    (DuckDB lexical scoping, verified). `final_select` overrides the
    default 4-row profile tail (e2e_dedup_manifest emits per-doc rows
    from the same `flags` CTE instead)."""
    final = final_select or f"""SELECT CAST(0 AS BIGINT) AS stage, 'input' AS stage_name,
           CAST(0 AS BIGINT) AS docs_removed,
           n0 AS docs_remaining, t0 AS tokens_remaining{extra_cols}
    FROM agg
    UNION ALL
    SELECT 1, 'exact', r1, n0 - r1, t0 - tt1{extra_cols} FROM agg
    UNION ALL
    SELECT 2, 'minhash_lsh', r2, n0 - r1 - r2, t0 - tt1 - tt2{extra_cols} FROM agg
    UNION ALL
    SELECT 3, 'semdedup', r3, n0 - r1 - r2 - r3, t0 - tt1 - tt2 - tt3{extra_cols} FROM agg"""
    return f"""
    WITH RECURSIVE
    {lead_ctes}d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    ex AS (
        SELECT doc_id FROM (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
            FROM documents
        ) WHERE doc_id <> canon
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM ({lsh_inner}) lsh
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    lsh_losers AS (
        SELECT node AS doc_id FROM cc GROUP BY node HAVING node <> MIN(label)
    ),
    cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
        SELECT vec_id, cid, ee,
               ROUND(list_cosine_similarity(ee, ce), 3) + 0.0 AS cos_c
        FROM (
            SELECT e.vec_id, e.ee, c.cid, c.ce,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sem AS (
        SELECT DISTINCT a.vec_id AS doc_id
        FROM scored a JOIN scored b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id
        WHERE ROUND(list_cosine_similarity(a.ee, b.ee), 3) + 0.0
                  >= {D.SEMDEDUP_TAU}
          AND (b.cos_c < a.cos_c OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id))
    ),
    flags AS (
        SELECT d.doc_id, d.n_tokens,
               (ex.doc_id IS NOT NULL) AS f1,
               (l.doc_id IS NOT NULL) AS f2,
               (s.doc_id IS NOT NULL) AS f3
        FROM d
        LEFT JOIN ex ON ex.doc_id = d.doc_id
        LEFT JOIN lsh_losers l ON l.doc_id = d.doc_id
        LEFT JOIN sem s ON s.doc_id = d.doc_id
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(n_tokens) AS BIGINT) AS t0,
               CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN f1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tt1,
               CAST(SUM(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN NOT f1 AND f2 THEN n_tokens ELSE 0 END) AS BIGINT) AS tt2,
               CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
               CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN n_tokens ELSE 0 END) AS BIGINT) AS tt3
        FROM flags
    )
    {final}
    """


_register(
    "e2e_dedup_cascade",
    dedup_cascade,
    _cascade_oracle(OD.minhash_lsh_capped(D.LSH_MAX_BUCKET_DEFAULT)),
)

# e2e_dedup_manifest: the per-document removal manifest — the SAME flags
# CTE as the cascade, finished with a row-level first-catch projection
# instead of the profile aggregate, so profile and manifest can never
# attribute differently.
from .plans.curation import dedup_manifest  # noqa: E402

_register(
    "e2e_dedup_manifest",
    dedup_manifest,
    _cascade_oracle(
        OD.minhash_lsh_capped(D.LSH_MAX_BUCKET_DEFAULT),
        final_select="""SELECT doc_id, n_tokens,
           CAST(CASE WHEN f1 THEN 1 WHEN f2 THEN 2 ELSE 3 END AS BIGINT) AS stage,
           CASE WHEN f1 THEN 'exact' WHEN f2 THEN 'minhash_lsh'
                ELSE 'semdedup' END AS stage_name
    FROM flags WHERE f1 OR f2 OR f3""",
    ),
)

# e2e_auto_curation: the cascade under DATA-DERIVED knobs. The oracle
# recomputes choose_lsh_bucket_cap (band-profile CTE -> autocap) and
# choose_semdedup_k (embeddings count -> autok) in SQL, feeds the cap into
# the capped-LSH subquery as a scalar subquery, and exposes both knobs as
# output columns — so the hash verifies the sizing formulas cross-engine,
# not just the attrition numbers under them.
_register(
    "e2e_auto_curation",
    auto_curation,
    _cascade_oracle(
        OD.minhash_lsh_capped("(SELECT cap FROM autocap)"),
        lead_ctes=(
            OD.autocap_ctes()
            + f""",
    autok AS (
        SELECT CAST(GREATEST(16, COUNT(*) // {D.SEMDEDUP_CELL_TARGET}) AS BIGINT) AS k
        FROM embeddings
    ),
    """
        ),
        extra_cols=(
            ", (SELECT cap FROM autocap) AS lsh_bucket_cap"
            ", (SELECT k FROM autok) AS semdedup_k"
        ),
    ),
)

_register(
    "t13_bloom_index_refresh",
    RF.bloom_index_refresh,
    f"""
    WITH {OD._SHINGLES_CTE},
    seeds AS (SELECT unnest(range(0, {D.BLOOM_HASHES})) AS s),
    bits AS (
        SELECT ('0x' || substr(md5('bloom' || s.s || '|' || shingle), 1, 15))::BIGINT
                   % {D.BLOOM_BITS} AS bit,
               doc_id
        FROM sh, seeds s WHERE doc_id % {D.DECON_BENCH_MOD} = 0
    ),
    stored AS (SELECT DISTINCT bit FROM bits WHERE doc_id < 250),
    alls AS (SELECT DISTINCT bit FROM bits)
    SELECT a.bit, (s.bit IS NULL) AS is_new
    FROM alls a LEFT JOIN stored s ON a.bit = s.bit
    """,
)

# t14 shares st19's oracle: the stored+delta algebraic merge must equal
# the full recompute bit-for-bit (count adds; max/min merge exactly; the
# 9-digit rounds are monotone, so merged rounded maxes == rounded global
# max).
_register(
    "t14_sq8_store_refresh",
    RF.sq8_store_refresh,
    ORACLE_SQL["st19_streaming_sq8_ingest"],
)

# t15: the ACTION behind t14's split-cell trigger — deterministic
# (iteration-free, RNG-free, ties totally ordered) hot-cell 2-split, so
# the repair itself is oracle-verified like any read query.
_register(
    "t15_cell_split_repair",
    RF.cell_split_repair,
    """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, ee AS ce FROM e WHERE vec_id < 16),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    occ AS (SELECT cid, COUNT(*) AS n_vecs FROM assigned GROUP BY 1),
    tot AS (SELECT SUM(n_vecs) AS n_total FROM occ),
    hot AS (
        SELECT cid FROM occ, tot WHERE n_vecs * 10 * 16 > 11 * n_total
    ),
    members AS (
        SELECT a.vec_id, a.cid, a.ee FROM assigned a JOIN hot USING (cid)
    ),
    seed_a AS (SELECT cid, MIN(vec_id) AS a_vec FROM members GROUP BY 1),
    seed_a_e AS (
        SELECT s.cid, s.a_vec, m.ee AS a_emb
        FROM seed_a s JOIN members m ON m.cid = s.cid AND m.vec_id = s.a_vec
    ),
    da AS (
        SELECT m.cid, m.vec_id, m.ee, s.a_vec,
               list_distance(m.ee, s.a_emb) AS dist_a
        FROM members m JOIN seed_a_e s ON m.cid = s.cid
    ),
    seed_b_e AS (
        SELECT cid, vec_id AS b_vec, ee AS b_emb FROM (
            SELECT cid, vec_id, ee, ROW_NUMBER() OVER (
                PARTITION BY cid ORDER BY dist_a DESC, vec_id ASC
            ) AS rn FROM da
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT d.cid, d.vec_id, d.a_vec, b.b_vec, d.dist_a,
               list_distance(d.ee, b.b_emb) AS dist_b
        FROM da d JOIN seed_b_e b ON d.cid = b.cid
    ),
    sub AS (
        SELECT cid,
               CASE WHEN dist_a <= dist_b THEN a_vec ELSE b_vec END
                   AS seed_vec_id,
               CASE WHEN dist_a <= dist_b THEN dist_a ELSE dist_b END
                   AS d_sub
        FROM scored
    )
    SELECT cid, seed_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(MAX(d_sub), 3) + 0.0 AS r_sub
    FROM sub GROUP BY 1, 2
    ORDER BY cid, seed_vec_id
    """,
)

# t17: cold-cell merge — t15's inverse, completing the geometry-repair
# pair (split hot / merge cold). Deterministic target choice (nearest
# non-cold centroid, ties → min cid) + exact integer cold threshold ⇒
# oracle reproduces the repair bit-for-bit.
_register(
    "t17_cell_merge_repair",
    RF.cell_merge_repair,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    occ AS (SELECT cid, COUNT(*) AS n_vecs FROM assigned GROUP BY cid),
    tot AS (SELECT SUM(n_vecs) AS n_total FROM occ),
    flagged AS (
        SELECT cid, n_vecs,
               (n_vecs * 10 * 16 < 9 * n_total) AS is_cold
        FROM occ, tot
    ),
    chosen AS (
        SELECT cold_cid, n_moved, tgt_cid FROM (
            SELECT f.cid AS cold_cid, f.n_vecs AS n_moved, g.cid AS tgt_cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.cid
                       ORDER BY list_distance(cc.ce, tc.ce) ASC, g.cid ASC
                   ) AS rn
            FROM flagged f
            JOIN cents cc ON f.cid = cc.cid
            JOIN flagged g ON NOT g.is_cold
            JOIN cents tc ON g.cid = tc.cid
            WHERE f.is_cold
        ) WHERE rn = 1
    ),
    members AS (
        SELECT ch.cold_cid, ch.n_moved, ch.tgt_cid,
               list_distance(a.ee, tc.ce) AS dt
        FROM assigned a
        JOIN chosen ch ON a.cid = ch.cold_cid OR a.cid = ch.tgt_cid
        JOIN cents tc ON ch.tgt_cid = tc.cid
    )
    SELECT cold_cid, tgt_cid,
           CAST(MAX(n_moved) AS BIGINT) AS n_moved,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           ROUND(MAX(dt), 9) + 0.0 AS r_target_after
    FROM members GROUP BY 1, 2
    """,
)

# t16b: t16's stored-layout production form — the vec_id→cid map read
# from the quantized clustered store (no assignment pass), member
# vectors fetched via one broadcast-bounded source scan. Same output by
# construction (shared _delete_repair_stats) ⇒ same oracle — the
# physical-form pair pattern (v7/v13, v26/st21). Registered after t16's
# entry below so the SQL can be shared.

# t16: delete propagation (right-to-be-forgotten) through the clustered
# store — per-affected-cell survivor count + re-tightened radius, the
# exact statistics v24/v25's probes read. Deterministic delete list +
# deterministic assignment, so the repair record is oracle-verified like
# t15 (a write-path action checked as a query). Cells the delete list
# never touched must be ABSENT (they are never read or rewritten).
_register(
    "t16_store_delete_repair",
    RF.store_delete_repair,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    flagged AS (
        SELECT a.vec_id, a.cid, a.ee, (a.vec_id % 41 = 5) AS is_del,
               list_distance(a.ee, c.ce) AS dc
        FROM assigned a JOIN cents c ON a.cid = c.cid
    ),
    affected AS (SELECT DISTINCT cid FROM flagged WHERE is_del)
    SELECT f.cid,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           CAST(SUM(CASE WHEN is_del THEN 0 ELSE 1 END) AS BIGINT) AS n_after,
           COALESCE(ROUND(MAX(CASE WHEN NOT is_del THEN dc END), 9), 0.0) + 0.0
               AS r_cell_after
    FROM flagged f JOIN affected a ON f.cid = a.cid
    GROUP BY f.cid
    """,
)

QUERIES["t16b_store_delete_repair_stored"] = RF.store_delete_repair_stored
ORACLE_SQL["t16b_store_delete_repair_stored"] = ORACLE_SQL[
    "t16_store_delete_repair"
]


# st22: the erasure queue as a STREAM — t16b's always-on twin; the
# fixture feeds the whole delete set as one request wave, so the batch
# op is the exact oracle (shared SQL). Wave-commutativity for disjoint
# cell sets is unit-tested.
def _st22_streaming_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_erasure

    return streaming_erasure(spark, sf_dir)


QUERIES["st22_streaming_erasure"] = _st22_streaming_erasure
ORACLE_SQL["st22_streaming_erasure"] = ORACLE_SQL["t16_store_delete_repair"]

_register(
    "smp13_mixture_epochs",
    SMP.mixture_epochs,
    f"""
    WITH dom AS (
        SELECT lang, source,
               CAST(FLOOR(epochs) AS BIGINT) AS full_epochs,
               CAST(ROUND((epochs - FLOOR(epochs)) * 1000000) AS BIGINT) AS frac_ppm
        FROM ({{smp11}}) u
    )
    SELECT d.doc_id, d.lang, d.source,
           full_epochs
             + CASE WHEN {_h60("'epoch|' || CAST(doc_id AS VARCHAR)")} % 1000000
                         < frac_ppm
                    THEN 1 ELSE 0 END AS n_repeats
    FROM documents d JOIN dom USING (lang, source)
    """,
)
# smp13's oracle embeds smp11's verbatim so the two can never drift
ORACLE_SQL["smp13_mixture_epochs"] = ORACLE_SQL["smp13_mixture_epochs"].format(
    smp11=ORACLE_SQL["smp11_unimax_budget"]
)

_register(
    "smp12_curriculum_order",
    SMP.curriculum_order,
    f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
        WHERE text IS NOT NULL
    ),
    dist AS (SELECT n_tokens, COUNT(*) AS c FROM d GROUP BY 1),
    cum AS (
        SELECT n_tokens,
               CAST(SUM(c) OVER (ORDER BY n_tokens ASC) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM dist
    ),
    staged AS (
        SELECT n_tokens,
               CAST((cum * {SMP.CURRICULUM_STAGES} - 1) // n AS INTEGER) AS stage
        FROM cum
    ),
    sharded AS (
        SELECT d.doc_id, d.n_tokens, s.stage,
               {_h60("'curshard|' || CAST(doc_id AS VARCHAR)")}
                   % {SMP.CURRICULUM_SHARDS} AS shard,
               {_h60("'curorder|' || CAST(doc_id AS VARCHAR)")}
                   % 1000000000 AS h
        FROM d JOIN staged s USING (n_tokens)
    )
    SELECT doc_id, n_tokens, stage, CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY stage, shard ORDER BY h ASC, doc_id ASC
           ) AS BIGINT) AS pos
    FROM sharded
    """,
)

_register(
    "tx19_quality_classifier",
    TX.quality_classifier,
    f"""
    WITH arr AS (
        SELECT doc_id, source,
               CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
               regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    tok AS (SELECT doc_id, y, len(words) AS n, unnest(words) AS term FROM arr),
    wf AS (
        SELECT doc_id, y, {_h60("'qcls|' || term")} % {TX.QCLS_BUCKETS} AS b,
               ROUND(COUNT(*) * 1.0 / n, 9) AS x
        FROM tok GROUP BY doc_id, y, b, n
    ),
    feat AS (
        SELECT doc_id, y, b, x FROM wf
        UNION ALL
        SELECT doc_id, y, {TX.QCLS_BIAS} AS b, 1.0 AS x FROM arr
    ),
    nd AS (SELECT COUNT(*) AS nd FROM arr),
    -- round 1 from w0 = 0: z = 0, p = 0.5, err = y - 0.5
    w1 AS (
        SELECT b,
               ROUND({TX.QCLS_LR}
                     * (CAST(SUM(CAST(ROUND(x * (y - 0.5), 9) AS DECIMAL(20,9)))
                             AS DOUBLE) / nd.nd), 9) + 0.0 AS w
        FROM feat, nd GROUP BY b, nd.nd
    ),
    z2 AS (
        SELECT f.doc_id, f.y,
               CAST(SUM(CAST(ROUND(f.x * COALESCE(w1.w, 0.0), 9) AS DECIMAL(20,9)))
                    AS DOUBLE) AS z
        FROM feat f LEFT JOIN w1 USING (b) GROUP BY f.doc_id, f.y
    ),
    p2 AS (
        SELECT doc_id, y,
               ROUND(0.5 + z / (2.0 * (1.0 + ABS(z))), 9) + 0.0 AS p
        FROM z2
    ),
    w2 AS (
        SELECT f.b,
               ROUND(MAX(COALESCE(w1.w, 0.0))
                     + {TX.QCLS_LR}
                       * (CAST(SUM(CAST(ROUND(f.x * (p2.y - p2.p), 9)
                                        AS DECIMAL(20,9))) AS DOUBLE) / nd.nd),
                     9) + 0.0 AS w
        FROM feat f
        JOIN p2 ON f.doc_id = p2.doc_id
        LEFT JOIN w1 ON f.b = w1.b, nd
        GROUP BY f.b, nd.nd
    ),
    z3 AS (
        SELECT f.doc_id,
               CAST(SUM(CAST(ROUND(f.x * COALESCE(w2.w, 0.0), 9) AS DECIMAL(20,9)))
                    AS DOUBLE) AS z
        FROM feat f LEFT JOIN w2 USING (b) GROUP BY f.doc_id
    ),
    p3 AS (
        SELECT doc_id,
               ROUND(0.5 + z / (2.0 * (1.0 + ABS(z))), 9) + 0.0 AS p
        FROM z3
    )
    SELECT d.doc_id, d.source, ROUND(p3.p, 6) + 0.0 AS score,
           p3.p >= 0.5 AS keep
    FROM documents d JOIN p3 USING (doc_id)
    """,
)

# st17 shares tx19's oracle: ingest-time scoring is a pure per-row twin of
# the batch scorer (exact scaled-integer dot), so verdicts must match
# bit-for-bit.
ORACLE_SQL["st17_streaming_quality_gate"] = ORACLE_SQL[
    "tx19_quality_classifier"
]

_register(
    "d20_semantic_decontamination",
    D.semantic_decontamination,
    f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
        SELECT vec_id, cid, ee FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    )
    SELECT c.vec_id, c.cid,
           CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           MAX(ROUND(list_cosine_similarity(c.ee, b.ee), 3) + 0.0) + 0.0 AS max_cos
    FROM scored c JOIN scored b ON c.cid = b.cid
    WHERE c.vec_id % {D.DECON_BENCH_MOD} <> 0 AND b.vec_id % {D.DECON_BENCH_MOD} = 0
      AND ROUND(list_cosine_similarity(c.ee, b.ee), 3) + 0.0 >= {D.SEMDECON_TAU}
    GROUP BY c.vec_id, c.cid
    """,
)

# st18 shares d20's oracle: same centroids, same safe-unit normalization,
# same rounded dot fold — streamed audit == offline audit.
ORACLE_SQL["st18_streaming_semantic_decon"] = ORACLE_SQL[
    "d20_semantic_decontamination"
]

# e2e_decon_report: the decon family's cascade — three tier audits with
# first-catch attribution. The oracle embeds each tier's registered SQL
# VERBATIM (the smp13 move), so the report can never drift from the tiers
# it aggregates.
from .plans.curation import decon_report  # noqa: E402

_register(
    "e2e_decon_report",
    decon_report,
    f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents WHERE doc_id % {D.DECON_BENCH_MOD} <> 0
    ),
    ex AS (SELECT doc_id FROM ({{d12}}) x),
    bl AS (SELECT doc_id FROM ({{d19}}) x),
    se AS (SELECT vec_id AS doc_id FROM ({{d20}}) x),
    flags AS (
        SELECT d.doc_id, d.n_tokens,
               (ex.doc_id IS NOT NULL) AS f1,
               (bl.doc_id IS NOT NULL) AS f2,
               (se.doc_id IS NOT NULL) AS f3
        FROM d
        LEFT JOIN ex ON ex.doc_id = d.doc_id
        LEFT JOIN bl ON bl.doc_id = d.doc_id
        LEFT JOIN se ON se.doc_id = d.doc_id
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(n_tokens) AS BIGINT) AS t0,
               CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN f1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tt1,
               CAST(SUM(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN NOT f1 AND f2 THEN n_tokens ELSE 0 END) AS BIGINT) AS tt2,
               CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
               CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN n_tokens ELSE 0 END) AS BIGINT) AS tt3
        FROM flags
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'input' AS stage_name,
           CAST(0 AS BIGINT) AS docs_removed,
           n0 AS docs_remaining, t0 AS tokens_remaining
    FROM agg
    UNION ALL
    SELECT 1, 'exact_ngram', r1, n0 - r1, t0 - tt1 FROM agg
    UNION ALL
    SELECT 2, 'bloom', r2, n0 - r1 - r2, t0 - tt1 - tt2 FROM agg
    UNION ALL
    SELECT 3, 'semantic', r3, n0 - r1 - r2 - r3, t0 - tt1 - tt2 - tt3 FROM agg
    """.format(
        d12=ORACLE_SQL["d12_decontamination"],
        d19=ORACLE_SQL["d19_bloom_decontamination"],
        d20=ORACLE_SQL["d20_semantic_decontamination"],
    ),
)

_register(
    "v22_hier_ivf_topk",
    S.hier_ivf_topk,
    f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings),
    lvl1 AS (
        SELECT e.vec_id, c.cid // {S.HIER_GROUP_SIZE} AS gid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.ee, c.ce) ASC,
                            c.cid // {S.HIER_GROUP_SIZE} ASC
               ) AS rn
        FROM e JOIN cents c ON c.cid % {S.HIER_GROUP_SIZE} = 0
    ),
    chosen AS (SELECT vec_id, gid FROM lvl1 WHERE rn <= {S.HIER_G_PROBE}),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM e
            JOIN chosen ch ON ch.vec_id = e.vec_id
            JOIN cents c ON c.cid // {S.HIER_GROUP_SIZE} = ch.gid
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
        LIMIT 4
    )
    SELECT a.vec_id, a.label, a.cid,
           ROUND(list_cosine_similarity(a.ee, q.qe), 3) + 0.0 AS cos_sim
    FROM assigned a JOIN probe p ON a.cid = p.cid, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 8
    """,
)


# ---------------------------------------------------------------------------
# Registration-order priority
# ---------------------------------------------------------------------------
# The driver's correctness harness samples a PREFIX of the registered queries
# (50 in rounds 1-2), so registration order decides which operators get a
# driver-verified row. The repo's own parity gate (tests/test_oracle_parity.py)
# checks ALL of them regardless; this prefix simply front-loads the flagship
# ops — ANN tiers, temporal/bucketed joins, dedup clustering, the curation
# e2e, streaming parity — so the strongest work is also externally verified.

# ---------------------------------------------------------------------------
# v29: random-projection prefilter — the oracle reproduces BOTH phases with
# the same left-associated arithmetic, so the coarse cut needs no rounding
# slack and the served set matches exactly, approximation included.
# ---------------------------------------------------------------------------


def _rp_proj_sql(arr: str, row) -> str:
    return " + ".join(f"{arr}[{j + 1}] * ({s!r})" for j, s in enumerate(row))


def _rp_chain_sql(a: str, b: str, n: int) -> str:
    # mirrors F.aggregate's fold: 0.0 + a0*b0 + a1*b1 + ... (left-assoc)
    return "0.0 + " + " + ".join(f"{a}{i} * {b}{i}" for i in range(n))


def _v29_sql() -> str:
    qproj = ",\n               ".join(
        f"{_rp_proj_sql('qe', row)} AS q{i}" for i, row in enumerate(S.RP_SIGNS)
    )
    eproj = ",\n               ".join(
        f"{_rp_proj_sql('ee', row)} AS p{i}" for i, row in enumerate(S.RP_SIGNS)
    )
    dot = _rp_chain_sql("p", "q", S.RP_DIM)
    na = _rp_chain_sql("p", "p", S.RP_DIM)
    nb = _rp_chain_sql("q", "q", S.RP_DIM)
    return f"""
    WITH qv AS (
        SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
    ),
    qp AS (
        SELECT qe,
               {qproj}
        FROM qv
    ),
    ev AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS ee
        FROM embeddings WHERE vec_id <> 0
    ),
    ep AS (
        SELECT vec_id, label, ee,
               {eproj}
        FROM ev
    ),
    coarse AS (
        SELECT ep.vec_id, ep.label, ep.ee, qp.qe,
               CASE WHEN sqrt({na}) * sqrt({nb}) > 0
                    THEN ({dot}) / (sqrt({na}) * sqrt({nb}))
                    ELSE -1.0 END AS coarse
        FROM ep, qp
        ORDER BY coarse DESC, vec_id ASC
        LIMIT {S.RP_COARSE_C}
    )
    SELECT vec_id, label,
           ROUND(list_cosine_similarity(ee, qe), 3) + 0.0 AS cos_sim
    FROM coarse
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 8
    """


_register("v29_random_projection_topk", S.random_projection_topk, _v29_sql())



def _st23_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.event_stream import streaming_cms_heavy_hitters

    return streaming_cms_heavy_hitters(spark, sf_dir)


QUERIES["st23_streaming_cms_heavy_hitters"] = _st23_streaming_cms
# st23 shares a27's oracle: the sketch is ONE streaming aggregation of
# integer cell counts (exact, order-free), and the point-estimation
# finisher runs downstream on the completed 2048-row synopsis — so the
# streamed table equals the batch table bit-for-bit once the stream has
# consumed the full corpus.
ORACLE_SQL["st23_streaming_cms_heavy_hitters"] = ORACLE_SQL[
    "a27_cms_heavy_hitters"
]


from .plans.bucketing import rp_stored_topk  # noqa: E402

QUERIES["v29b_rp_stored_topk"] = rp_stored_topk
# v29b shares v29's oracle (the v7/v13/v27b physical-form-twin pattern):
# the stored projection holds the exact doubles the on-the-fly form
# computes, so the coarse candidate set and the re-ranked served set are
# identical — only the plan differs (store scan + pushed IN re-rank).
ORACLE_SQL["v29b_rp_stored_topk"] = ORACLE_SQL["v29_random_projection_topk"]


# smp14: Efraimidis-Spirakis weighted sampling without replacement — the
# fixed-size counterpart to smp8's Bernoulli resample; ln(u)/w keys with
# round-9 ordering so the cut is cross-engine reproducible.
_register(
    "smp14_weighted_sample",
    SMP.weighted_sample,
    f"""
    WITH w AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    m AS (
        SELECT doc_id, source,
               len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq
        FROM w
    ),
    q AS (
        SELECT doc_id, source,
               ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n)
                     + 0.3 * (1.0 - n_stop / n), 3) AS quality
        FROM m
    ),
    keyed AS (
        SELECT doc_id, source, quality,
               ROUND(
                   ln({{u}}) / GREATEST(quality, {SMP.WSAMP_MIN_W}), 9
               ) + 0.0 AS es_key
        FROM q
    )
    SELECT doc_id, source, quality, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id ASC
    LIMIT {SMP.WSAMP_N}
    """.replace(
        # +1 maps hash60's [0, 2^60) onto (0, 1]: u can never be exactly 0,
        # where Spark F.log -> NULL but DuckDB ln(0) -> -inf (ADVICE r7).
        "{u}",
        "(" + _h60("'wsamp|' || CAST(doc_id AS VARCHAR)") + f" + 1) / {float(1 << 60)}",
    ),
)


# ---------------------------------------------------------------------------
# t18: APPLIED maintenance — the write side of the t15 repair, executed
# against the published store as a snapshot transition (new files for the
# split cells, the manifest's seeds and radii updated), then SERVED
# through the new snapshot's geometry (plans/published.py). Every step is
# deterministic (t15's split rule, rank-ordered new-cid allocation,
# SQ8 codes, seed-distance probe), so the oracle replays the entire
# split→route→serve pipeline in SQL and the served set hash-verifies WITH
# the repair applied — the d3c/v22 "approximation inside the oracle" move
# extended to a store MUTATION. t18 and t26 serve the same epoch 2 of the
# shared published root. Reference anchor: the rebuild-everything
# refresh this replaces (src/server/app/embed/refresh.py:28-143).
# ---------------------------------------------------------------------------


def _published_split_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.published import (
        publish_init,
        publish_repair,
        published_epochs,
        published_served_topk,
    )

    publish_init(spark, sf_dir, n_centroids=16)
    if max(published_epochs(spark, sf_dir, 16)) < 2:
        # epoch 2 = deterministic nearest-seed split of the build (t15's
        # rule at 1.1x); cold thresholds unreachable so no merges ride in
        rep = publish_repair(
            spark, sf_dir, 16, 11, 10, 0, 1, balanced=False
        )
        assert rep["epoch"] == 2, rep
    return published_served_topk(
        spark, sf_dir, query_id=0, k=8, n_probe=4, n_centroids=16, epoch=2
    )


QUERIES["t18_applied_split_serve"] = _published_split_serve
ORACLE_SQL["t18_applied_split_serve"] = f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, ee AS ce FROM e WHERE vec_id < 16),
    q AS (SELECT ee AS qe FROM e WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    occ AS (SELECT cid, COUNT(*) AS n_vecs FROM assigned GROUP BY 1),
    tot AS (SELECT SUM(n_vecs) AS n_total FROM occ),
    hot0 AS (
        SELECT cid FROM occ, tot WHERE n_vecs * 10 * 16 > 11 * n_total
    ),
    members AS (
        SELECT a.vec_id, a.label, a.ee, a.cid
        FROM assigned a JOIN hot0 USING (cid)
    ),
    seed_a AS (SELECT cid, MIN(vec_id) AS a_vec FROM members GROUP BY 1),
    seed_a_e AS (
        SELECT s.cid, s.a_vec, m.ee AS a_emb
        FROM seed_a s JOIN members m ON m.cid = s.cid AND m.vec_id = s.a_vec
    ),
    da AS (
        SELECT m.cid, m.vec_id, m.label, m.ee, s.a_vec,
               list_distance(m.ee, s.a_emb) AS dist_a
        FROM members m JOIN seed_a_e s ON m.cid = s.cid
    ),
    seed_b_e AS (
        SELECT cid, vec_id AS b_vec, ee AS b_emb FROM (
            SELECT cid, vec_id, ee, ROW_NUMBER() OVER (
                PARTITION BY cid ORDER BY dist_a DESC, vec_id ASC
            ) AS rn FROM da
        ) WHERE rn = 1
    ),
    -- degenerate guard (all-identical cell: seed B == seed A): such a
    -- cell cannot split and stays as-is, matching publish_repair
    hot AS (
        SELECT a.cid, a.a_vec, b.b_vec
        FROM seed_a a JOIN seed_b_e b ON a.cid = b.cid
        WHERE a.a_vec <> b.b_vec
    ),
    newmap AS (
        SELECT cid, a_vec, b_vec,
               (SELECT MAX(cid) FROM occ)
                   + ROW_NUMBER() OVER (ORDER BY cid ASC) AS new_cid
        FROM hot
    ),
    scored AS (
        SELECT d.cid, d.vec_id, d.label, d.ee, n.a_vec, n.b_vec, n.new_cid,
               d.dist_a, list_distance(d.ee, b.b_emb) AS dist_b
        FROM da d
        JOIN newmap n ON d.cid = n.cid
        JOIN seed_b_e b ON d.cid = b.cid
    ),
    repaired AS (
        SELECT a.vec_id, a.label, a.ee, a.cid AS rcid
        FROM assigned a
        WHERE a.cid NOT IN (SELECT cid FROM hot)
        UNION ALL
        SELECT s.vec_id, s.label, s.ee,
               CASE WHEN s.dist_a <= s.dist_b THEN s.cid
                    ELSE s.new_cid END AS rcid
        FROM scored s
    ),
    geom AS (
        SELECT cid, cid AS seed FROM occ
        WHERE cid NOT IN (SELECT cid FROM hot)
        UNION ALL SELECT cid, a_vec AS seed FROM newmap
        UNION ALL SELECT new_cid AS cid, b_vec AS seed FROM newmap
    ),
    seeds AS (
        SELECT g.cid, e.ee AS ce FROM geom g JOIN e ON e.vec_id = g.seed
    ),
    probe AS (
        SELECT s.cid FROM seeds s, q
        ORDER BY list_distance(s.ce, q.qe) ASC, s.cid ASC
        LIMIT 4
    ),
    sc AS (
        SELECT vec_id, label, rcid, ee,
               list_max(list_transform(ee, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS scale
        FROM repaired
    ),
    qcodes AS (
        SELECT vec_id, label, rcid,
               CASE WHEN scale > 0
                    THEN list_transform(ee, x -> round(x / scale))
                    ELSE list_transform(ee, x -> 0.0) END AS c
        FROM sc
    )
    SELECT a.vec_id, a.label, CAST(a.rcid AS BIGINT) AS cid,
           ROUND(list_cosine_similarity(a.c, q.qe), 3) + 0.0 AS cos_sim
    FROM qcodes a JOIN probe p ON a.rcid = p.cid, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT 8
    """


# t19: the maintenance DECISION table — t14 detects, t19 decides,
# publish_repair (plans/published.py) executes. Exact integer
# thresholds + deterministic target choice ⇒ the whole policy is
# hash-verified like any read query.
_register(
    "t19_repair_plan",
    RF.repair_plan,
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e
            CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    occ AS (SELECT cid, COUNT(*) AS n_vecs FROM assigned GROUP BY cid),
    tot AS (SELECT SUM(n_vecs) AS n_total FROM occ),
    flagged AS (
        SELECT cid, n_vecs, n_total,
               (n_vecs * 10 * 16 > 11 * n_total) AS is_hot,
               (n_vecs * 10 * 16 < 9 * n_total) AS is_cold
        FROM occ, tot
    ),
    targets AS (
        SELECT cid AS m_cid, tcid AS tgt FROM (
            SELECT f.cid, g.cid AS tcid,
                   ROW_NUMBER() OVER (
                       PARTITION BY f.cid
                       ORDER BY list_distance(cc.ce, tc.ce) ASC, g.cid ASC
                   ) AS rn
            FROM flagged f
            JOIN cents cc ON f.cid = cc.cid
            JOIN flagged g ON NOT g.is_cold
            JOIN cents tc ON g.cid = tc.cid
            WHERE f.is_cold
        ) WHERE rn = 1
    )
    SELECT CAST(f.cid AS BIGINT) AS cid,
           CAST(f.n_vecs AS BIGINT) AS n_vecs,
           ROUND(f.n_vecs * 16 / f.n_total, 4) + 0.0 AS occupancy_ratio,
           CASE WHEN f.is_hot THEN 'split'
                WHEN f.is_cold THEN 'merge'
                ELSE 'keep' END AS action,
           CAST(COALESCE(t.tgt, -1) AS BIGINT) AS tgt_cid
    FROM flagged f LEFT JOIN targets t ON f.cid = t.m_cid
    ORDER BY f.cid
    """,
)


# smp15: multiplicative-weights domain reweighting (linearized DoReMi
# update step). No exp(): the factor chain is plain IEEE arithmetic, the
# loss means are integer-permille sums, and the normalizer is a DECIMAL
# sum — so the whole update is hash-verified cross-engine.
_register(
    "smp15_mwu_domain_weights",
    SMP.mwu_domain_weights,
    f"""
    WITH w AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    m AS (
        SELECT doc_id, source,
               len(words) * 1.0 AS n,
               len(list_filter(words, x -> x IN {TX.STOPWORDS!r})) * 1.0 AS n_stop,
               len(list_distinct(words)) * 1.0 AS n_uniq
        FROM w
    ),
    q AS (
        SELECT doc_id, source,
               ROUND(0.4 * LEAST(1.0, n / 50.0) + 0.3 * (n_uniq / n)
                     + 0.3 * (1.0 - n_stop / n), 3) AS quality
        FROM m
    ),
    d AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(CAST(ROUND(quality * 1000) AS BIGINT)) AS sum_ppm
        FROM q GROUP BY source
    ),
    l AS (
        SELECT source, n_docs,
               ROUND(1.0 - sum_ppm / (1000.0 * n_docs), 9) + 0.0 AS loss
        FROM d
    ),
    base AS (SELECT MIN(loss) AS b FROM l),
    x AS (
        SELECT source, n_docs, loss,
               ROUND(loss - b, 9) + 0.0 AS excess
        FROM l, base
    ),
    ft AS (
        SELECT source, n_docs, loss, excess,
               ROUND((1.0 + {SMP.MWU_ETA} * excess)
                     * (1.0 + {SMP.MWU_ETA} * excess)
                     * (1.0 + {SMP.MWU_ETA} * excess), 9) + 0.0 AS ftv
        FROM x
    ),
    s AS (
        SELECT CAST(SUM(CAST(ftv AS DECIMAL(18,9))) AS DOUBLE) AS sv FROM ft
    )
    SELECT source, n_docs, loss, excess,
           ROUND(ftv / sv, 9) + 0.0 AS weight
    FROM ft, s
    ORDER BY source
    """,
)


# v30: dup-profile-routed quantized serving — SCALE.md finding 14 (direct
# SQ8 loses rank fidelity on near-dup-heavy corpora; residual restores it)
# codified as a data-derived knob. The oracle recomputes the d17 bound,
# the threshold compare, AND both serving chains, gating each on the
# recomputed tier — the routing decision itself is hash-verified.
from .plans.bucketing import auto_tier_topk  # noqa: E402


def _v30_auto_tier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return auto_tier_topk(spark, sf_dir)


QUERIES["v30_auto_tier_topk"] = _v30_auto_tier_topk
ORACLE_SQL["v30_auto_tier_topk"] = f"""
    WITH {OD._SHINGLES_CTE},
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS base
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {OD._minhash_cols()}
        FROM hashed
        GROUP BY doc_id
    ),
    bands AS (
        {OD._bands_union()}
    ),
    buckets AS (SELECT band, key, COUNT(*) AS n FROM bands GROUP BY band, key),
    prof AS (
        SELECT band,
               SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS colliding_docs,
               SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS ncb
        FROM buckets GROUP BY band
    ),
    bound AS (
        SELECT COALESCE(MAX(CASE WHEN ncb > 0 THEN colliding_docs END), 0)
                   * 1.0 / (SELECT COUNT(*) FROM documents) AS b
        FROM prof
    ),
    tier AS (
        SELECT CASE WHEN b >= 0.05 THEN 'residual' ELSE 'direct' END AS t
        FROM bound
    ),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ee FROM embeddings),
    cents AS (SELECT vec_id AS cid, ee AS ce FROM e WHERE vec_id < 16),
    q AS (SELECT ee AS qe FROM e WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, label, ee, cid FROM (
            SELECT e.vec_id, e.label, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_distance(c.ce, q.qe) ASC, c.cid ASC
        LIMIT 4
    ),
    dsc AS (
        SELECT vec_id, label, cid, ee,
               list_max(list_transform(ee, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS scale
        FROM assigned
    ),
    dcodes AS (
        SELECT vec_id, label, cid,
               CASE WHEN scale > 0
                    THEN list_transform(ee, x -> round(x / scale))
                    ELSE list_transform(ee, x -> 0.0) END AS c
        FROM dsc
    ),
    direct_out AS (
        SELECT a.vec_id, a.label, CAST(a.cid AS BIGINT) AS cid,
               ROUND(list_cosine_similarity(a.c, q.qe), 3) + 0.0 AS cos_sim,
               'direct' AS tier
        FROM dcodes a JOIN probe p ON a.cid = p.cid, q
        WHERE a.vec_id <> 0
        ORDER BY cos_sim DESC, a.vec_id ASC
        LIMIT 8
    ),
    resid AS (
        SELECT a.vec_id, a.label, a.cid, c.ce,
               list_transform(generate_series(1, len(a.ee)),
                              i -> a.ee[i] - c.ce[i]) AS r
        FROM assigned a JOIN cents c ON a.cid = c.cid
    ),
    rsc AS (
        SELECT vec_id, label, cid, ce, r,
               list_max(list_transform(r, x -> abs(x))) / {S.SQ8_LEVELS}
                   AS rscale
        FROM resid
    ),
    rcodes AS (
        SELECT vec_id, label, cid, ce, rscale,
               CASE WHEN rscale > 0
                    THEN list_transform(r, x -> round(x / rscale))
                    ELSE list_transform(r, x -> 0.0) END AS rc
        FROM rsc
    ),
    recon AS (
        SELECT a.vec_id, a.label, a.cid,
               list_transform(generate_series(1, len(a.rc)),
                              i -> a.ce[i] + a.rc[i] * a.rscale) AS xr
        FROM rcodes a JOIN probe p ON a.cid = p.cid
    ),
    resid_out AS (
        SELECT a.vec_id, a.label, CAST(a.cid AS BIGINT) AS cid,
               ROUND(list_cosine_similarity(a.xr, q.qe), 3) + 0.0 AS cos_sim,
               'residual' AS tier
        FROM recon a, q
        WHERE a.vec_id <> 0
        ORDER BY cos_sim DESC, a.vec_id ASC
        LIMIT 8
    )
    SELECT * FROM direct_out WHERE (SELECT t FROM tier) = 'direct'
    UNION ALL
    SELECT * FROM resid_out WHERE (SELECT t FROM tier) = 'residual'
"""


# t20/t21: sketch MAINTENANCE — the a26 (KMV) and a27 (CMS) synopses are
# algebraic, so stored + delta merge equals the full rebuild bit-for-bit
# (KMV union rule / integer cell sums). Each shares its build op's oracle
# verbatim — the t14/st19 merged-equals-recomputed pattern applied to the
# sketch family, completing its build/serve/maintain triple.
_register(
    "t20_kmv_sketch_refresh",
    RF.kmv_sketch_refresh,
    None,
)
ORACLE_SQL["t20_kmv_sketch_refresh"] = ORACLE_SQL["a26_kmv_distinct_shingles"]
_register(
    "t21_cms_sketch_refresh",
    RF.cms_sketch_refresh,
    None,
)
ORACLE_SQL["t21_cms_sketch_refresh"] = ORACLE_SQL["a27_cms_heavy_hitters"]


# ---------------------------------------------------------------------------
# t22/t23: the maintenance loop DRIVEN BY the decision table (verdict r8
# task 3 — "t19 decides but nothing consumes it"). Each runs ONE
# plan-driven cycle on its own published root: the manifest plan of
# epoch 1 (the build), one publish_repair (executing exactly the plan's
# rows), and the manifest plan of epoch 2 — the CONVERGENCE WITNESS:
# per-cycle action counts for the executed cycle 1 and the would-be
# cycle 2. The DuckDB oracle replays the whole loop — assignment, fixed-
# target thresholds, the BALANCED median-cut split (ROW_NUMBER <=
# ceil(n/2)), nearest-keep merge routing, post-repair occupancy, cycle-2
# re-flagging — so the policy's convergence itself is hash-verified.
# t22's thresholds (hot 1.3x / cold 0.25x of target) exercise the split
# executor; t23's (hot 3x / cold 0.667x) exercise the merge executor.
# Reference anchor: the rebuild-everything refresh this loop replaces
# (src/server/app/embed/refresh.py:28-143).
# ---------------------------------------------------------------------------


def _maintenance_cycle_counts(
    spark: SparkSession, sf_dir: str, hn: int, hd: int, cn: int, cd: int
) -> DataFrame:
    from pyspark.sql import functions as F

    from .plans.published import publish_repair, published_repair_plan, recipe_root

    label = f"cycle{hn}-{hd}-{cn}-{cd}"
    recipe_root(
        spark, sf_dir, 16, label, 2,
        lambda: publish_repair(spark, sf_dir, 16, hn, hd, cn, cd, label=label),
    )
    pre, post = (
        published_repair_plan(spark, sf_dir, 16, hn, hd, cn, cd, epoch=ep, label=label)
        for ep in (1, 2)
    )
    acts = spark.createDataFrame(
        [(c, a) for c in (1, 2) for a in ("split", "merge", "keep")],
        "cycle long, action string",
    )
    cnt = (
        pre.select(F.lit(1).cast("long").alias("cycle"), "action")
        .unionByName(post.select(F.lit(2).cast("long").alias("cycle"), "action"))
        .groupBy("cycle", "action")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        acts.join(cnt, ["cycle", "action"], "left")
        .select(
            "cycle",
            "action",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_cells"),
        )
        .orderBy("cycle", "action")
    )


def _t22_maintenance_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _maintenance_cycle_counts(spark, sf_dir, 13, 10, 1, 4)


def _t23_merge_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _maintenance_cycle_counts(spark, sf_dir, 3, 1, 2, 3)


def _cycle_oracle(hn: int, hd: int, cn: int, cd: int) -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, ee AS ce FROM e WHERE vec_id < 16),
    assigned AS (
        SELECT vec_id, ee, cid FROM (
            SELECT e.vec_id, e.ee, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.ee, c.ce) ASC, c.cid ASC
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    occ AS (SELECT cid, COUNT(*) AS n_vecs FROM assigned GROUP BY 1),
    tot AS (SELECT SUM(n_vecs) AS n_total FROM occ),
    flag1 AS (
        SELECT cid, n_vecs,
               (n_vecs * {hd} * 16 > {hn} * n_total) AS is_hot,
               (n_vecs * {cd} * 16 < {cn} * n_total) AS is_cold
        FROM occ, tot
    ),
    hotm AS (
        SELECT a.cid, a.vec_id, a.ee
        FROM assigned a JOIN flag1 f USING (cid) WHERE f.is_hot
    ),
    seed_a AS (SELECT cid, MIN(vec_id) AS a_vec FROM hotm GROUP BY 1),
    seed_a_e AS (
        SELECT s.cid, s.a_vec, m.ee AS a_emb
        FROM seed_a s JOIN hotm m ON m.cid = s.cid AND m.vec_id = s.a_vec
    ),
    da AS (
        SELECT m.cid, m.vec_id, list_distance(m.ee, s.a_emb) AS dist_a,
               s.a_vec
        FROM hotm m JOIN seed_a_e s ON m.cid = s.cid
    ),
    seed_b AS (
        SELECT cid, vec_id AS b_vec FROM (
            SELECT cid, vec_id, ROW_NUMBER() OVER (
                PARTITION BY cid ORDER BY dist_a DESC, vec_id ASC
            ) AS rn FROM da
        ) WHERE rn = 1
    ),
    -- degenerate guard: an all-identical cell (seed B == seed A) cannot
    -- split; the plan still says 'split' but the executor skips it
    hot AS (
        SELECT a.cid FROM seed_a a JOIN seed_b b USING (cid)
        WHERE a.a_vec <> b.b_vec
    ),
    splitc AS (
        SELECT d.cid, COUNT(*) AS n,
               CAST(FLOOR((COUNT(*) + 1) / 2) AS BIGINT) AS n_a
        FROM da d JOIN hot h ON d.cid = h.cid GROUP BY d.cid
    ),
    keepc AS (
        SELECT f.cid, c.ce FROM flag1 f JOIN cents c ON f.cid = c.cid
        WHERE NOT f.is_hot AND NOT f.is_cold
    ),
    coldc AS (
        SELECT f.cid, c.ce, f.n_vecs FROM flag1 f JOIN cents c ON f.cid = c.cid
        WHERE f.is_cold
    ),
    moves AS (
        SELECT cold_cid, tgt FROM (
            SELECT cc.cid AS cold_cid, kc.cid AS tgt,
                   ROW_NUMBER() OVER (
                       PARTITION BY cc.cid
                       ORDER BY list_distance(cc.ce, kc.ce) ASC, kc.cid ASC
                   ) AS rn
            FROM coldc cc CROSS JOIN keepc kc
        ) WHERE rn = 1
    ),
    base_post AS (
        SELECT f.cid, f.n_vecs FROM flag1 f
        WHERE f.cid NOT IN (SELECT cid FROM hot)
          AND f.cid NOT IN (SELECT cold_cid FROM moves)
        UNION ALL
        SELECT cid, n_a AS n_vecs FROM splitc
        UNION ALL
        SELECT (SELECT MAX(cid) FROM occ)
                   + ROW_NUMBER() OVER (ORDER BY cid ASC) AS cid,
               n - n_a AS n_vecs
        FROM splitc
    ),
    addins AS (
        SELECT m.tgt AS cid, SUM(f.n_vecs) AS add_n
        FROM moves m JOIN flag1 f ON f.cid = m.cold_cid GROUP BY 1
    ),
    post AS (
        SELECT b.cid, b.n_vecs + COALESCE(a.add_n, 0) AS n_vecs
        FROM base_post b LEFT JOIN addins a USING (cid)
    ),
    flag2 AS (
        SELECT cid,
               (n_vecs * {hd} * 16 > {hn} * n_total) AS is_hot,
               (n_vecs * {cd} * 16 < {cn} * n_total) AS is_cold
        FROM post, tot
    ),
    cls AS (
        SELECT 1 AS cycle,
               CASE WHEN is_hot THEN 'split'
                    WHEN is_cold THEN 'merge'
                    ELSE 'keep' END AS action
        FROM flag1
        UNION ALL
        SELECT 2,
               CASE WHEN is_hot THEN 'split'
                    WHEN is_cold THEN 'merge'
                    ELSE 'keep' END
        FROM flag2
    ),
    allacts AS (
        SELECT * FROM (VALUES (1, 'split'), (1, 'merge'), (1, 'keep'),
                              (2, 'split'), (2, 'merge'), (2, 'keep')
                      ) t(cycle, action)
    ),
    cnt AS (SELECT cycle, action, COUNT(*) AS n FROM cls GROUP BY 1, 2)
    SELECT CAST(a.cycle AS BIGINT) AS cycle, a.action AS action,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cells
    FROM allacts a LEFT JOIN cnt c USING (cycle, action)
    ORDER BY cycle, action
    """


QUERIES["t22_maintenance_cycle"] = _t22_maintenance_cycle
ORACLE_SQL["t22_maintenance_cycle"] = _cycle_oracle(13, 10, 1, 4)
QUERIES["t23_merge_cycle"] = _t23_merge_cycle
ORACLE_SQL["t23_merge_cycle"] = _cycle_oracle(3, 1, 2, 3)


# t24: store ROUND TRIP — erase a seed-avoiding wave (publish_delete),
# re-ingest the same rows through publish_ingest (assign to the live
# seeds, SQ8-encode, append to affected cells, radii fold by monotone
# max), then serve. The round-tripped store must be indistinguishable
# from the never-touched one, so the oracle is v24's VERBATIM — the
# t20/t21 "incremental ≡ rebuilt" discipline applied to the erase/ingest
# pair (right-to-be-forgotten, then the data returns). Reference anchor:
# the delete-then-reembed refresh cycle
# (src/server/app/embed/refresh.py:28-143) this replaces with two
# cell-bounded snapshot transitions.


def _t24_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .plans.published import (
        publish_delete,
        publish_ingest,
        published_served_topk,
        recipe_root,
    )

    label = "roundtrip41-23"

    def _roundtrip() -> None:
        rep = publish_delete(spark, sf_dir, 16, del_mod=41, del_rem=23, label=label)
        assert not rep.get("reseeded_cells") and not rep.get("emptied_cells"), (
            f"round-trip wave must avoid seeds and empty no cell: {rep}"
        )
        batch = load_tables(spark, sf_dir)["embeddings"].filter(
            F.col("vec_id") % 41 == 23
        ).select("vec_id", "label", "embedding")
        ing = publish_ingest(spark, sf_dir, 16, batch=batch, label=label)
        assert ing["ingested"] == rep["deleted"], (ing, rep)

    ep = recipe_root(spark, sf_dir, 16, label, 3, _roundtrip)
    return published_served_topk(
        spark, sf_dir, query_id=0, k=8, n_probe=4, n_centroids=16, epoch=ep,
        label=label,
    )


QUERIES["t24_store_roundtrip"] = _t24_store_roundtrip
ORACLE_SQL["t24_store_roundtrip"] = ORACLE_SQL["v24_quantized_clustered_topk"]


# t25/t26: the PUBLISHED store (plans/published.py) — snapshot-isolated
# serving, verdict r9 task 1. t25 serves epoch 1 (the build published as
# an immutable snapshot: manifest + per-cell files, commit-by-rename), so
# its oracle is v24's VERBATIM. t26 serves epoch 2 — the nearest-seed
# hot-cell split (11/10, merges disabled) executed as a snapshot
# TRANSITION — through t18's function, so its oracle is t18's VERBATIM.
# Epochs are PINNED (snapshots are immutable), so later probes/repairs on
# the shared root can never perturb these results. Reference anchor: the temp-table→validate→
# promote publish pattern (src/server/app/embed/vector_store.py:122-156,
# 250-264) rebuilt at cell granularity with atomic epoch commits.


def _t25_published_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.published import publish_init, published_served_topk

    publish_init(spark, sf_dir, n_centroids=16)
    return published_served_topk(
        spark, sf_dir, query_id=0, k=8, n_probe=4, n_centroids=16, epoch=1
    )


QUERIES["t25_published_serve"] = _t25_published_serve
ORACLE_SQL["t25_published_serve"] = ORACLE_SQL["v24_quantized_clustered_topk"]
QUERIES["t26_published_split_serve"] = _published_split_serve
ORACLE_SQL["t26_published_split_serve"] = ORACLE_SQL["t18_applied_split_serve"]


# st24: the streaming self-maintenance daemon (verdict r9 task 2) — t24's
# erase→re-ingest round trip executed THROUGH the foreachBatch daemon
# (3 micro-batches, one published epoch each, plan-gated repair armed on
# every 2nd batch and provably deciding all-keep), then served. Ingest is cell-append with
# max-fold radii — commutative across disjoint batches — so the replay
# is bit-identical to the untouched store and v24's oracle verifies the
# whole daemon end-to-end. The repair-FIRING daemon path is
# pytest-verified (tests/test_maintenance_stream.py): with live repairs
# the final state depends on batch boundaries by design, so it belongs
# to the invariant gate, not a value hash.


def _st24_streaming_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.maintenance_stream import streaming_maintained_serve

    return streaming_maintained_serve(spark, sf_dir)


QUERIES["st24_streaming_maintenance"] = _st24_streaming_maintenance
ORACLE_SQL["st24_streaming_maintenance"] = ORACLE_SQL[
    "v24_quantized_clustered_topk"
]


_PRIORITY: list[str] = [
    # r9 rotation (VERDICT r8 task 1 — the FINAL verification rotation):
    # the prefix carries the last 24 never-driver-checked queries (the
    # trivial scalar forms, labeled exact baselines, late-r8 arrivals
    # smp15/smp8/f15/st12b/a19/a20, and j9/v11/a15 whose historical rows
    # predate their oracles; a15 stays rows-only by design), re-checks of
    # all five r8 flagships (t18-t21, v30 — t18 now serves a CACHED
    # deterministic generation), the two new r9 ops (t22/t23: the
    # maintenance loop driven by the decision table, balanced splits,
    # convergence hash-verified in the oracle), and 14 family-coverage
    # veterans (e2e composition chains, the quantized serving tiers, the
    # dedup/LSH family, sampling, streaming daemons, sketches). After
    # this round's driver run, EVERY oracle-backed query in the registry
    # has a driver row. All 50 strict-checked at sf0.001/0.01/0.1 before
    # promotion (the r8 procedure); the whole r8 prefix parks below,
    # still covered by the repo parity gate every session.
    "e2e_vecsearch_flow",
    "e2e_incremental_refresh",
    "e2e_dedup_cascade",
    "e2e_decon_report",
    "e2e_auto_curation",
    "t18_applied_split_serve",
    "t19_repair_plan",
    "t20_kmv_sketch_refresh",
    "t21_cms_sketch_refresh",
    "v30_auto_tier_topk",
    "t22_maintenance_cycle",
    "t23_merge_cycle",
    "smp15_mwu_domain_weights",
    "smp8_quality_resample",
    "f15_fenced_json_extract",
    "st12b_neardup_candidates_batch",
    "a19_grouping_sets",
    "a20_forecast_revenue",
    "j9_mmr_rerank",
    "v11_pq_topk",
    "d1x_exact_dedup_textkey",
    "d4x_simhash_pairs_exact",
    "d5x_embedding_neardup_exact",
    "f1_identifier_normalize",
    "f2_whitespace_normalize",
    "f5_path_functions",
    "f6_timestamp_iso",
    "f8_hex_roundtrip",
    "f9_json_roundtrip",
    "f13_casefold_lookup",
    "f16_single_line_guard",
    "a3_plain_count",
    "a11_heartbeat_rowcount",
    "t7_session_history",
    "t2p_job_states_pandas",
    "a15_approx_sketch_stats",
    "v24_quantized_clustered_topk",
    "v27b_residual_clustered_topk",
    "v26_quantized_ivf_knn_join",
    "v20_ivfpq_topk_np",
    "d3c_minhash_lsh_capped",
    "d22_lsh_cap_recall_sweep",
    "d17_corpus_dup_profile",
    "smp14_weighted_sample",
    "smp1_hash_split",
    "st19_streaming_sq8_ingest",
    "st21_streaming_knn_serving",
    "st23_streaming_cms_heavy_hitters",
    "tx12_pii_redaction",
    # late-r9: t24 (store round-trip — the ingest verb), strict-checked
    # at all 3 scales, takes a28's slot (driver-green r7; repo gate
    # still checks it every session)
    "t24_store_roundtrip",
    # --- end of r9 driver prefix (50) ---
    "a28_kmv_source_overlap",
    # displaced r8 prefix (all driver-green in CORRECTNESS_r08):
    "e2e_clustered_search",
    "e2e_curation_stats",
    "v18_filtered_topk",
    "smp2_stratified_sample",
    "smp3_weighted_mix",
    "smp4_shuffled_shards",
    "st8_streaming_dedup_index",
    "st9_streaming_token_assembly",
    "st10_stream_static_enrichment",
    "st11_funnel_steps",
    "t6_token_stream_assembly",
    "tx13_bpe_pair_counts",
    "f17_chunk_udtf",
    "a22_cohort_retention",
    "a23_source_median_quality",
    "mm1_binary_meta",
    "s5_deep_parse",
    "s6_chunk_json_roundtrip",
    "s8_sql_to_csv_source",
    "d5_semantic_routing",
    "d7_grade_blanking",
    "d9_qa_generation",
    "d10_answer_synthesis",
    "d11_query_classification",
    "j18_late_order_priority",
    "j19_returned_item_revenue",
    "j21_profit_rollup",
    "j22_promo_revenue",
    "j23_top_supplier",
    "j24_small_qty_loss",
    "u2_union_store_results",
    "u3_changed_concat",
    "u4_intersect_sources",
    "u5_except_sources",
    "w4_ordered_listing",
    "w5_limit_probe",
    "w7_rolling_frames",
    "w8_balance_distribution",
    "p3_extension_filter",
    "p5_model_usability",
    "p8_history_filter",
    # r5 rotation (VERDICT r4 task 4): 16 never-driver-checked queries moved
    # into the 50-slot prefix — reference shapes first (j26/j27 = TPC-H Q3/Q19
    # analogs of docs/demo/racing-championship/schema.sql; j28/a24 = the
    # adapted Q2/Q11 shapes) plus the r5 span-index family (d15/st14/t10) —
    # displacing long-green veterans that the repo parity gate still covers
    # every session (v8/v10/v12, d3 uncapped, j15/j20, tx7/tx8/tx9, st4/st5/
    # st6, a12/a13/a16, v16; ≥1 per family retained in the prefix). Every
    # prefix query passed the driver-strict canon replica at sf0.01 AND sf0.1
    # before promotion. Late-r5 swap: d19/smp11/tx18 (new, strict-checked at
    # both scales) replace veterans v7/j10/d4 (driver-green since r2-r4; each
    # family keeps multiple prefix slots and the repo gate still covers all).
    # r6 rotation (VERDICT r5 task 3): the last never-driver-checked flagships
    # promoted — v22, st18, smp13, t13, t11, d14 (all strict-checked at
    # sf0.001/0.01/0.1 this round) plus the new e2e_auto_curation — displacing
    # r5-driver-green veterans v15/j25/d13/t9/smp6/tx14/t8 to 51+ (each family
    # keeps ≥2 prefix slots; the repo parity gate still checks all 213).
    # r7 rotation (VERDICT r6 task 3): the 8 load-bearing never-driver-checked
    # tiers promoted — v20 (BLAS read tier), t11, st15, d12, st13, smp7, tx15,
    # j9b — plus the new d21b (sampled recall) and d22 (cap-recall sweep); all
    # 10 strict-checked at sf0.001/0.01/0.1 this round. Parked to 51+:
    # r6-driver-green veterans j11/d17/v17/d14/st17/smp10/tx16/j28/a24/t13/mm3
    # (each family keeps >=2 prefix slots; repo gate still checks all).
    # Late-r7: v26 (batch kNN over the quantized store) and t15 (hot-cell
    # split repair, the action behind t14's trigger) — both new this round
    # and strict-checked at all 3 scales — enter the prefix; slots 50/49
    # shift to 51+ (repo gate unchanged).
    # Late-r7 third wave: the session's four new sketch/projection
    # operators — a27 (CMS heavy hitters), a28 (KMV source-overlap
    # matrix), v29 (random-projection prefilter), st23 (streaming CMS) —
    # all exact-multiset-checked vs their oracles at sf0.001/0.01/0.1
    # before promotion (plus the full 242-query contract sim at sf0.01,
    # 0 mismatches). Parked to 51+: r6-driver-green veterans j27/d19/
    # v23/st20 (j keeps j12/j9b; decon keeps d12/d20/e2e_decon_report;
    # SQ8 keeps v24/v27/v27b/v28/t14/st19; streaming keeps 7 slots incl.
    # st23; the repo parity gate still checks every query each session).
    # v29b (the stored-projection twin, strict-checked at all 3 scales)
    # joins v29; d20 (r6-driver-green) parks to 51+ (decon keeps
    # d12/d18/e2e_decon_report).
    # smp14 (A-ES weighted sample, strict-checked at all 3 scales)
    # replaces smp9 (r6-driver-green; smp keeps smp7 + smp14).
    # Late-r7 second wave: the session's nine new operators — v27/v27b
    # (residual SQ8, tables + stored forms), t16/t16b (store delete
    # propagation, self-contained + stored forms), t17 (cold-cell merge),
    # d24 (incremental delta×corpus LSH gate), d25 (winnowing pairs),
    # a26 (KMV sketch), st21 (streaming kNN serving) — all
    # exact-multiset-checked vs their oracles at sf0.001/0.01/0.1 before
    # promotion (plus v28 and st22, same checks). Parked to 51+:
    # driver-green veterans st18/smp12/tx17/t12/e2e_training_export/
    # e2e_corpus_assembly/smp11/st16/smp13/mm2 (the streaming family
    # keeps 7 prefix slots, decon keeps d12/d19/d20 + e2e_decon_report,
    # smp keeps smp7/smp9, mm2/mm3 stay repo-gate green and carry r6
    # driver rows; the repo parity gate still checks every query each
    # session).
    # ANN / similarity tiers (IVF, k-means, IVFPQ, stored-layout serving)
    "v19_ann_operating_curve",
    "d3c_minhash_lsh_capped",
    "v16b_clustered_range_search",
    "v21_dpp_cell_stats",
    "v24_quantized_clustered_topk",
    "v22_hier_ivf_topk",
    "v20_ivfpq_topk_np",
    "v25_quantized_range_search",
    "v26_quantized_ivf_knn_join",
    "v27_residual_sq8_topk",
    "v27b_residual_clustered_topk",
    "v28_quantization_error_curve",
    # temporal / skew / bucketed / analytic join shapes
    "j12_banded_range_join",
    "st19_streaming_sq8_ingest",
    "st23_streaming_cms_heavy_hitters",
    "st21_streaming_knn_serving",
    "a28_kmv_source_overlap",
    "j9b_mmr_rerank_batch",
    "e2e_decon_report",
    # dedup family (scale-safe canonical forms) + clustering + curation e2e
    "d18_semdedup",
    "d12_decontamination",
    "e2e_auto_curation",
    "e2e_dedup_cascade",
    "d21_lsh_recall",
    "d21b_lsh_recall_sampled",
    "d22_lsh_cap_recall_sweep",
    "d24_incremental_lsh_dedup",
    "d25_winnow_pairs",
    "a26_kmv_distinct_shingles",
    "smp14_weighted_sample",
    "e2e_dedup_manifest",
    "v29_random_projection_topk",
    "v29b_rp_stored_topk",
    "a27_cms_heavy_hitters",
    # text-analysis family + multimodal (+ d15 substring dedup, new r5)
    "tx19_quality_classifier",
    "tx15_bpe_tokenize",
    # streaming / event-time (+ st14/t10 span-index pair, new r5)
    "st14_streaming_span_novelty",
    "st15_streaming_drift_monitor",
    "st13_streaming_ivf_assign",
    "t10_span_index_refresh",
    "t14_sq8_store_refresh",
    "t15_cell_split_repair",
    "t16_store_delete_repair",
    "t17_cell_merge_repair",
    "t16b_store_delete_repair_stored",
    "st22_streaming_erasure",
    "t11_cell_stats_refresh",
    "tx20_tokenizer_fertility",
    # aggregation extensions + sampling/packing (+ j28/a24 Q2/Q11, new r5)
    "smp7_leakage_safe_split",
    # streaming near-dup + SCD2 (round-3 flagships)
    # NL2SQL generation + evaluation e2e + deep parse
    "o15b_nl2sql_generated",
    "e2e_evaluation_report",
    # displaced from the prefix by the r5/r6/r7 additions (repo gate still
    # covers them every session; each family keeps >=2 prefix slots)
    "d15_repeated_substrings",
    "j11_asof_join",
    "d17_corpus_dup_profile",
    "v17_ivfpq_topk",
    "d14_crossencoder_rerank",
    "st17_streaming_quality_gate",
    "smp10_dsir_importance",
    "tx16_ngram_perplexity",
    "j28_min_cost_supplier",
    "a24_important_part_values",
    "st18_streaming_semantic_decon",
    "smp12_curriculum_order",
    "tx17_gopher_rules",
    "t12_drift_monitor",
    "e2e_training_export",
    "e2e_corpus_assembly",
    "smp11_unimax_budget",
    "st16_streaming_decontamination",
    "smp13_mixture_epochs",
    "s13_store_catalog",
    "mm2_frame_features",
    "t13_bloom_index_refresh",
    "mm3_audio_features",
    "d6_dedup_clusters",
    "e2e_curation_pipeline",
    "j26_shipping_priority",
    "v9_ivf_kmeans_topk",
    "d16_cluster_survivors",
    "tx18_zipf_fit",
    "a21_customer_order_distribution",
    "v14_hybrid_rrf_topk",
    "v15_clustered_ivf_knn_join",
    "j25_waiting_supplier",
    "d13_topic_clusters",
    "t9_incremental_rollup",
    "smp6_sequence_packing",
    "tx14_bpe_learn",
    "t8_scd2_history",
    "d1_exact_dedup",
    "tx11_repetition_stats",
    "d5_embedding_neardup",
    "st12_streaming_neardup_candidates",
    "smp8_quality_resample",
    "d2_ngram_jaccard_pairs",
    "st7_streaming_sessionize",
    "e2e_vector_search",
    "a18_idle_rich_customers",
    "v13_clustered_ivf_topk",
    "smp5_temperature_mix",
    "tx6_quality_bins",
    "v7_ivf_topk",
    "j10_salted_skew_join",
    "d4_simhash_pairs",
    # positions 51+ — driver-verified only if the sample widens; the repo
    # parity gate (tests/test_oracle_parity.py) checks them every session
    "v8_ivf_knn_join",
    "v10_matmul_knn",
    "v12_ann_recall",
    "d3_minhash_lsh_pairs",
    "j13_local_supplier_volume",
    "j14_bucketed_order_revenue",
    "d8_fuzzy_part_pairs",
    "tx8_top_terms",
    "st4_sliding_window_counts",
    "st5_attributed_purchases",
    "a12_rollup_totals",
    "a13_quantile_summary",
    "j15_market_share",
    "j20_volume_shipping",
    "tx7_bpe_token_stats",
    "tx9_tfidf_terms",
    "st6_streaming_tumbling_counts",
    "a16_parts_supplier_counts",
    "v16_range_search_pruned",
    "st12b_neardup_candidates_batch",
    "v11_pq_topk",
    "a15_approx_sketch_stats",
    "j9_mmr_rerank",
]


def _apply_priority_order() -> None:
    # dict.fromkeys: a veteran promoted back into the prefix may still be
    # listed in an older rotation block below — first occurrence wins
    ordered = list(dict.fromkeys(n for n in _PRIORITY if n in QUERIES))
    ordered += [n for n in QUERIES if n not in _PRIORITY]
    for d in (QUERIES, ORACLE_SQL):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in ordered if n in snapshot})


_apply_priority_order()
