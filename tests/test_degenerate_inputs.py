"""Degenerate-input robustness: NULL text, empty strings, whitespace-only
documents must flow through the text/dedup operator family without errors
and with sane outputs (real corpora always contain them; an ANSI-mode
Spark 4 expression that assumes non-null would throw mid-scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_optimizer_spark.operators import dedup as D
from ai_optimizer_spark.operators import sampling as SMP
from ai_optimizer_spark.operators import textops as TX
from ai_optimizer_spark.operators import refresh as RF
from ai_optimizer_spark.plans.corpus_mix import corpus_assembly


@pytest.fixture(scope="module")
def degenerate_t(spark):
    docs = spark.createDataFrame(
        [
            (1, None, "s", None, 0),
            (2, "", "s", "en", 0),
            (3, "   ", "s", "en", 3),
            (4, "one two three four five six", "s", "en", 27),
            (5, "one two three four five six", "s", "en", 27),
            # tokenizer edges: trim strips U+0020 only and the ASCII \s+
            # split keeps leading/trailing empty tokens; NBSP and U+3000
            # are not ASCII whitespace, so they stay inside tokens
            (6, "\tone two three four", "s", "en", 19),
            (7, "one two three four\t", "s", "en", 19),
            (8, "alpha beta gamma\n\n", "s", "en", 18),
            (9, "one\u00a0two three\u3000four five", "s", "en", 23),
            (10, "red green blue", "s", "en", 14),  # exactly SHINGLE_N
            (11, "just two", "s", "en", 8),  # under SHINGLE_N: no signature
        ],
        "doc_id long, text string, source string, lang string, n_chars long",
    )
    return {"documents": docs}


@pytest.mark.parametrize(
    "fn",
    [
        TX.token_stats,
        TX.quality_score,
        TX.lang_id,
        TX.fingerprints,
        TX.chunk_documents,
        TX.bpe_token_stats,
        TX.bpe_pair_counts,
        D.exact_dedup,
        D.ngram_jaccard_pairs,
        D.minhash_lsh_pairs,
        D.simhash_pairs_blocked,
        D.repeated_substring_stats,
        D.cluster_survivors,
        D.corpus_dup_profile,
        SMP.token_budget_select,
        SMP.dsir_importance,
        TX.ngram_perplexity,
        TX.gopher_rules,
        corpus_assembly,
        lambda t: D.span_index(t["documents"]),
        # final-r5 additions: the modern-pipeline ops must survive NULL /
        # empty / whitespace-only text too
        TX.quality_classifier,
        SMP.curriculum_order,
        SMP.mixture_epochs,
        SMP.unimax_budget,
        RF.bloom_index_refresh,
        D.bloom_decontamination,
    ],
)
def test_text_family_survives_degenerate_docs(degenerate_t, fn):
    fn(degenerate_t).collect()  # must not raise


def test_degenerate_semantics(degenerate_t):
    # chunker: only docs with content produce chunks
    chunks = TX.chunk_documents(degenerate_t).collect()
    assert {r.doc_id for r in chunks} == set(range(3, 12))
    # signatures exist only for docs with >= SHINGLE_N words
    sigs = D.doc_signatures(degenerate_t["documents"]).collect()
    assert {r.doc_id for r in sigs} == {4, 5, 6, 7, 8, 9, 10}
    # identical docs are an exact-dup pair and a hamming-0 simhash pair
    kept = {r.doc_id for r in D.exact_dedup(degenerate_t).collect()}
    assert 4 in kept and 5 not in kept
    pairs = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs_blocked(degenerate_t).collect()
    }
    assert (4, 5, 0) in pairs


# (doc_id, n_sh, mh0..mh7, simhash) of the degenerate docs, recorded from
# the explode + min-aggregate MinHash and the higher-order-function SimHash
# fold over T.word_shingles that the signature kernel replaced.
EXPRESSION_SIGNATURES = {
    (4, 4, 795006730, 545101820, 873166946, 609733282, 319478468, 662223819,
     910398582, 332068585, 126116198042584462),
    (5, 4, 795006730, 545101820, 873166946, 609733282, 319478468, 662223819,
     910398582, 332068585, 126116198042584462),
    (6, 3, 872527471, 545101820, 950921209, 1315031771, 725531170, 662223819,
     1140029490, 332068585, 396420128850985182),
    (7, 3, 635330013, 545101820, 1309607313, 31045657, 725531170, 662223819,
     1161860529, 332068585, 992742596878020060),
    (8, 2, 1579100879, 83043568, 540742366, 721206392, 228507077, 361020250,
     70433648, 803632405, 828721979983195240),
    (9, 1, 168474580, 181720541, 1531313476, 85959802, 1986212312, 669227037,
     1494072382, 1641901242, 634744655235355014),
    (10, 1, 1565888131, 1303998701, 1462615222, 845941989, 119818762,
     1153222535, 1071754936, 2028356781, 78494914453938931),
}


def test_signature_kernel_matches_expression_forms(degenerate_t):
    """The mapInPandas signature kernel must tokenize exactly like
    T.words/T.word_shingles on the edges a Python port gets wrong: a
    leading tab is a leading empty token (shingle ' one two'), a trailing
    tab or newline run is a trailing one, NBSP/U+3000 do not split, and
    docs under SHINGLE_N tokens (or NULL/blank) have no row."""
    cols = ["doc_id", "n_sh", *[f"mh{s}" for s in range(D.MINHASH_HASHES)], "simhash"]
    got = {
        tuple(r)
        for r in D.doc_signatures(degenerate_t["documents"]).select(*cols).collect()
    }
    assert got == EXPRESSION_SIGNATURES


def test_incremental_rollup_empty_delta_and_empty_history(spark, sf_small):
    """t9: a cutoff beyond every event_id (empty delta) and one below every
    event_id (empty history) must both equal the full recompute — merging
    with an empty side is the identity."""
    from ai_optimizer_spark.operators.refresh import incremental_rollup
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    full = {
        (r.window_start, r.event_type, r.n_events, r.value_sum)
        for r in incremental_rollup(t, cutoff=50_000).collect()
    }
    for cutoff in (0, 10**12):
        got = {
            (r.window_start, r.event_type, r.n_events, r.value_sum)
            for r in incremental_rollup(t, cutoff=cutoff).collect()
        }
        assert got == full and got


def test_clustered_range_search_zero_radius(spark, sf_small):
    """v16b: radius 0 returns only exact-duplicate vectors (none in the
    fixture) without erroring on an empty live-cell list edge."""
    from ai_optimizer_spark.plans.bucketing import clustered_range_search

    rows = clustered_range_search(spark, sf_small, radius=0.0).collect()
    assert rows == [] or all(r.dist == 0.0 for r in rows)


def test_refresh_store_empty_corpus_noop(spark, sf_small, tmp_path):
    """refresh_store with an empty current_docs batch must leave the store
    untouched (the diff is empty on the current side; nothing is stale
    unless remove_missing, which a delta batch must not pass)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.vector_store import (
        VectorStoreCatalog,
        refresh_store,
    )
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, sf_small)["documents"].filter(F.col("doc_id") < 10).select(
        "doc_id", "text", "source"
    )
    catalog = VectorStoreCatalog(str(tmp_path / "stores"))
    store1 = refresh_store(spark, catalog, "store_e", docs)
    ids1 = {r.id for r in store1.select("id").collect()}
    empty = docs.filter(F.col("doc_id") < 0)
    store2 = refresh_store(spark, catalog, "store_e", empty)
    assert {r.id for r in store2.select("id").collect()} == ids1


def test_span_index_refresh_empty_delta_and_empty_history(spark, sf_small):
    """t10: a cutoff above every doc_id (empty delta) and below every
    doc_id (empty history) must both equal the full recompute — merging
    with an empty side is the identity, and the affected-fingerprint
    restriction never drops untouched rows."""
    from ai_optimizer_spark.operators.dedup import span_index
    from ai_optimizer_spark.operators.refresh import span_index_refresh
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    full = {
        (r.wh, r.n_docs, r.min_doc)
        for r in span_index(t["documents"]).collect()
    }
    assert full
    for cutoff in (0, 10**12, 25):
        got = {
            (r.wh, r.n_docs, r.min_doc)
            for r in span_index_refresh(t, cutoff=cutoff).collect()
        }
        assert got == full, f"cutoff={cutoff}"


def test_cell_stats_refresh_empty_delta_and_empty_history(spark, sf_small):
    """t11: cutoff 0 (everything is delta), a cutoff above every vec_id
    (everything is stored), and a mid cutoff must all produce the same
    stats — count adds and max takes greatest, so the merge with an empty
    side is the identity and the split point can never change the result."""
    from ai_optimizer_spark.operators.refresh import cell_stats_refresh
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    results = []
    for cutoff in (0, 10**12, 100):
        results.append(
            {
                (r.cid, r.n_vecs, round(r.r_cell, 6))
                for r in cell_stats_refresh(t, cutoff=cutoff).collect()
            }
        )
    assert results[0]
    assert results[0] == results[1] == results[2]
    # every centroid owns at least its own seed vector
    assert len(results[0]) == 16


def test_dedup_cascade_degenerate_docs_and_zero_vector(spark, degenerate_t):
    """e2e_dedup_cascade must survive NULL/empty text AND a zero-norm
    embedding (normalization divides by the norm: IEEE gives inf/NaN,
    the cosine filters must treat it as not-a-duplicate, never throw),
    and the profile must stay internally consistent."""
    from ai_optimizer_spark.plans.curation import dedup_cascade

    emb = spark.createDataFrame(
        [
            (1, [0.0] * 8, 0),  # zero vector: norm == 0
            (2, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),
            (3, [1.0, 0.001, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),
            (4, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 1),
            (5, [0.0, 1.0, 0.001, 0.0, 0.0, 0.0, 0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    t = {"documents": degenerate_t["documents"], "embeddings": emb}
    rows = sorted(dedup_cascade(t).collect(), key=lambda r: r.stage)
    assert len(rows) == 4
    for prev, cur in zip(rows, rows[1:]):
        assert cur.docs_remaining == prev.docs_remaining - cur.docs_removed
        assert cur.docs_remaining >= 0
    # docs 4/5 are exact duplicates: the exact stage must fire
    assert rows[1].docs_removed >= 1


@pytest.fixture(scope="module")
def degenerate_emb(spark):
    """Realistic embedding pathologies: a zero vector (failed encode), a
    NULL embedding (missing row), plus normal vectors — every
    similarity-family op must survive a corpus containing them."""
    return spark.createDataFrame(
        [
            (0, [1.0, 0.2, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0] * 8, 0),  # zero norm
            (2, None, 1),  # NULL embedding
            (3, [0.9, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),
            (4, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.1], 1),
            (5, [0.0, 0.95, 0.0, 0.0, 0.0, 0.0, 0.0, 0.12], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )


@pytest.fixture(scope="module")
def degenerate_ivfpq_emb(spark):
    """40 random 64-dim vectors (IVFPQ's default dims) with a NULL
    embedding at vec_id 20 and a zero vector at vec_id 30 — both outside
    the model seeds (vec_id < 16) and away from the query (vec_id 0)."""
    import numpy as np

    X = np.random.default_rng(7).standard_normal((40, 64)).astype(np.float32)
    rows = [
        (i, None if i == 20 else [0.0] * 64 if i == 30 else X[i].tolist(), i % 4)
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_similarity_family_survives_degenerate_embeddings(
    spark, monkeypatch, degenerate_emb, degenerate_ivfpq_emb
):
    """Zero-norm and NULL embeddings must flow through the cosine paths
    without ANSI divide-by-zero errors; the zero vector scores 0.0
    ('similar to nothing'), the NULL row scores NULL (missing) — neither
    ever surfaces as a near-duplicate or a top hit."""
    from ai_optimizer_spark import registry
    from ai_optimizer_spark.operators import dedup as DD
    from ai_optimizer_spark.operators import similarity as S

    t = {"embeddings": degenerate_emb}
    topk = S.cosine_topk(t).collect()  # query vec_id=0, must not raise
    assert all(r.vec_id != 1 or r.cos_sim == 0.0 for r in topk)
    pairs = DD.embedding_neardup_blocked(t).collect()  # must not raise
    flat = {v for r in pairs for v in (r.vec_a, r.vec_b)}
    assert 1 not in flat and 2 not in flat  # degenerate rows never pair
    sem = DD.semdedup(t, n_centroids=2).collect()
    assert {r.vec_id for r in sem} >= {0, 1, 3, 4, 5}

    def run(name, tables):
        # a registered query over the in-memory fixture, not a parquet dir
        monkeypatch.setattr(registry, "load_tables", lambda _spark, _sf: tables)
        return [tuple(r) for r in registry.QUERIES[name](spark, "").collect()]

    # exact kNN keeps the V.cosine_similarity policy: the zero-norm query
    # scores 0.0, the NULL query and NULL candidate score NULL and rank
    # last — the rows the zip_with expression kernel returned
    for name in ("v5_knn_self_join", "v10_matmul_knn"):
        assert sorted(run(name, t)) == [
            (0, 3, 0.997, 1), (0, 4, 0.195, 2), (0, 5, 0.195, 3),
            (1, 0, 0.0, 1), (1, 3, 0.0, 2), (1, 4, 0.0, 3),
            (2, 0, None, 1), (2, 1, None, 2), (2, 3, None, 3),
            (3, 0, 0.997, 1), (3, 4, 0.266, 2), (3, 5, 0.266, 3),
            (4, 0, 0.195, 3), (4, 3, 0.266, 2), (4, 5, 1.0, 1),
            (5, 0, 0.195, 3), (5, 3, 0.266, 2), (5, 4, 1.0, 1),
        ], name

    # IVFPQ: a NULL or zero vector outside the model changes nothing — the
    # top-k equals the inlined-expression scorer's, and the NULL-free run's
    emb = degenerate_ivfpq_emb
    no_null = {"embeddings": emb.filter("vec_id != 20")}
    for name in ("v17_ivfpq_topk", "v20_ivfpq_topk_np"):
        pq = run(name, {"embeddings": emb})
        assert pq == [
            (25, 1, 0.328), (17, 1, 0.235), (26, 2, 0.192), (39, 3, 0.183),
            (38, 2, 0.162), (32, 0, 0.13), (12, 0, 0.125), (18, 2, 0.119),
        ], name
        assert pq == run(name, no_null), name

    # a NULL model seed is a broken model: the clear centroid-model error
    seed_null = emb.filter("vec_id != 20").withColumn(
        "embedding", F.when(F.col("vec_id") == 5, None).otherwise(F.col("embedding"))
    )
    with pytest.raises(ValueError, match="degenerate centroid model"):
        S.ivfpq_topk({"embeddings": seed_null})


def test_qcls_row_scorer_matches_batch_on_degenerate_text(spark, degenerate_t):
    """The st17 per-row scorer must equal the batch classifier even for
    NULL/empty/whitespace-only text: such docs have no word features but
    DO have the bias feature, so both scorers emit sigmoid(bias) — the
    row scorer must not poison z to NULL through the NULL bucket array."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.textops import (
        qcls_fit,
        qcls_score_expr,
        quality_classifier,
    )

    docs = degenerate_t["documents"]
    batch = {
        (r.doc_id, r.score, r.keep)
        for r in quality_classifier(degenerate_t).collect()
    }
    weights, _feat = qcls_fit(docs)
    p = qcls_score_expr(weights)
    rowwise = {
        (r.doc_id, r.score, r.keep)
        for r in docs.select(
            "doc_id",
            (F.round(p, 6) + F.lit(0.0)).alias("score"),
            (p >= 0.5).alias("keep"),
        ).collect()
    }
    assert rowwise == batch and len(batch) == docs.count()


def test_dedup_cascade_empty_corpus(spark):
    """An empty corpus must produce the 4-row all-zero profile — not NULL
    token sums (uncoalesced SUM) or an analysis error (semdedup's empty
    centroid literal types as VOID without its guard)."""
    from ai_optimizer_spark.plans.curation import dedup_cascade

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    rows = sorted(
        dedup_cascade({"documents": docs, "embeddings": emb}).collect(),
        key=lambda r: r.stage,
    )
    assert len(rows) == 4
    assert all(
        (r.docs_removed, r.docs_remaining, r.tokens_remaining) == (0, 0, 0)
        for r in rows
    )


def test_curriculum_ignores_null_text(spark, degenerate_t):
    """smp12 is defined over tokenizable docs: a NULL-text doc must not
    appear in the schedule AND must not shift anyone's stage boundaries
    (left in the distribution it would — and differently per engine:
    Spark windows order NULLS FIRST, DuckDB NULLS LAST)."""
    from ai_optimizer_spark.operators.sampling import curriculum_order

    docs = degenerate_t["documents"]
    with_null = sorted(
        map(tuple, curriculum_order({"documents": docs}).collect())
    )
    clean = sorted(
        map(
            tuple,
            curriculum_order(
                {"documents": docs.filter(docs.text.isNotNull())}
            ).collect(),
        )
    )
    assert with_null == clean
    assert all(r[0] != 1 for r in with_null)  # doc 1 (NULL text) absent


def test_r6_e2e_ops_survive_empty_corpus(spark):
    """The r6 e2e ops on an EMPTY corpus: auto_curation must still derive
    knobs (cap floors to 2 with no collisions; k floors to 16) and emit
    the all-zero 4-row profile; decon_report likewise; tokenizer
    fertility returns an empty table (no domains) rather than raising on
    the empty merge fit."""
    from ai_optimizer_spark.operators.textops import tokenizer_fertility
    from ai_optimizer_spark.plans.curation import auto_curation, decon_report

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    t = {"documents": docs, "embeddings": emb}

    rows = sorted(auto_curation(t).collect(), key=lambda r: r.stage)
    assert len(rows) == 4
    assert all(r.docs_remaining == 0 and r.tokens_remaining == 0 for r in rows)
    assert rows[0].lsh_bucket_cap == 2 and rows[0].semdedup_k == 16

    rows = sorted(decon_report(t).collect(), key=lambda r: r.stage)
    assert len(rows) == 4
    assert all(r.docs_remaining == 0 for r in rows)

    assert tokenizer_fertility(t).collect() == []


# the schema every IVF reader returned before the shared tail, NULL-able
# columns included
ANN_TOPK_SCHEMA = [
    ("vec_id", "bigint", True),
    ("label", "int", True),
    ("cid", "bigint", True),
    ("cos_sim", "double", True),
]


@pytest.mark.parametrize(
    "reader",
    [
        "ivf_topk",
        "clustered_ivf_topk",
        "quantized_clustered_topk",
        "residual_clustered_topk",
        "published_served_topk",
    ],
)
def test_ann_reader_absent_query_is_empty(spark, sf_small, tmp_path, monkeypatch, reader):
    """A query id that is not in the table has no query vector: each
    reader returns an empty frame with its usual schema."""
    from ai_optimizer_spark.operators import similarity as S
    from ai_optimizer_spark.plans import bucketing as B
    from ai_optimizer_spark.plans import published as P
    from ai_optimizer_spark.tables import load_tables

    absent = 10**9
    if reader == "ivf_topk":
        df = S.ivf_topk(load_tables(spark, sf_small), query_id=absent)
    elif reader == "published_served_topk":
        monkeypatch.setattr(P, "_pub_root", lambda *_a, **_k: str(tmp_path / "pub"))
        P.publish_init(spark, sf_small, 16)
        df = P.published_served_topk(spark, sf_small, query_id=absent, n_centroids=16)
    else:
        df = getattr(B, reader)(spark, sf_small, query_id=absent)
    assert df.collect() == []
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema] == ANN_TOPK_SCHEMA


def test_ivf_topk_null_query_vector_scores_null(spark, degenerate_emb):
    """A query whose embedding is NULL has a NULL distance to every cell
    (the min cids are probed) and a NULL cosine to every candidate."""
    from ai_optimizer_spark.operators import similarity as S

    rows = S.ivf_topk({"embeddings": degenerate_emb}, query_id=2, n_centroids=2).collect()
    assert [(r.vec_id, r.cos_sim) for r in rows] == [
        (0, None), (1, None), (3, None), (4, None), (5, None)]
