"""Corpus curation pipeline — the end-to-end training-data recipe the
north-star operators exist for, composed as ONE declarative plan:

    documents → language gate → quality gate → dedup (keep canonical
    component member only) → token accounting → split assignment

Every stage is deterministic (portable-hash dedup + splits, arithmetic
quality score), so the WHOLE pipeline hash-verifies against a single
DuckDB oracle — including the recursive-CTE connected components.

Scale shape: quality, token count, and split are computed in ONE
projection fused into the parquet scan — no join carries them. The only
join in the plan is the dedup anti-join, and its build side is just the
non-canonical members of LSH components (a vanishing fraction of a
deduped corpus), so AQE plans it as a broadcast. The output is the corpus
manifest a trainer consumes (doc, source, tokens, quality, split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..cache import shared_persist
from ..operators.dedup import LSH_MAX_BUCKET_DEFAULT, dedup_losers
from ..operators.sampling import split_expr
from ..operators.textops import quality_parts

QUALITY_FLOOR = 0.5
KEEP_LANG = "en"


def curation_pipeline(t: dict[str, DataFrame]) -> DataFrame:
    # skew guard ON in the production path: a degenerate boilerplate bucket
    # must not send an O(B²) candidate wave through verification
    losers = dedup_losers(t, max_bucket_size=LSH_MAX_BUCKET_DEFAULT)
    w = T.words("text")
    _, _, _, quality = quality_parts(w)
    return (
        t["documents"]
        .filter(F.col("lang") == KEEP_LANG)
        .select(
            "doc_id",
            "source",
            F.size(w).cast("long").alias("n_tokens"),
            quality.alias("quality"),
            split_expr(F.col("doc_id")).alias("split"),
        )
        .filter(F.col("quality") >= QUALITY_FLOOR)
        .join(losers, "doc_id", "left_anti")
    )


def curation_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-split accounting over the curated manifest — the sanity numbers
    (docs, token budget, mean quality) read before a training run."""
    return (
        curation_pipeline(t)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


def training_export(t: dict[str, DataFrame], capacity: int = 2048) -> DataFrame:
    """E2E training export — the full write path a trainer consumes, as
    ONE composed plan: curate (language → quality → dedup-canonical keep)
    → take the train split → pack the surviving docs into fixed-capacity
    token sequences. The output manifest maps every training document to
    (sequence bin, offset) — what a sequence-packing data loader reads.

    Composition is the point: the curation projection fuses into the
    scan, the dedup anti-join broadcasts its loser set, and the packing
    prefix-sum runs the two-pass bucket form over only the curated train
    docs. Hash-verified end-to-end against a single DuckDB oracle that
    chains the recursive-CTE components, the split hash, and the packing
    window."""
    from ..operators.sampling import pack_token_stream

    curated = curation_pipeline(t)
    train = curated.filter(F.col("split") == "train").select("doc_id", "n_tokens")
    return pack_token_stream(train, capacity)


CASCADE_STAGES = ("input", "exact", "minhash_lsh", "semdedup")


def dedup_cascade(
    t: dict[str, DataFrame],
    max_bucket_size: int | None = None,
    n_centroids: int | None = None,
) -> DataFrame:
    """E2E dedup cascade — the FineWeb/Dolma recipe (Penedo et al. 2024;
    Soldaini et al. 2024): exact dedup, then MinHash-LSH near-dup, then
    SemDeDup semantic dedup, reported as a 4-row attrition profile
    (docs/tokens surviving after each stage) — the table a curation run
    publishes before anyone trains on the output.

    Each stage's removal set is computed GLOBALLY over the input corpus
    (how production pipelines actually run — the three stages are
    independent jobs that can execute in parallel; recomputing LSH on
    exact-survivors would serialize them for near-zero benefit since an
    exact-duplicate's LSH pairs are also pairs of its canonical), then
    applied SEQUENTIALLY: a doc's removal is attributed to the FIRST
    stage that catches it, so the profile decomposes the corpus exactly.

    Scale shape: the three removal sets are id-only columns (exact: a
    digest-keyed window over md5, no bodies shuffled; LSH: the capped
    production config's component losers — the near-dup subgraph only;
    SemDeDup: auto-k celled pair scan, linear by construction). The base
    is one token-count projection fused into the scan; the flags attach
    via three left joins whose build sides are each a vanishing fraction
    of the corpus (broadcast under AQE), and the profile itself is ONE
    partial+final aggregate — four rows come out of a struct inline, not
    four passes.

    `max_bucket_size` overrides the LSH skew cap (default: the production
    constant); `auto_curation` passes a cap sized from the d17 pre-flight
    profile instead of the guess. `n_centroids` forwards to semdedup so a
    caller that already counted the embeddings (auto_curation) skips
    semdedup's internal sizing count — same k either way
    (choose_semdedup_k of the same corpus count), plan-only."""
    return _attrition_profile(
        _cascade_flags(t, max_bucket_size, n_centroids), CASCADE_STAGES
    )


def _cascade_flags(
    t: dict[str, DataFrame],
    max_bucket_size: int | None = None,
    n_centroids: int | None = None,
) -> DataFrame:
    """The cascade's per-document flag table (doc_id, n_tokens, f1, f2,
    f3) — ONE home for the three removal-set joins so the aggregate
    profile (dedup_cascade) and the row-level manifest (dedup_manifest)
    can never attribute differently."""
    from ..operators.dedup import (
        LSH_MAX_BUCKET_DEFAULT,
        dedup_losers,
        semdedup,
    )
    from ..functions.text import token_count

    if max_bucket_size is None:
        max_bucket_size = LSH_MAX_BUCKET_DEFAULT
    docs = t["documents"]
    base = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    from pyspark.sql import Window

    exact_losers = (
        docs.select(
            "doc_id",
            F.min("doc_id")
            .over(Window.partitionBy(F.md5("text")))
            .alias("canon"),
        )
        .filter(F.col("doc_id") != F.col("canon"))
        .select("doc_id", F.lit(True).alias("f1"))
    )
    lsh_losers = dedup_losers(
        t, max_bucket_size=max_bucket_size
    ).select("doc_id", F.lit(True).alias("f2"))
    sem_losers = (
        semdedup(t, n_centroids=n_centroids)
        .filter(~F.col("is_kept"))
        .select(F.col("vec_id").alias("doc_id"), F.lit(True).alias("f3"))
    )
    return (
        base.join(exact_losers, "doc_id", "left")
        .join(lsh_losers, "doc_id", "left")
        .join(sem_losers, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("f1", F.lit(False)).alias("f1"),
            F.coalesce("f2", F.lit(False)).alias("f2"),
            F.coalesce("f3", F.lit(False)).alias("f3"),
        )
    )


def dedup_manifest(
    t: dict[str, DataFrame], max_bucket_size: int | None = None
) -> DataFrame:
    """E2E per-document removal MANIFEST — the row-level companion of
    e2e_dedup_cascade's aggregate profile: for every document the cascade
    removes, (doc_id, n_tokens, stage, stage_name) with the same
    first-catch attribution (exact → LSH → SemDeDup). This is the table a
    production pipeline actually PUBLISHES alongside the profile — the
    thing you anti-join to materialize the surviving corpus and the thing
    you look a doc_id up in when someone asks why their document was
    dropped (the reference's per-file processed/errors accounting,
    api/v1/endpoints/embed.py, lifted to per-document dedup provenance).

    Same removal-set plan as the cascade (id-only broadcast flag joins);
    the only difference is the final operator: a filter+projection instead
    of the profile aggregate — so by construction
    profile.docs_removed[s] == manifest count per stage (tested)."""
    flagged = _cascade_flags(t, max_bucket_size)
    stage = (
        F.when(F.col("f1"), F.lit(1))
        .when(F.col("f2"), F.lit(2))
        .when(F.col("f3"), F.lit(3))
    )
    name = (
        F.when(F.col("f1"), F.lit(CASCADE_STAGES[1]))
        .when(F.col("f2"), F.lit(CASCADE_STAGES[2]))
        .when(F.col("f3"), F.lit(CASCADE_STAGES[3]))
    )
    return flagged.filter(F.col("f1") | F.col("f2") | F.col("f3")).select(
        "doc_id",
        "n_tokens",
        stage.cast("long").alias("stage"),
        name.alias("stage_name"),
    )


def _attrition_profile(flagged: DataFrame, stages) -> DataFrame:
    """First-catch attrition profile over a (n_tokens, f1, f2, f3) flag
    table: ONE partial+final aggregate, rows fanned out by inline —
    shared by e2e_dedup_cascade / e2e_auto_curation / e2e_decon_report so
    the attribution arithmetic can never drift between them."""
    zero = F.lit(0).cast("long")
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.coalesce(F.sum("n_tokens"), F.lit(0).cast("long")).alias("t0"),
        F.coalesce(F.sum(F.when(F.col("f1"), 1)), zero).alias("r1"),
        F.coalesce(F.sum(F.when(F.col("f1"), F.col("n_tokens"))), zero).alias("tt1"),
        F.coalesce(F.sum(F.when(~F.col("f1") & F.col("f2"), 1)), zero).alias("r2"),
        F.coalesce(
            F.sum(F.when(~F.col("f1") & F.col("f2"), F.col("n_tokens"))), zero
        ).alias("tt2"),
        F.coalesce(
            F.sum(F.when(~F.col("f1") & ~F.col("f2") & F.col("f3"), 1)), zero
        ).alias("r3"),
        F.coalesce(
            F.sum(F.when(~F.col("f1") & ~F.col("f2") & F.col("f3"), F.col("n_tokens"))),
            zero,
        ).alias("tt3"),
    )

    def row(stage: int, removed, remaining, tokens):
        return F.struct(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(stages[stage]).alias("stage_name"),
            removed.cast("long").alias("docs_removed"),
            remaining.cast("long").alias("docs_remaining"),
            tokens.cast("long").alias("tokens_remaining"),
        )

    n0, t0 = F.col("n0"), F.col("t0")
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    tt1, tt2, tt3 = F.col("tt1"), F.col("tt2"), F.col("tt3")
    return agg.select(
        F.inline(
            F.array(
                row(0, F.lit(0), n0, t0),
                row(1, r1, n0 - r1, t0 - tt1),
                row(2, r2, n0 - r1 - r2, t0 - tt1 - tt2),
                row(3, r3, n0 - r1 - r2 - r3, t0 - tt1 - tt2 - tt3),
            )
        )
    )


DECON_STAGES = ("input", "exact_ngram", "bloom", "semantic")


def decon_report(t: dict[str, DataFrame]) -> DataFrame:
    """E2E decontamination report — the decon family's cascade: the three
    tiers run over the corpus partition as INDEPENDENT audits (exact
    n-gram overlap d12, Bloom-filter membership d19, same-cell embedding
    cosine d20) and the report attributes every contaminated document to
    the FIRST tier that catches it, in evidence order exact → Bloom →
    semantic. The marginal rows are the audit's value: Bloom-only catches
    quantify what exact indexing would miss at scale (plus the filter's
    false-positive rate), semantic-only catches are the paraphrased
    leakage no n-gram tier can see. Same 4-row shape as
    e2e_dedup_cascade, via the shared `_attrition_profile`.

    Scale shape: three independent probe jobs (parallel at cluster
    scale — wall-clock is max, not sum), each already measured in
    SCALE.md (d12 broadcast eval index; d19 fixed 2^20-bit table,
    sublinear to 64×; d20 auto-k cells, the assignment term closed by the
    numpy assignment kernel). Flags attach by id-only left joins
    (broadcast under AQE); the profile is ONE aggregate. Completes the decon lifecycle: tiers
    (d12/d19/d20), ingest twins (st16/st18), index maintenance (t13),
    and now the corpus-level audit a release publishes."""
    from ..functions.text import token_count
    from ..operators.dedup import (
        DECON_BENCH_MOD,
        bloom_decontamination,
        decontamination,
        semantic_decontamination,
    )

    docs = t["documents"]
    base = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0).select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    f1 = decontamination(t).select("doc_id", F.lit(True).alias("f1"))
    f2 = bloom_decontamination(t).select("doc_id", F.lit(True).alias("f2"))
    f3 = semantic_decontamination(t).select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("f3")
    )
    flagged = (
        base.join(f1, "doc_id", "left")
        .join(f2, "doc_id", "left")
        .join(f3, "doc_id", "left")
        .select(
            "n_tokens",
            F.coalesce("f1", F.lit(False)).alias("f1"),
            F.coalesce("f2", F.lit(False)).alias("f2"),
            F.coalesce("f3", F.lit(False)).alias("f3"),
        )
    )
    return _attrition_profile(flagged, DECON_STAGES)


def auto_curation(t: dict[str, DataFrame]) -> DataFrame:
    """E2E AUTO-TUNED curation — the pre-flight estimators wired into one
    entry (VERDICT r5 task 7). A user on a fresh 100 TB corpus should not
    hand-pick the skew cap or the quantizer size; this plan derives both
    from the corpus and runs the cascade with them:

        d17 corpus_dup_profile  ──►  choose_lsh_bucket_cap  ──►  LSH cap
        |embeddings| count      ──►  choose_semdedup_k      ──►  cell count
        dedup_cascade(cap)      ──►  4-row attrition profile + the knobs

    The chosen knobs ride on the output rows, so the DuckDB oracle — which
    recomputes BOTH choosers in SQL from the same corpus (the cap from the
    band-profile CTE, k from the embeddings count) — hash-verifies not
    just the cascade's attrition numbers under the auto cap but the sizing
    formulas themselves, at every fixture scale.

    Scale shape: the profile pass is strictly cheaper than any dedup stage
    (digest-only shuffles, n_bands output rows — SCALE.md d17, sublinear
    to 64×), so auto-tuning adds one cheap pre-pass; the two collects are
    n_bands rows and one count. Everything downstream is the cascade's
    measured-linear plan with a better cap than the default guess.
    Reference semantics: the profile→cap chain replaces the reference's
    fixed server-side defaults (src/server/app/vectorstore settings) with
    data-derived values."""
    from ..operators.dedup import (
        choose_lsh_bucket_cap,
        choose_semdedup_k,
        corpus_dup_profile,
        doc_signatures,
    )

    # the d17 profile and the cascade's LSH stage both read the signature
    # frame: computed once here, persisted, and passed to both in `t`
    sig = doc_signatures(t["documents"]).transform(shared_persist)
    t = {**t, "signatures": sig}
    cap = choose_lsh_bucket_cap(corpus_dup_profile(t))
    n_vecs = t["embeddings"].count()
    k = choose_semdedup_k(n_vecs)
    # r11: this count already sized k — forward it so semdedup skips its
    # own sizing count (one fewer job per call; identical k). n_vecs == 0
    # passes None so semdedup keeps its empty-corpus early-return (an
    # explicit k would send empty embeddings into _ivf_assign, whose
    # empty centroid literal types as VOID and breaks analysis).
    return dedup_cascade(
        t, max_bucket_size=cap, n_centroids=(k if n_vecs > 0 else None)
    ).select(
        "*",
        F.lit(cap).cast("long").alias("lsh_bucket_cap"),
        F.lit(k).cast("long").alias("semdedup_k"),
    )
