"""Deterministic sampling & dataset-split operators for training-data
pipelines (engine extension — north-star LLM-pipeline surface).

RNG-based `df.sample()` is partition-order-dependent and unstable under
incremental ingest; every operator here keys off the portable md5-based
`hash60` instead, so:

- assignments are **stable**: a document keeps its split forever, across
  re-partitioning, re-ingest, and engine versions;
- the ops are **narrow maps** (split/mix: no shuffle at all) or one
  bounded shuffle (stratified: one window per stratum);
- results are bit-for-bit reproducible in any engine with md5 — which is
  exactly how the DuckDB oracle verifies them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import hash60

TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder
STRATUM_K = 20
MIX_PERMILLE = {"src0": 1000, "src1": 500, "src2": 250}  # per-source keep rates


def _bucket(col, salt: str, mod: int):
    """Deterministic bucket in [0, mod): hash60 of salt|key."""
    return hash60(F.concat(F.lit(f"{salt}|"), col.cast("string"))) % mod


def split_expr(id_col):
    """train/val/test column (80/10/10) from a stable id — shared by
    hash_split and the curation plan so both hash identically."""
    b = _bucket(id_col, "split", 100)
    return (
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


def hash_split(t: dict[str, DataFrame]) -> DataFrame:
    """Train/val/test assignment by hashed doc_id (80/10/10). Pure
    projection — no shuffle, no RNG; the split column can be computed at
    scan time on 100 TB and used as a partition column for the write."""
    docs = t["documents"]
    b = _bucket(F.col("doc_id"), "split", 100)
    return docs.select(
        "doc_id",
        "source",
        b.alias("bucket"),
        split_expr(F.col("doc_id")).alias("split"),
    )


def stratified_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Class-balanced sample: exactly min(K, |stratum|) rows per label,
    chosen by hash order (not arrival order) so the pick is uniform-ish and
    stable. One shuffle on label; per-stratum top-k via row_number, which
    Catalyst executes as a partial top-k per partition before the shuffle
    at scale (WindowGroupLimit)."""
    emb = t["embeddings"]
    w = Window.partitionBy("label").orderBy(
        _bucket(F.col("vec_id"), "strat", 1_000_000_000).asc(), F.col("vec_id").asc()
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATUM_K)
        .select("label", "vec_id", F.col("rn").alias("pick_rank"))
    )


def weighted_mix(t: dict[str, DataFrame]) -> DataFrame:
    """Dataset mixing: each source contributes at its configured rate
    (per-mille keep probability) — the training-corpus recipe step. The
    rate table is a literal broadcast map; the filter is a narrow map, so
    mixing N sources at 100 TB costs one scan."""
    docs = t["documents"]
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in MIX_PERMILLE.items()
        ],
        F.lit(0),
    )
    b = _bucket(F.col("doc_id"), "mix", 1000)
    return (
        docs.withColumn("keep_rate", rate)
        .filter(b < F.col("keep_rate"))
        .select("doc_id", "source", "keep_rate")
    )


def quality_bins(t: dict[str, DataFrame]) -> DataFrame:
    """Curriculum binning: per-language length quartiles via ntile — the
    quality-tier assignment a curriculum sampler consumes. Deterministic
    tie-break on doc_id keeps the bin edges stable."""
    docs = t["documents"]
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.ntile(4).over(w).alias("quality_bin"),
    )


def shuffled_shards(t: dict[str, DataFrame], n_shards: int = 8) -> DataFrame:
    """Deterministic corpus shuffle + sharding — the training-export step
    after curation: shard = portable hash mod n_shards, within-shard order
    = the hash value itself. A reproducible global permutation with no
    random state: stable under re-ingest, unbiased per shard (the hash
    breaks source/time locality), and restartable (any shard can be
    re-derived independently).

    At 100 TB this is `repartition(n_shards, shard)` + sortWithinPartitions
    on the write path — one shuffle keyed by small longs; here the
    assignment itself is the verifiable output (a pure narrow map)."""
    docs = t["documents"]
    h = hash60(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
    return docs.select(
        "doc_id",
        "source",
        (h % n_shards).alias("shard"),
        h.alias("sort_key"),
    )


TEMP_BUDGET_PCT = 50  # target corpus token budget, % of total


def temperature_mix(t: dict[str, DataFrame]) -> DataFrame:
    """Temperature-based domain mixing — the data-dependent complement to
    `weighted_mix`'s fixed rate table: per-source sampling rates derived
    from the corpus itself so low-resource sources are up-weighted
    (multilingual-LM style: w_s ∝ n_s^α with α=0.5, i.e. sqrt
    temperature), then documents kept by the same stable hash filter.

        n_s     = tokens in source s
        w_s     = round(sqrt(n_s))            (integer weight — the sum
                                               stays exact across engines)
        rate_s  = min(1, B·w_s / (W·n_s))     B = budget (50% of tokens),
                                               W = Σ w_s
        keep    = hash60('tmix|' || doc_id) % 1e6 < rate_ppm

    All rate arithmetic is ratios of BIGINTs evaluated in one double
    expression (no multi-row double sums, whose addition order differs
    between engines), rounded to integer parts-per-million — bit-stable in
    any IEEE engine, which is how the DuckDB oracle verifies it.

    Scale shape: agg to one row per source (partial-aggregable) → the tiny
    rate table broadcasts back onto the scan → the keep filter is a narrow
    map. One scan + one broadcast join at 100 TB; the doc-level token count
    fuses into the scan."""
    from ..functions.text import token_count

    docs = t["documents"].select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    per_source = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("n_s")
    ).withColumn(
        "w_s", F.round(F.sqrt(F.col("n_s").cast("double"))).cast("long")
    )
    totals = per_source.agg(
        F.sum("n_s").alias("n_total"), F.sum("w_s").alias("w_total")
    )
    rates = per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_s",
        F.least(
            F.lit(1_000_000),
            F.round(
                (F.lit(TEMP_BUDGET_PCT) / F.lit(100.0))
                * F.col("n_total").cast("double")
                * F.col("w_s").cast("double")
                * F.lit(1_000_000.0)
                / (F.col("w_total").cast("double") * F.col("n_s").cast("double"))
            ).cast("long"),
        ).alias("rate_ppm"),
    )
    b = _bucket(F.col("doc_id"), "tmix", 1_000_000)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(b < F.col("rate_ppm"))
        .select("doc_id", "source", "n_tokens", "rate_ppm")
    )


PACK_CAPACITY = 2048  # tokens per training sequence
PACK_BUCKET_SHIFT = 55  # top 5 bits of hash60 -> 32 order-aligned buckets


def pack_token_stream(
    docs: DataFrame, capacity: int = PACK_CAPACITY
) -> DataFrame:
    """Pack a (doc_id, n_tokens) DataFrame into `capacity`-token bins via
    the two-pass distributed prefix sum described in sequence_packing —
    factored out so composed pipelines (e2e_training_export) can pack any
    upstream doc set, not just the raw corpus."""
    docs = docs.select(
        "doc_id",
        "n_tokens",
        hash60(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))).alias("h"),
    )
    docs = docs.withColumn("bucket", F.shiftright(F.col("h"), PACK_BUCKET_SHIFT))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0).cast("long"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        docs.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bt"))
        .select(
            "bucket",
            F.coalesce(F.sum("bt").over(w_b), F.lit(0).cast("long")).alias("boff"),
        )
    )
    return (
        docs.withColumn("within", within)
        .join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.floor((F.col("boff") + F.col("within")) / F.lit(float(capacity)))
            .cast("long")
            .alias("bin_id"),
            ((F.col("boff") + F.col("within")) % capacity).alias("bin_offset"),
        )
    )


def sequence_packing(t: dict[str, DataFrame], capacity: int = PACK_CAPACITY) -> DataFrame:
    """Training-sequence packing: lay the (deterministically shuffled)
    corpus out as one contiguous token stream and chop it into
    `capacity`-token bins — each doc gets the bin it starts in plus its
    offset there, which is exactly the manifest a sequence-packing data
    loader consumes (doc → (sequence, offset)).

    The global exclusive prefix-sum of token counts is THE scale problem
    here: a naive `Window.orderBy(key)` with no partition key runs on one
    task. This is the classic two-pass distributed prefix sum instead:

      1. bucket docs by the TOP BITS of the shuffle hash (buckets are
         contiguous ranges of the global order, so within-bucket order +
         bucket order = global order);
      2. within-bucket exclusive cumsum — a window per bucket, parallel;
      3. bucket totals (one row per bucket) → tiny single-partition cumsum
         → broadcast back as each bucket's starting offset.

    Every step is integer arithmetic on BIGINTs; bin arithmetic divides by
    a power of two, so the DuckDB oracle (one flat window — affordable at
    oracle scale) matches bit-for-bit."""
    from ..functions.text import token_count

    docs = t["documents"].select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_token_stream(docs, capacity)


def leakage_safe_split(t: dict[str, DataFrame]) -> DataFrame:
    """SMP7: leakage-safe train/val/test assignment — the split key is the
    near-dup CLUSTER id, not the doc id, so every member of a near-dup
    component lands in the same split. Splitting by doc_id lets two
    near-identical documents straddle train and test, silently leaking
    training text into evaluation; clustering first closes that hole.
    Composition of d6's connected components with smp1's deterministic
    hash-split — same 80/10/10 contract, same portable hash60.

    Scale shape: the cluster labels come from the LSH-subgraph components
    (only collision endpoints iterate; singletons get cluster_id = doc_id
    via one anti-join), and the split is then a pure projection — no
    additional shuffle beyond what d6 already does."""
    from .dedup import dedup_clusters

    clusters = dedup_clusters(t)
    return clusters.select(
        "doc_id",
        "cluster_id",
        split_expr(F.col("cluster_id")).alias("split"),
    )


RESAMPLE_TARGET = 1.0  # p(keep) = quality/target; 1.0 → survival prob IS the score


def quality_resample(
    t: dict[str, DataFrame], target: float = RESAMPLE_TARGET
) -> DataFrame:
    """smp8: quality-weighted importance resampling — the soft form of a
    quality gate. Instead of a hard threshold (tx6-style bins), each doc
    survives with probability proportional to its quality score:

        p(keep) = min(1, quality / target)
        keep    = hash60('qrs|' || doc_id) % 1e6 < round(p · 1e6)

    so borderline documents survive in proportion to their score — the
    resampling move quality-classifier curation pipelines use to smooth
    the decision boundary instead of cliff-cutting at a threshold.
    Deterministic (stable hash, 3-decimal quality → integer ppm), so the
    DuckDB oracle runs the identical arithmetic.

    Scale shape: quality parts and the keep filter fuse into one narrow
    map over the scan — no shuffle, no state; at 100 TB this is a pure
    projection pass like tx2/smp1."""
    from ..operators.textops import quality_parts
    from ..functions.text import words

    docs = t["documents"]
    w = words(F.col("text"))
    _, _, _, quality = quality_parts(w)
    p_ppm = F.least(
        F.lit(1_000_000).cast("long"),
        F.round(quality * F.lit(1_000_000.0) / F.lit(target)).cast("long"),
    )
    u = _bucket(F.col("doc_id"), "qrs", 1_000_000)
    return (
        docs.select(
            "doc_id",
            "source",
            quality.alias("quality"),
            p_ppm.alias("p_keep_ppm"),
            u.alias("u_ppm"),
        )
        .filter(F.col("u_ppm") < F.col("p_keep_ppm"))
        .select("doc_id", "source", "quality", "p_keep_ppm")
    )


BUDGET_FRAC = 0.5  # default: keep the best half of the corpus by tokens
SELECT_SUB_SHIFT = 10  # within-quality sub-buckets: contiguous 1024-doc_id ranges


def token_budget_select(
    t: dict[str, DataFrame], budget_frac: float = BUDGET_FRAC
) -> DataFrame:
    """smp9: token-budget-constrained corpus selection — keep the highest-
    quality documents until `budget_frac` of the corpus's tokens are spent.
    Selection order is (quality DESC, doc_id ASC); a document is kept iff
    its INCLUSIVE cumulative token count fits the budget — the "select the
    best N tokens out of M" step every fixed-compute training run performs
    (choose 1T tokens from a 10T crawl), made deterministic.

    Scale shape: NO global sort. Quality is 3-decimal (≤1001 distinct
    values), so the selection-order prefix sum decomposes hierarchically,
    exactly like smp6's two-pass pack but with a semantic key:

      1. per-(quality, sub) exclusive cumsum over doc_id, where
         sub = doc_id >> 10 — contiguous doc_id ranges, so within-quality
         order is preserved; windows run parallel and skew is bounded by
         the sub-bucket width regardless of how many docs share a score;
      2. (quality, sub) totals cumsummed per quality — rows are BUCKET
         counts, not docs (broadcast back; at extreme corpus sizes this
         join degrades gracefully to a shuffle join on (quality, sub));
      3. quality totals cumsummed DESC on a ≤1001-row table; the budget
         (floor(frac × total tokens)) is one scalar off the same table.

    All integer arithmetic on BIGINTs → the DuckDB oracle (one flat window,
    affordable at oracle scale) matches bit-for-bit."""
    from ..functions.text import token_count, words
    from ..operators.textops import quality_parts

    *_rest, quality = quality_parts(words("text"))
    # eager barrier: the scored base feeds FOUR consumer subtrees (the
    # kept-row chain plus the sub/quality/budget aggregates) and Catalyst
    # plans each one its own scan — 8 parquet scans of the corpus and 4
    # replays of the stopword-fold without it. The barrier materializes 4
    # narrow columns once; every aggregate then reads digests, not text.
    scored = t["documents"].select(
        "doc_id",
        quality.alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
        F.shiftright(F.col("doc_id"), SELECT_SUB_SHIFT).alias("sub"),
    ).localCheckpoint(eager=True)
    win_in = (
        Window.partitionBy("quality", "sub")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tokens").over(win_in), F.lit(0).cast("long"))
    base = scored.withColumn("within", within)

    sub_tot = (
        scored.groupBy("quality", "sub")
        .agg(F.sum("n_tokens").alias("st"))
        .localCheckpoint(eager=True)  # bucket-count-sized; 3 consumers
    )
    win_sub = (
        Window.partitionBy("quality")
        .orderBy(F.col("sub").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sub_off = sub_tot.select(
        "quality",
        "sub",
        F.coalesce(F.sum("st").over(win_sub), F.lit(0).cast("long")).alias("sub_off"),
    )
    q_tot = sub_tot.groupBy("quality").agg(F.sum("st").alias("qt"))
    win_q = (
        Window.orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    q_off = q_tot.select(
        "quality",
        F.coalesce(F.sum("qt").over(win_q), F.lit(0).cast("long")).alias("q_off"),
    )
    budget = q_tot.agg(
        F.floor(F.lit(budget_frac) * F.sum("qt")).cast("long").alias("budget")
    )
    return (
        base.join(F.broadcast(q_off), "quality")
        .join(F.broadcast(sub_off), ["quality", "sub"])
        .crossJoin(F.broadcast(budget))
        .withColumn(
            "cum_tok",
            F.col("q_off") + F.col("sub_off") + F.col("within") + F.col("n_tokens"),
        )
        .filter(F.col("cum_tok") <= F.col("budget"))
        .select("doc_id", "quality", "n_tokens", "cum_tok")
    )


DSIR_BUCKETS = 64
DSIR_KEEP_NTILE = 4  # keep the top quartile by importance weight


def dsir_importance(t: dict[str, DataFrame]) -> DataFrame:
    """smp10: DSIR — data selection via hashed-n-gram importance resampling
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"). Tokens hash into DSIR_BUCKETS feature buckets; the target
    distribution is estimated from the curated source ('src0' — DSIR's
    Wikipedia/books stand-in) and the raw distribution from the whole
    corpus, both add-one smoothed. A document's importance weight is
    sum over its tokens of log(p_target(bucket)/p_raw(bucket)); the top
    quartile by weight is selected — the distribution-matching complement
    to smp8's quality-weighted resample (smp8 asks "is it good?", DSIR asks
    "does it look like the target domain?").

    Scale shape: the per-doc FEATURE-COUNT table (doc_id × bucket, ≤B rows
    per doc — DSIR's actual sufficient statistic) is materialized once
    behind an eager barrier; it feeds three consumers (raw distribution,
    target distribution, scoring) that would otherwise each replay the
    corpus explode. Both distributions are B-row tables (broadcast,
    trivially); scoring joins the broadcast log-ratio table onto the count
    table and aggregates per doc with map-side combine. Selection avoids a
    global sort the smp9 way: weights round to 4 decimals, so the
    VALUE-SPACE-bounded weight-level total table (not the corpus) carries
    the exclusive descending cumsum, and the per-weight tie-break window
    partitions by weight — keep iff higher_count + within_rank ≤
    ceil(N/4), exactly NTILE(4)=1. Determinism replaces DSIR's
    Gumbel-noise sampling so the selected set is stable across re-ingest,
    like every sampler in this module.
    """
    return dsir_select(t["documents"]).select("doc_id", "source", "weight")


def dsir_select(
    docs: DataFrame,
    keep_ntile: int = DSIR_KEEP_NTILE,
    extra_keys: tuple[str, ...] = (),
    keep_ids: DataFrame | None = None,
) -> DataFrame:
    """DSIR core, reusable over any document pool (smp10 runs it on the
    whole corpus; e2e_corpus_assembly on the perplexity-kept subset).
    Returns the selected rows as (doc_id, source, *extra_keys, weight,
    n_tokens) — n_tokens rides along from the feature counts for free, so
    downstream token accounting never re-reads text. Scale shape is
    documented on dsir_importance.

    `keep_ids` (a doc_id frame) restricts the pool WITHOUT a semi-join on
    the document table itself (r10, guide §8): filtering the id-level
    feature-count rows after the explode is row-for-row equivalent to
    pre-filtering the documents (the explode+groupBy commutes with a
    doc_id filter), but the text column never crosses an exchange — the
    gate's shuffle carries (doc_id, bucket, cnt) digests only. The gated
    pool, not the full pool, defines raw/target distributions and the
    selection quartile, exactly as before."""
    from ..functions.text import words

    keys = ["doc_id", "source", *extra_keys]
    # eager barrier: three consumer subtrees below — without it Catalyst
    # re-scans the corpus and replays the explode for each
    pre = (
        docs.select(*keys, F.explode(words("text")).alias("term"))
        .select(
            *keys,
            (_bucket(F.col("term"), "dsir", DSIR_BUCKETS)).alias("b"),
        )
        .groupBy(*keys, "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if keep_ids is not None:
        pre = pre.join(keep_ids, "doc_id", "left_semi")
    doc_b = pre.localCheckpoint(eager=True)
    raw = doc_b.groupBy("b").agg(F.sum("cnt").alias("cr"))
    tgt = (
        doc_b.where(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.sum("cnt").alias("ct"))
    )
    # COALESCE the target total to 0: with no 'src0' docs in the pool,
    # SUM over the empty tgt is NULL, which would NULL every weight and
    # make the final equi-join on "weight" silently select ZERO documents
    # (NULL keys never match) while the oracle still ranks N rows — the
    # coalesce makes the empty-target degenerate case a well-defined
    # uniform target (p_t = 1/B for every bucket) in both engines
    totals = raw.crossJoin(
        F.broadcast(
            tgt.select(F.coalesce(F.sum("ct"), F.lit(0).cast("long")).alias("nt"))
        )
    ).join(F.broadcast(raw.select(F.sum("cr").alias("nr"))), how="cross")
    # raw covers every bucket that occurs in any document, so a left join
    # from raw (not from an exhaustive 0..B-1 range) is complete
    ratio = (
        totals.join(F.broadcast(tgt), "b", "left")
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) / (F.col("nt") + F.lit(DSIR_BUCKETS)))
                - F.log((F.col("cr") + F.lit(1.0)) / (F.col("nr") + F.lit(DSIR_BUCKETS)))
            ).alias("log_ratio"),
        )
    )
    weights = (
        doc_b.join(F.broadcast(ratio), "b")
        .groupBy(*keys)
        .agg(
            # + 0.0 normalizes -0.0 so a zero-sum weight hashes and
            # groups identically across engines
            (F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 4) + F.lit(0.0)).alias(
                "weight"
            ),
            F.sum("cnt").alias("n_tokens"),
        )
        .localCheckpoint(eager=True)  # feeds the total-count scalar + cumsum + keep chain
    )
    n_docs = weights.select(
        F.ceil(F.count(F.lit(1)) / F.lit(keep_ntile)).alias("k")
    )
    # weight-level table: bounded by the 4-decimal value space, not corpus size
    wtot = weights.groupBy("weight").agg(F.count(F.lit(1)).alias("wn"))
    higher = F.coalesce(
        F.sum("wn").over(
            Window.orderBy(F.col("weight").desc()).rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
        F.lit(0).cast("long"),
    )
    woff = wtot.select("weight", higher.alias("higher"))
    within = F.row_number().over(
        Window.partitionBy("weight").orderBy(F.col("doc_id").asc())
    )
    return (
        weights.withColumn("within", within)
        .join(F.broadcast(woff), "weight")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("higher") + F.col("within") <= F.col("k"))
        .select(*keys, "weight", "n_tokens")
    )


UNIMAX_MAX_EPOCHS = 2
UNIMAX_BUDGET_FRAC = 1.0


def unimax_budget(
    t: dict[str, DataFrame],
    budget_frac: float = UNIMAX_BUDGET_FRAC,
    max_epochs: int = UNIMAX_MAX_EPOCHS,
) -> DataFrame:
    """smp11: UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling") over (lang, source) domains —
    distribute a total token budget across domains as uniformly as
    possible subject to a per-domain epoch cap: no domain repeats more
    than `max_epochs` times, and the freed budget spreads evenly over the
    larger domains. This is the sampling policy that replaced temperature
    mixing (smp5) for multilingual pretraining corpora.

    The paper's greedy (ascending-size scan carrying remaining budget) is
    water-filling, which has a CLOSED FORM over windows — no iteration:
    sort domains by cap ascending; domain at rank r is fully funded
    ("capped") iff cap_r * (N - r + 1) <= B - prefix_caps_before_r (exact
    BIGINT arithmetic — once it fails it fails for every later rank, so
    the capped set is a rank prefix); every uncapped domain gets the equal
    share theta = (B - capped_sum) / n_uncapped.

    Scale shape: one corpus-sized partial+final aggregate produces the
    domain table, which is |domains| rows (dozens) — the windows and the
    scalar budget run on that tiny table; nothing corpus-sized shuffles
    twice. All comparisons deciding the capped set are integer-exact, so
    the DuckDB oracle matches bit-for-bit; only the final theta division
    is floating (deterministic: both engines divide the same two BIGINTs).
    """
    from ..functions.text import token_count

    # a24 barrier: the budget scalar derives from `dom`; without the
    # checkpoint Catalyst inlines the lineage and re-scans the corpus for
    # the budget branch (two full token-count passes instead of one).
    dom = (
        t["documents"]
        .groupBy("lang", "source")
        .agg(F.sum(token_count(F.col("text"))).alias("n_tokens"))
        .withColumn("cap", F.col("n_tokens") * F.lit(max_epochs))
        .localCheckpoint(eager=False)
    )
    budget = dom.agg(
        F.floor(F.lit(budget_frac) * F.sum("n_tokens")).cast("long").alias("budget")
    )
    w = Window.orderBy(F.col("cap").asc(), F.col("lang").asc(), F.col("source").asc())
    ranked = (
        dom.crossJoin(F.broadcast(budget))
        .withColumn("r", F.row_number().over(w))
        .withColumn(
            "pre",
            F.coalesce(
                F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("n_dom", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "capped",
            (
                F.col("cap") * (F.col("n_dom") - F.col("r") + 1)
                <= F.col("budget") - F.col("pre")
            ).cast("int"),
        )
    )
    wall = Window.partitionBy()
    capped_sum = F.coalesce(
        F.sum(F.when(F.col("capped") == 1, F.col("cap"))).over(wall),
        F.lit(0).cast("long"),
    )
    n_uncapped = F.count(F.lit(1)).over(wall) - F.sum("capped").over(wall)
    # all-capped (budget_frac >= max_epochs): every domain gets its cap and
    # theta's division never applies — guard the denominator so the 0/0
    # branch is never evaluated (ADVICE r5)
    theta = (F.col("budget") - capped_sum) / F.when(n_uncapped > 0, n_uncapped)
    alloc = F.when(F.col("capped") == 1, F.col("cap").cast("double")).otherwise(
        F.round(theta, 4)
    )
    return ranked.select(
        "lang",
        "source",
        "n_tokens",
        "cap",
        "capped",
        (alloc + F.lit(0.0)).alias("alloc_tokens"),
        (F.round(alloc / F.col("n_tokens"), 4) + F.lit(0.0)).alias("epochs"),
    )


CURRICULUM_STAGES = 4
CURRICULUM_SHARDS = 32


def curriculum_order(
    t: dict[str, DataFrame],
    n_stages: int = CURRICULUM_STAGES,
    n_shards: int = CURRICULUM_SHARDS,
) -> DataFrame:
    """smp12: curriculum schedule by sequence-length warmup (Li et al. 2022,
    "The Stability-Efficiency Dilemma: ... Curriculum Learning" — short
    sequences first is the production curriculum for LLM pretraining) —
    every document gets a training STAGE (exact global length quantile)
    and a deterministic position within its stage, pre-sharded so the
    trainer streams stage 0 shard-by-shard, then stage 1, ...

    tx6_quality_bins is the NTILE form of this binning: correct while a
    partition column (lang) bounds the window, but a GLOBAL NTILE is a
    single-partition sort of the corpus — the one shape this module bans.
    Here the exact global quantile comes from the token-count DISTRIBUTION
    table instead (same move as smp9's hierarchical prefix sum): count docs
    per distinct n_tokens value (partial+final agg, digests only), run the
    cumulative sum on that |distinct lengths|-row table (bounded by the
    longest document, NOT the corpus — trivially window-able), and map each
    doc to stage = ceil(cum(v) * n_stages / N) with pure BIGINT arithmetic
    ((cum*s - 1) DIV N), broadcast-joined back on n_tokens. Ties share a
    length value, hence a stage — stages are exact quantile blocks up to
    tie granularity, bit-identical in any engine.

    Within a stage, order must be SHUFFLED (curriculum orders stages, not
    docs — in-stage correlation hurts convergence), so position is a
    row_number keyed by the portable hash, partitioned by (stage, shard):
    n_stages * n_shards independent windows, each ~corpus/128 rows — no
    global sort anywhere at any scale.
    """
    from ..functions.text import token_count

    docs = t["documents"].select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    # NULL-token docs (NULL text) can never join back on n_tokens, but
    # left in the distribution they'd shift every quantile boundary — and
    # differently per engine (Spark windows order NULLS FIRST, DuckDB
    # NULLS LAST). The op is defined over tokenizable docs: drop them
    # from the distribution AND the total in both engines.
    docs = docs.filter(F.col("n_tokens").isNotNull())
    dist = docs.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    # the distribution table is tiny (distinct length values), so the
    # unpartitioned cumulative window and the count scalar are O(1) jobs
    cum = dist.withColumn(
        "cum", F.sum("c").over(Window.orderBy("n_tokens"))
    ).crossJoin(F.broadcast(dist.agg(F.sum("c").cast("long").alias("n"))))
    staged = cum.select(
        "n_tokens",
        F.expr(f"CAST((cum * {n_stages} - 1) DIV n AS INT)").alias("stage"),
    )
    shard = _bucket(F.col("doc_id"), "curshard", n_shards)
    pos_w = Window.partitionBy("stage", "shard").orderBy(
        _bucket(F.col("doc_id"), "curorder", 1_000_000_000).asc(),
        F.col("doc_id").asc(),
    )
    return (
        docs.join(F.broadcast(staged), "n_tokens")
        .select("doc_id", "n_tokens", "stage", shard.cast("long").alias("shard"))
        .withColumn("pos", F.row_number().over(pos_w).cast("long"))
    )


def mixture_epochs(t: dict[str, DataFrame]) -> DataFrame:
    """smp13: apply smp11's UniMax allocation at document granularity —
    the step that turns a per-domain token budget into the actual repeat
    schedule a data loader executes. A domain funded for e epochs repeats
    every document floor(e) times, plus one more for a deterministic
    hash-uniform frac(e) subset (the standard fractional-epoch rule:
    sampling without replacement within the final partial pass).

    Exactness: e is smp11's ROUND(...,4) double, identical on both
    engines; frac(e)*1e6 rounds to an integer ppm threshold, and the
    extra-repeat draw is the same portable-hash comparison every sampler
    in this module uses — no RNG, no float comparison, stable under
    re-ingest.

    Scale shape: the domain table (epochs per (lang, source)) is dozens
    of rows and BROADCASTS onto the corpus scan; n_repeats is then a
    scan-fused projection — the whole op adds zero shuffles on top of
    smp11's single corpus aggregate."""
    dom = unimax_budget(t).select(
        "lang",
        "source",
        F.floor("epochs").cast("long").alias("full_epochs"),
        F.round((F.col("epochs") - F.floor("epochs")) * 1_000_000)
        .cast("long")
        .alias("frac_ppm"),
    )
    extra = (_bucket(F.col("doc_id"), "epoch", 1_000_000) < F.col("frac_ppm")).cast(
        "long"
    )
    return (
        t["documents"]
        .select("doc_id", "lang", "source")
        .join(F.broadcast(dom), ["lang", "source"])
        .select(
            "doc_id",
            "lang",
            "source",
            (F.col("full_epochs") + extra).alias("n_repeats"),
        )
    )


WSAMP_N = 100
WSAMP_MIN_W = 0.001


def weighted_sample(t: dict[str, DataFrame], n: int = WSAMP_N) -> DataFrame:
    """SMP14: one-pass weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006, algorithm A-ES): each document draws a
    deterministic uniform u = (hash60('wsamp|'||doc_id)+1)/2^60 — the +1
    maps hash60's [0, 2^60) onto (0, 1] so u can never be exactly 0,
    where Spark's F.log returns NULL but DuckDB's ln(0) is -inf (a
    cross-engine divergence that would silently drop one doc per ~2^60;
    ADVICE r7) — and a key
    ln(u)/w — the log form of u^(1/w), same ordering, no pow — where w
    is the tx2 quality score (round-3, so the weight is exact
    cross-engine; floored at 0.001 so zero-quality docs stay sampleable
    rather than dividing to -inf). The n largest keys ARE a weighted
    sample without replacement: P(doc first) = w_i/Σw, exactly the
    property smp8's independent-Bernoulli resample does NOT give when a
    fixed sample SIZE is required. Keys round to 9 decimals before
    ordering (doc_id tiebreak) so the cut is reproducible cross-engine
    even where ln() differs in the last ulp.

    Why this exists at 100 TB: drawing a fixed-size quality-weighted
    subcorpus is THE curation sampling primitive (seed corpora, eval
    slices, distillation sets), and A-ES makes it one scan + a partial
    top-n — per-partition candidates merge by top-n (the KMV/a26 merge
    shape), so there is no global sort and no second pass over weights.
    Plan-guarded: TakeOrderedAndProject, no Exchange hashpartitioning
    before the final merge."""
    from .textops import quality_parts
    from ..functions import text as T

    docs = t["documents"]
    w_arr = T.words("text")
    _, _, _, quality = quality_parts(w_arr)
    u = (
        hash60(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string")))
        + F.lit(1)
    ) / F.lit(float(1 << 60))
    wcol = F.greatest(quality, F.lit(WSAMP_MIN_W))
    key = F.round(F.log(u) / wcol, 9) + F.lit(0.0)
    return (
        docs.select(
            "doc_id",
            "source",
            quality.alias("quality"),
            key.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(n)
    )


MWU_ETA = 0.5
MWU_ROUNDS = 3


def mwu_domain_weights(
    t: dict[str, DataFrame], eta: float = MWU_ETA, rounds: int = MWU_ROUNDS
) -> DataFrame:
    """SMP15: multiplicative-weights domain reweighting — the DoReMi
    update step (Xie et al. 2023: upweight domains with EXCESS loss under
    a proxy model) as a deterministic, oracle-verifiable mixture op,
    completing the mixing family (smp3 fixed rates, smp5 temperature,
    smp11 UniMax caps, smp13 epochs, smp10 DSIR importance — this one is
    loss-DRIVEN).

        loss_d   = 1 − mean(quality)_d      (tx2's round-3 quality as the
                                             proxy loss; the mean is exact:
                                             an INTEGER permille sum / n)
        excess_d = loss_d − min_d loss      (the DoReMi excess-loss signal)
        f_d      = 1 + eta·excess_d          (linearized MWU factor — no
                                             exp(), so the update chain is
                                             plain IEEE arithmetic both
                                             engines reproduce bit-for-bit;
                                             the tx19 no-transcendentals
                                             rule)
        w_d      ∝ f_d^rounds               (explicit multiply chain;
                                             normalized by a DECIMAL sum so
                                             the k-row normalizer is
                                             order-free)

    With a FIXED loss vector the unrolled rounds collapse to a power —
    production DoReMi retrains the proxy between rounds and re-enters this
    op with fresh losses; the op IS the update step, and the fixture form
    runs the 3-round chain on one static loss vector (the well-defined
    degenerate case the oracle pins).

    Scale shape: one corpus scan partial-aggregates to |domains| rows
    (integer permille sums — no float-sum order dependence); everything
    after is arithmetic on a broadcast k-row table. The weight table then
    drives smp3/smp8-style keep filters."""
    from .textops import quality_parts
    from ..functions import text as T

    docs = t["documents"]
    w_arr = T.words("text")
    _, _, _, quality = quality_parts(w_arr)
    # permille: quality is round-3, so x1000 is integer-exact (round to
    # kill the 1e-13 float residue BEFORE the long cast — Spark truncates)
    ppm = F.round(quality * 1000, 0).cast("long")
    dom = docs.select(F.col("source"), ppm.alias("q_ppm")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("q_ppm").alias("sum_ppm"),
    )
    # eager barrier (the t10 lesson): the |domains|-row table feeds THREE
    # consumers (baseline min, DECIMAL normalizer, the output projection)
    # and Catalyst would otherwise plan each its own corpus scan —
    # measured 4 scans without this; 1 with it
    dom = dom.localCheckpoint(eager=True)
    loss = F.round(
        F.lit(1.0) - F.col("sum_ppm") / (F.lit(1000.0) * F.col("n_docs")), 9
    ) + F.lit(0.0)
    dom = dom.withColumn("loss", loss)
    base = dom.agg(F.min("loss").alias("b"))
    dom = dom.crossJoin(F.broadcast(base)).withColumn(
        "excess", F.round(F.col("loss") - F.col("b"), 9) + F.lit(0.0)
    )
    f = F.lit(1.0) + F.lit(eta) * F.col("excess")
    ft = f
    for _ in range(rounds - 1):
        ft = ft * f  # explicit left-assoc chain: no pow(), IEEE-exact
    dom = dom.withColumn("ft", F.round(ft, 9) + F.lit(0.0))
    norm = dom.agg(
        F.sum(F.col("ft").cast("decimal(18,9)")).cast("double").alias("s")
    )
    return (
        dom.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "loss",
            "excess",
            (F.round(F.col("ft") / F.col("s"), 9) + F.lit(0.0)).alias("weight"),
        )
        .orderBy("source")
    )
