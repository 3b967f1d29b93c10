"""Small operators completing the SURVEY.md §2 line-by-line inventory:
listing/probe windows (W4/W5), governance & gating filters (P3/P5/P8),
counting aggregations (A3/A11), and the scalar-function families the
reference leans on (F1/F6/F8/F14). All pure built-in column expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import shared_persist

SUPPORTED_EXTENSIONS = ("pdf", "docx", "txt", "md")
ENABLED_MODELS = ("en", "fr", "zh")


def plain_count(t: dict[str, DataFrame]) -> DataFrame:
    """A3: total chunk count per store (embed/vector_store.py:360-372
    `SELECT COUNT(*)`) — the degenerate aggregation, still distributed
    (partial counts per partition, one final merge)."""
    return t["lineitem"].agg(F.count(F.lit(1)).alias("n_rows"))


def heartbeat_rowcount(t: dict[str, DataFrame]) -> DataFrame:
    """A11: accumulated heartbeat rowcount (embed/jobs.py:502-516 sums
    executemany rowcounts) — batch "update" as join + per-owner count.
    Owners = users who signed up; each click by an owner is one bumped row."""
    ev = t["events"]
    owners = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    clicks = ev.filter(F.col("event_type") == "click")
    return (
        clicks.join(F.broadcast(owners), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("bumped"))
    )


def extension_filter(t: dict[str, DataFrame]) -> DataFrame:
    """P3: supported-extension filter (oci/bucket.py:134-136). Filenames are
    synthesized from doc identity; the filter + lower() matches the
    reference's case-insensitive extension check."""
    docs = t["documents"]
    ext = F.element_at(
        F.array(*[F.lit(e) for e in ("PDF", "docx", "zip", "txt", "exe", "md")]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    named = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit("/doc_"), F.col("doc_id"), F.lit("."), ext).alias(
            "filename"
        ),
        F.lower(ext).alias("ext"),
    )
    return named.filter(F.col("ext").isin(*SUPPORTED_EXTENSIONS))


def model_usability_filter(t: dict[str, DataFrame]) -> DataFrame:
    """P5: keep stores whose embed model is enabled & reachable
    (mcp/tools/vs_discovery.py:41-44) — semi-join of the store catalog
    against the enabled-model set (lang ≙ model id). The enabled set is a
    tiny literal DataFrame → broadcast semi-join, no shuffle of the left."""
    docs = t["documents"]
    spark = docs.sparkSession
    enabled = spark.createDataFrame([(m,) for m in ENABLED_MODELS], "lang string")
    stores = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return stores.join(F.broadcast(enabled), "lang", "left_semi")


def history_filter(t: dict[str, DataFrame]) -> DataFrame:
    """P8: replayable-history filter (runtime/langgraph/chat.py:344-356 drops
    turns stamped history_enabled=False). Error events are the non-replayable
    turns."""
    ev = t["events"]
    return ev.filter(F.col("event_type") != "error").select(
        "event_id", "user_id", "event_type"
    )


def ordered_listing(t: dict[str, DataFrame], limit: int = 50) -> DataFrame:
    """W4: order-by listing (jobs by created DESC, embed/jobs.py:229-247).
    Ties broken by id so the page is deterministic; Catalyst turns
    sort+limit into TakeOrderedAndProject (no full sort at scale)."""
    ev = t["events"]
    return (
        ev.select("event_id", "ts", "event_type")
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(limit)
    )


def limit_probe(t: dict[str, DataFrame]) -> DataFrame:
    """W5: ROWNUM=1 existence/version probe (deepsec/database.py:111-114) —
    deterministic via ORDER BY before LIMIT 1."""
    return (
        t["orders"]
        .select("o_orderkey", "o_orderstatus")
        .orderBy(F.asc("o_orderkey"))
        .limit(1)
    )


def identifier_normalize(t: dict[str, DataFrame], max_len: int = 25) -> DataFrame:
    """F1: identifier normalization (embed/vector_store.py:71-74 `re.sub
    (r"\\W","_").upper()`) with the sha256-suffix overflow compaction of
    api/v1/endpoints/embed.py:101-111: identifiers longer than `max_len`
    keep a prefix plus an 8-hex content hash so distinct names stay
    distinct after truncation."""
    part = t["part"]
    ident = F.upper(F.regexp_replace(F.col("p_name"), r"[^A-Za-z0-9]", "_"))
    compact = F.when(
        F.length(ident) > max_len,
        F.concat(
            F.substring(ident, 1, max_len - 9),
            F.lit("_"),
            F.substring(F.sha2(ident, 256), 1, 8),
        ),
    ).otherwise(ident)
    return part.select("p_partkey", compact.alias("identifier"))


def timestamp_iso(t: dict[str, DataFrame]) -> DataFrame:
    """F6: ISO timestamp formatting (testbed/database.py:21,31 to_char
    'YYYY-MM-DD"T"HH24:MI:SS') + epoch seconds — session tz is UTC so both
    engines render identically."""
    orders = t["orders"]
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("created_iso"),
        F.unix_timestamp("o_orderdate").alias("created_epoch"),
    )


def hex_roundtrip(t: dict[str, DataFrame]) -> DataFrame:
    """F8: hex↔raw id handling (testbed/database.py:24-26 binds
    bytes.fromhex and renders .hex()). Round-trips the name through
    hex/unhex and proves losslessness in-plan."""
    cust = t["customer"]
    hexed = F.hex(F.encode(F.col("c_name"), "UTF-8"))
    return cust.select(
        "c_custkey",
        hexed.alias("name_hex"),
        F.decode(F.unhex(hexed), "UTF-8").alias("name_back"),
        (F.decode(F.unhex(hexed), "UTF-8") == F.col("c_name")).alias("lossless"),
    )


def session_history(t: dict[str, DataFrame]) -> DataFrame:
    """F14+T7: per-client conversation history rendered to the wire format
    (runtime/common.py:99-117 "User: q\\nAssistant: a" joined with
    newlines), replay-filtered per P8. Ordering inside each client is by
    (ts, event_id) — array_sort on a struct keeps the whole fold in
    codegen; one shuffle on user_id."""
    ev = t["events"].filter(F.col("event_type") != "error")
    line = F.struct(
        F.col("ts"), F.col("event_id"),
        F.concat(F.col("event_type"), F.lit("#"), F.col("event_id")).alias("line"),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(line)).alias("turns"))
        .select(
            "user_id",
            F.array_join(F.transform("turns", lambda x: x["line"]), "\n").alias("history"),
            F.size("turns").alias("n_turns"),
        )
    )


def rolling_user_value(t: dict[str, DataFrame]) -> DataFrame:
    """W7 (engine extension): frame-spec windows — rolling 4-event sum and
    mean per user ordered by event time. Frames are absent from the
    reference itself but arrive via the NL2SQL surface (SURVEY.md §2.5);
    Spark SQL supplies them natively."""
    from pyspark.sql import Window

    ev = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_sum4"),
        F.round(F.avg("value").over(w), 4).alias("rolling_avg4"),
    )


def rollup_totals(t: dict[str, DataFrame]) -> DataFrame:
    """A12 (engine extension): hierarchical ROLLUP totals — per (nation,
    segment), per nation, and grand total in one pass. The reference's
    NL2SQL surface gets cube/rollup free from Spark (SURVEY.md §2.4)."""
    orders, cust, nation = t["orders"], t["customer"], t["nation"]
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.rollup(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def cube_summary(t: dict[str, DataFrame]) -> DataFrame:
    """A14 (engine extension): CUBE — all grouping-set combinations of
    (status, priority) in one pass. Null grouping keys are re-labelled
    'ALL' so the output keys stay non-null (both key columns are non-null
    in the data, so the sentinel is unambiguous)."""
    orders = t["orders"]
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def path_functions(t: dict[str, DataFrame]) -> DataFrame:
    """F5: path manipulation as pure column expressions — basename, stem,
    extension, and flattened object key (the oci/bucket.py:120-122 `/`→`_`
    flattening), demonstrated over synthesized document paths."""
    docs = t["documents"]
    path = F.concat(
        F.lit("/data/"), F.col("source"), F.lit("/doc_"), F.col("doc_id"), F.lit(".txt")
    )
    with_path = docs.select("doc_id", path.alias("path"))
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    return with_path.select(
        "doc_id",
        "path",
        basename.alias("basename"),
        F.regexp_replace(basename, r"\.[^.]*$", "").alias("stem"),
        F.regexp_extract(basename, r"\.([^.]*)$", 1).alias("extension"),
        F.regexp_replace(F.expr("substring(path, 2)"), "/", "_").alias("flat_key"),
    )


def json_roundtrip(t: dict[str, DataFrame]) -> DataFrame:
    """F9: JSON parse + canonical re-serialize (the OSON re-encode shape,
    embed/vector_store.py:189-206) — extract a typed field from the props
    JSON and emit a canonical single-key re-encoding."""
    ev = t["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.to_json(F.struct(k.alias("k"))).alias("canonical_props"),
    )


def quantile_summary(t: dict[str, DataFrame]) -> DataFrame:
    """A13 (engine extension): exact percentile aggregation — median and
    p95 order value per priority (the load-harness metric shape,
    docs/demo/racing-championship/load/_chat_common.py:330-383 reports
    p50/p95). Exact interpolated percentiles; at 100 TB swap in
    approx_percentile for one-pass sketching at bounded memory."""
    orders = t["orders"]
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def approx_sketch_stats(t: dict[str, DataFrame]) -> DataFrame:
    """A15 (engine extension): sketch aggregates — HyperLogLog++ distinct
    users and a quantile sketch of value per event type. One pass, bounded
    memory (KB-size sketches per group), mergeable across partitions —
    the 100 TB form of `a13_quantile_summary`'s exact percentiles.
    Rows-only check (approximate results have no exact SQL oracle); the
    unit test bounds the error against exact answers instead."""
    ev = t["events"]
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.round(
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)), 4
        ).alias("p50_value_sketch"),
        F.round(
            F.percentile_approx("value", F.lit(0.95), F.lit(10000)), 4
        ).alias("p95_value_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


def intersect_sources(t: dict[str, DataFrame]) -> DataFrame:
    """U4 (engine extension): INTERSECT — sources that publish in both
    English and German. Set ops beyond UNION are absent from the reference
    (SURVEY.md §2.6) but belong to the NL2SQL surface."""
    docs = t["documents"]
    en = docs.filter(F.col("lang") == "en").select("source")
    de = docs.filter(F.col("lang") == "de").select("source")
    return en.intersect(de)


def except_sources(t: dict[str, DataFrame]) -> DataFrame:
    """U5 (engine extension): EXCEPT — sources with English docs but no
    Chinese ones."""
    docs = t["documents"]
    en = docs.filter(F.col("lang") == "en").select("source")
    zh = docs.filter(F.col("lang") == "zh").select("source")
    return en.subtract(zh)  # EXCEPT (set semantics, not EXCEPT ALL)


def whitespace_normalize(t: dict[str, DataFrame]) -> DataFrame:
    """F2: whitespace normalization (embed/webscrape.py:44-48 collapses
    `\\s+` to one space THEN strips — collapse-before-trim order matters on
    edge whitespace: '\\t abc' must become 'abc', not ' abc'). Emits length +
    digest of the normalized text so the verification rows stay small while
    still proving the exact byte-level transform. Pure narrow map — fuses
    into the scan."""
    docs = t["documents"]
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


def casefold_lookup(t: dict[str, DataFrame]) -> DataFrame:
    """F13: case-insensitive key matching (database/settings.py:136-141
    casefold()s client keys; mcp/proxies/sqlcl.py:328 lower()s aliases).
    A mixed-case probe list resolves against the nation catalog via
    lower()=lower() — the broadcast side is tiny, the match is an equi-join
    on the folded key (sargable, unlike a per-row ILIKE scan)."""
    nation = t["nation"]
    spark = nation.sparkSession
    probes = spark.createDataFrame(
        [("nation_3",), ("Nation_7",), ("NATION_12",), ("nAtIoN_21",), ("nation_99",)],
        "probe string",
    )
    return (
        nation.join(
            F.broadcast(probes),
            F.lower(F.col("n_name")) == F.lower(F.col("probe")),
        )
        .select("probe", "n_name", "n_nationkey")
    )


def grouping_sets_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """A19 (engine extension): GROUPING SETS — the general form rollup and
    cube (a12/a14) specialize; here the three analyst views ((flag,status),
    (flag), ()) computed in ONE pass over lineitem instead of three scans.
    Null grouping keys re-labelled 'ALL' (both keys non-null in data)."""
    li = t["lineitem"]
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "total_price",
        )
    )


KMV_K = 64


def kmv_distinct_shingles(t: dict[str, DataFrame], k: int = KMV_K) -> DataFrame:
    """A26: KMV (k-minimum-values) distinct-count sketch over the corpus's
    3-word shingle universe — the DETERMINISTIC, cross-engine-reproducible
    counterpart to a15's HyperLogLog (which has no SQL oracle): hash every
    distinct shingle with the portable hash60, keep the k smallest
    normalized hashes, estimate D̂ = (k−1)/h_(k) (Bar-Yossef et al. 2002;
    Beyer et al., SIGMOD 2007). Same md5 arithmetic in DuckDB ⇒ the
    sketch, the kth hash, and the estimate are hash-verified exactly — an
    APPROXIMATE operator under the EXACT oracle gate (the d3c move applied
    to cardinality estimation).

    Why this exists at 100 TB: distinct-shingle cardinality sizes the
    minhash signature universe, Bloom decontamination bit budgets (d19's
    false-positive math needs |distinct shingles|), and span-index growth
    — and an exact COUNT(DISTINCT shingle) shuffles every shingle once,
    while the KMV sketch is ALGEBRAIC: per-partition k-smallest lists
    merge by union→k-smallest (exactly what TakeOrderedAndProject's
    partial ordering does here), so the corpus-wide exchange disappears.
    The exact count rides along in this harness form to expose the
    relative error; production drops it (the v12/d21 sample-scoping move).

    k trades error (~1/√k: ~12.5% at k=64) for sketch size; the estimate
    is exact-deterministic for a fixed corpus, so the oracle pins the full
    computation, and the unit test bounds the error."""
    from ..functions import text as T

    shingles = (
        t["documents"]
        .select(F.explode(T.word_shingles(F.col("text"))).alias("sh"))
        .distinct()
    )
    # normalized hash in [0, 1): hash60 / 2^60, exact double both engines
    h = (T.hash60(F.col("sh")) / F.lit(float(1 << 60))).alias("h")
    # persisted: the hashed distinct set feeds BOTH the k-smallest sketch
    # and the exact error reference — one corpus shingle pass instead of
    # two, and the cached rows are a single double column (guide §2.4).
    # The row count equals |distinct shingles| (count of rows, not of
    # distinct h, so hash collisions cannot perturb n_exact).
    hashed = shingles.select(h).transform(shared_persist)
    kth = (
        hashed.orderBy(F.asc("h"))
        .limit(k)
        .agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("n_kept"))
    )
    exact = hashed.agg(F.count(F.lit(1)).alias("n_exact"))
    return kth.crossJoin(exact).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_kept").cast("long").alias("n_kept"),
        (F.round(F.col("hk"), 9) + F.lit(0.0)).alias("kth_hash"),
        F.when(
            F.col("n_kept") >= k, F.round((F.lit(k - 1)) / F.col("hk"), 3)
        )
        .otherwise(F.col("n_exact").cast("double"))
        .alias("estimate"),
        F.col("n_exact").cast("long").alias("n_exact"),
    )


# Count-Min Sketch geometry: R=4 independent seeded hash rows × W=512
# buckets. Fixed constants so the Spark sketch and the DuckDB oracle
# agree bit-for-bit (the hash is the portable seeded hash60).
CMS_W = 512
CMS_SEEDS = (11, 23, 47, 89)
CMS_TOP_N = 12


def _cms_cells(term, seeds: tuple[int, ...], w: int):
    """The R (seed, bucket) cells a term hashes into — one struct per row
    of the sketch, exploded so one scan feeds all rows at once."""
    from ..functions import text as T

    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("seed"),
                    (T.seeded_hash60(term, s) % F.lit(w)).alias("bucket"),
                )
                for s in seeds
            ]
        )
    )


def cms_probe_finisher(
    sketch: DataFrame,
    tok: DataFrame,
    w: int = CMS_W,
    seeds: tuple[int, ...] = CMS_SEEDS,
    n: int = CMS_TOP_N,
) -> DataFrame:
    """Shared point-estimation finisher for the batch (a27) and streaming
    (st23) CMS forms — one implementation so the twins cannot drift on
    tie-breaking or the overcount column (ADVICE r7). `sketch` is the
    completed (seed, bucket, cnt) synopsis; `tok` the one-term-per-row
    token table the exact top-N probe list is drawn from. f̂(x) = min over
    rows of counter[h_s(x)]; overcount = f̂ - f >= 0 by construction."""
    topn = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("term"))
        .limit(n)
    )
    probes = topn.select(
        "term", "n_exact", _cms_cells(F.col("term"), seeds, w).alias("sb")
    ).select("term", "n_exact", "sb.seed", "sb.bucket")
    return (
        sketch.join(F.broadcast(probes), ["seed", "bucket"])
        .groupBy("term", "n_exact")
        .agg(F.min("cnt").alias("est"))
        .select(
            "term",
            F.col("est").cast("long").alias("est_count"),
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.col("est") - F.col("n_exact")).cast("long").alias("overcount"),
        )
    )


def cms_heavy_hitters(
    t: dict[str, DataFrame],
    w: int = CMS_W,
    seeds: tuple[int, ...] = CMS_SEEDS,
    n: int = CMS_TOP_N,
) -> DataFrame:
    """A27: Count-Min Sketch term-frequency estimation (Cormode &
    Muthukrishnan 2005) — the FREQUENCY counterpart to a26's KMV
    cardinality sketch, under the same exact-oracle discipline: every
    hash is the portable hash60, so the sketch counters, the point
    estimates, and the CMS overcount are all deterministic and
    hash-verified cross-engine. Point query f̂(x) = min over rows of
    counter[h_s(x)] — never an undercount, so `overcount >= 0` is an
    invariant the output exposes directly.

    Why this exists at 100 TB: exact term frequencies over a corpus are a
    vocabulary-sized shuffle (tx8's top_terms materializes the whole
    GROUP BY); the CMS is a FIXED R×W-integer synopsis that answers any
    point query after one scan — and it is ALGEBRAIC (per-partition
    cell counts sum), so Catalyst runs it as a map-side partial count
    into a 2048-row exchange regardless of corpus size. Hot-term queries
    (boilerplate detection, stopword discovery, d15-style repeated-text
    triage) read the synopsis, not the corpus. The exact top-N side
    rides along in this harness form as the error reference — production
    drops it (the a26/d21 move).
    """
    from ..functions import text as T

    tok = t["documents"].select(F.explode(T.words("text")).alias("term"))
    sketch = (
        tok.select(_cms_cells(F.col("term"), seeds, w).alias("sb"))
        .select("sb.seed", "sb.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return cms_probe_finisher(sketch, tok, w, seeds, n)


# Fixed source pairs for the overlap estimate (chosen to span the observed
# overlap range at sf0.01: heavy, medium, near-zero); literal so the oracle
# pins the same pairs.
KMV_PAIRS = (
    ("src1", "src5"),
    ("src7", "src13"),
    ("src10", "src18"),
    ("src0", "src13"),
    ("src2", "src3"),
    ("src4", "src9"),
)


def kmv_source_overlap(
    t: dict[str, DataFrame],
    k: int = KMV_K,
    pairs: tuple[tuple[str, str], ...] = KMV_PAIRS,
) -> DataFrame:
    """A28: cross-source shingle-set Jaccard from per-source KMV sketches
    (Beyer et al., SIGMOD 2007 §4: K-min-value synopses support set
    operations) — a26 generalized from one cardinality to an overlap
    MATRIX. Per source keep the k smallest distinct shingle hash60s; for
    a pair (A, B), the k smallest of sketch(A) ∪ sketch(B) form a
    uniform sample of A ∪ B, and the fraction present in BOTH sketches
    estimates J(A, B). Everything is deterministic portable hashing, so
    the sketch rows, n_kept, and the estimate are exact cross-engine;
    the exact Jaccard rides along as the harness's error reference
    (production drops it — the a26/d21 move).

    Why this exists at 100 TB: pairwise source overlap (which crawls
    duplicate which feeds, which dumps re-host which corpora) is the
    triage input to dedup budgeting (d17) and mixture design (smp3/
    smp13) — and the exact form is a cross-source shingle join that
    shuffles the full shingle universe PER PAIR. The KMV form maintains
    one k-row sketch per source (algebraic: per-partition k-smallest
    lists merge by union→k-smallest), and the whole overlap matrix is
    computed from sketches alone — KB per source, independent of corpus
    size, any number of pairs."""
    from pyspark.sql import Window

    from ..functions import text as T

    docs = t["documents"]
    spark = docs.sparkSession

    # Configured pairs must exist in the corpus: the inner joins below
    # would otherwise silently DROP absent sources and return fewer (or
    # zero) rows with no error (ADVICE r7). One column-pruned distinct
    # over the dictionary-encoded source column — bounded by |sources|,
    # corpus-size-independent — validates eagerly and fails loudly.
    # Deliberately EAGER (a Spark job at builder time): a lazy assertion
    # column would surface at materialization inside an executor stack
    # trace; misconfiguration should fail at the call site (review r8:
    # considered and kept — this is a harness/triage op, not a hot path).
    want = {s for p in pairs for s in p}
    have = {r[0] for r in docs.select("source").distinct().collect()}
    missing = sorted(want - have)
    if missing:
        raise ValueError(
            f"kmv_source_overlap: configured pair source(s) {missing} absent "
            f"from the corpus (present: {sorted(have)}); fix the `pairs` "
            f"argument — an inner join would silently drop these pairs"
        )

    pair_df = spark.createDataFrame(list(pairs), "src_a string, src_b string")

    # distinct (source, shingle-hash), persisted: the hash set feeds BOTH
    # the k-row sketches and the exact error reference — without it each
    # side replays the shingle explode + md5 over the whole corpus
    # (guide §2.4)
    sh = (
        docs.select(
            "source", F.explode(T.word_shingles(F.col("text"))).alias("sh")
        )
        .select("source", T.hash60(F.col("sh")).alias("h"))
        .distinct()
        .transform(shared_persist)
    )

    def _pair_flags(rows: DataFrame) -> DataFrame:
        a = pair_df.join(rows, rows["source"] == pair_df["src_a"]).select(
            "src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
        )
        b = pair_df.join(rows, rows["source"] == pair_df["src_b"]).select(
            "src_a", "src_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
        )
        return (
            a.unionAll(b)
            .groupBy("src_a", "src_b", "h")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        )

    # per-source sketch: k smallest hashes (h is distinct within a source)
    sk = sh.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy(F.asc("h")))
    ).filter(F.col("rn") <= k)

    est = (
        _pair_flags(sk.select("source", "h"))
        .withColumn(
            "urn",
            F.row_number().over(
                Window.partitionBy("src_a", "src_b").orderBy(F.asc("h"))
            ),
        )
        .filter(F.col("urn") <= k)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
        .select(
            "src_a",
            "src_b",
            F.lit(k).cast("long").alias("k"),
            F.col("n_kept").cast("long").alias("n_kept"),
            (F.round(F.col("n_both") / F.col("n_kept"), 4) + F.lit(0.0)).alias(
                "jaccard_est"
            ),
        )
    )
    exact = (
        _pair_flags(sh)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        )
        .select(
            "src_a",
            "src_b",
            (F.round(F.col("n_inter") / F.col("n_union"), 4) + F.lit(0.0)).alias(
                "jaccard_exact"
            ),
        )
    )
    return est.join(exact, ["src_a", "src_b"])
