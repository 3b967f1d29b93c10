"""Text-analysis operators over `documents` — the LLM-pipeline text family
(BASELINE.json north star): token stats, quality scoring, language ID,
fingerprinting, plus the reference-parity chunker (F3/F4).

Everything is built-in column expressions (codegen, map-only — no shuffle
except the final display ordering the caller may add). At 100 TB these run
as narrow transforms fused into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..cache import shared_persist

STOPWORDS = ("the", "a", "and", "of", "to", "in")

LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "les", "et", "une"),
    "de": ("der", "die", "und", "das"),
}


def token_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Token counting (whitespace tokenizer): counts, distinct counts, mean
    token length — the unit economics of a training corpus."""
    docs = t["documents"]
    w = T.words("text")
    total_len = F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_uniq_tokens"),
        F.round(total_len / F.size(w), 3).alias("avg_token_len"),
    )


def quality_parts(w):
    """(len_score, diversity, stop_ratio, quality) column exprs from a
    words-array column — shared by quality_score and the curation plan so
    both compute the identical formula."""
    n = F.size(w).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast("double")
    n_uniq = F.size(F.array_distinct(w)).cast("double")
    len_score = F.least(F.lit(1.0), n / F.lit(50.0))
    diversity = n_uniq / n
    stop_ratio = n_stop / n
    quality = F.round(
        F.lit(0.4) * len_score + F.lit(0.3) * diversity + F.lit(0.3) * (F.lit(1.0) - stop_ratio),
        3,
    )
    return len_score, diversity, stop_ratio, quality


def quality_score(t: dict[str, DataFrame]) -> DataFrame:
    """Heuristic quality scoring: length score (saturating at 50 tokens),
    lexical diversity, stopword ratio — combined into one [0,1] score.
    Deterministic arithmetic; the DuckDB oracle runs the same formula."""
    docs = t["documents"]
    w = T.words("text")
    len_score, diversity, stop_ratio, quality = quality_parts(w)
    return docs.select(
        "doc_id",
        F.round(len_score, 3).alias("len_score"),
        F.round(diversity, 3).alias("diversity"),
        F.round(stop_ratio, 3).alias("stop_ratio"),
        quality.alias("quality"),
    )


def lang_id(t: dict[str, DataFrame]) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family): count per-language
    marker hits, argmax with a fixed precedence (en>es>fr>de), 'unknown'
    when nothing matches. The mechanism is what's verified — the synthetic
    corpus is English-ish regardless of its `lang` label."""
    docs = t["documents"]
    w = T.words("text")
    def _marker_filter(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return lambda x: F.array_contains(arr, x)

    counts = {
        lang: F.size(F.filter(w, _marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    en, es, fr, de = counts["en"], counts["es"], counts["fr"], counts["de"]
    predicted = (
        F.when((en > 0) & (en >= es) & (en >= fr) & (en >= de), "en")
        .when((es > 0) & (es >= fr) & (es >= de), "es")
        .when((fr > 0) & (fr >= de), "fr")
        .when(de > 0, "de")
        .otherwise("unknown")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        de.alias("de_hits"),
        predicted.alias("predicted_lang"),
    )


def fingerprints(t: dict[str, DataFrame]) -> DataFrame:
    """F2+document fingerprinting: md5 of the normalized (lowercased,
    whitespace-collapsed) text + the portable 60-bit hash."""
    docs = t["documents"]
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fingerprint"),
        T.hash60(T.normalize("text")).alias("fingerprint60"),
    )


def chunk_documents(
    t: dict[str, DataFrame], chunk_size: int = 100, overlap: int = 20
) -> DataFrame:
    """F3+F4: reference-parity sliding-window chunker (embed/document.py:
    88-99 semantics: emit [start, start+size); stop at the chunk that
    reaches the end; start = end - overlap) with `{id}_{idx}` chunk ids
    (document.py:119-123). Pure posexplode — UDTF shape, no Python."""
    return T.chunk_text(t["documents"], "text", "doc_id", chunk_size, overlap)


def top_terms(t: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """Corpus-level document-frequency top-k terms: the vocabulary head a
    curation pipeline inspects (and the df side of tf-idf). Distinct-per-doc
    explode → count — one partial-aggregable shuffle on the term; the final
    top-k is TakeOrderedAndProject, so only k rows reach the driver side of
    the sort. Total order (df desc, term asc) makes the LIMIT deterministic."""
    docs = t["documents"]
    terms = docs.select(F.explode(F.array_distinct(T.words("text"))).alias("term"))
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(k)
    )


def tfidf_top_terms(t: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf·idf (idf = ln(N/df)) — document
    keyword extraction over the whole corpus in one plan: token explode →
    (doc,term) tf agg → term df agg → broadcast join + scalar N → per-doc
    window top-k. Both shuffles are partial-aggregated and keyed on terms
    (uniform, no skew); the df table is vocabulary-sized so the scoring
    join broadcasts at any corpus scale."""
    docs = t["documents"]
    toks = docs.select("doc_id", F.explode(T.words("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = (
        toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 3).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# BPE-style pre-tokenizer: letter runs, digit runs, and punctuation runs as
# separate tokens (the GPT-2 pre-tokenization classes, minus byte tricks) —
# the same pattern string compiles in Spark (Java regex) and DuckDB (RE2).
BPE_PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def bpe_token_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Token counting, BPE-pre-tokenizer flavor: alongside the whitespace
    counts of token_stats, the regex split that subword tokenizers apply
    first — a much closer proxy for LLM token budgets (punctuation and
    numbers count separately). Narrow map fused into the scan, like every
    text op here."""
    docs = t["documents"]
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), 0)
    ws = T.words("text")
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_bpe"),
        F.round(F.size(toks) / F.greatest(F.size(ws), F.lit(1)), 3).alias("bpe_per_word"),
    )


def surprisal_score(t: dict[str, DataFrame]) -> DataFrame:
    """Unigram-LM surprisal: per-doc mean -ln p(term) under the corpus
    unigram distribution (p = corpus tf / total tokens) — the statistical
    quality/novelty score next to the heuristic quality_score (rare-word
    documents score high, boilerplate scores low). Two partial-agg shuffles
    build the model (term counts); scoring joins the vocabulary-sized model
    broadcast onto the token stream — no full-corpus shuffle carries text."""
    docs = t["documents"]
    toks = docs.select("doc_id", F.explode(T.words("text")).alias("term"))
    model = toks.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    total = model.select(F.sum("ctf").alias("total_tokens"))
    return (
        toks.join(F.broadcast(model), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("total_tokens") / F.col("ctf"))), 4).alias(
                "avg_surprisal"
            ),
        )
    )


def repetition_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Gopher-style repetition signals per document — the training-data
    filter family the heuristic quality score doesn't cover: top-word
    dominance (boilerplate repeats its subject) and duplicate-bigram
    fraction (template text repeats phrases, not just words).

    Plan shape: ENTIRELY array math fused into one projection — zero
    shuffles, zero joins. The bigram fraction is zip_with over two slices
    of the token array; the top-word count is the longest equal-run in the
    SORTED token array (max multiplicity ≡ max run), folded with a single
    `aggregate` over a (run, best, prev) struct accumulator. The previous
    formulation exploded to (doc_id, word) rows and paid two shuffles plus
    a join back; per-doc token arrays are small enough that the O(n log n)
    in-row sort beats moving the pairs across the wire — and at 100 TB the
    entire operator rides the scan."""
    docs = t["documents"]
    w = T.words("text")
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws("_", a, b),
    )
    run_acc = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            x.alias("prev"),
        ),
    )
    top_word_n = run_acc["best"]
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.when(
            F.size(bigrams) > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(bigrams)) / F.size(bigrams).cast("double"),
                3,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
        top_word_n.alias("top_word_n"),
        F.round(top_word_n / n.cast("double"), 3).alias("top_word_frac"),
    )


# PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB)
# compile identically — char classes, bounded repeats, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"


def pii_redaction(t: dict[str, DataFrame]) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline runs
    before text leaves curation: find + replace emails and phone numbers
    with typed placeholders, and account for what was removed.

    The synthetic corpus contains no PII, so the query synthesizes a
    deterministic contact block per document (same expression in the DuckDB
    oracle) — the regexes and the redaction transform are what's verified.
    Pure narrow map: regexp_extract_all + regexp_replace fuse into the
    scan; at 100 TB this runs codegen'd with zero shuffles."""
    docs = t["documents"]
    synth = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(synth, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(synth, F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(synth, F.lit(PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def _word_freq(docs: DataFrame) -> DataFrame:
    """Distinct-word frequency table — the state BPE training actually
    iterates over. The classic scale trick: merge statistics are counted
    over word TYPES weighted by frequency, so after this one corpus-sized
    aggregation every training round runs on the (much smaller) vocabulary
    table, not the corpus."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), 0)
    return (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pair_counts(syms: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol-pair counts over (syms: array<string>,
    freq) rows: explode consecutive (a,b) pairs, sum freq per pair. One
    partial-aggregable shuffle whose input is Σ(len-1) pair rows over the
    vocabulary — independent of corpus size."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.struct(
            F.element_at("syms", i).alias("a"),
            F.element_at("syms", i + 1).alias("b"),
        ),
    )
    return (
        syms.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _chars(col) -> "F.Column":
    """String → array of single-character symbols (the BPE start state)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(F.sequence(F.lit(1), F.length(c)), lambda i: c.substr(i, F.lit(1)))


def bpe_pair_counts(t: dict[str, DataFrame], k: int = 30) -> DataFrame:
    """TX13: the inner statistic of BPE tokenizer training — corpus-wide
    adjacent character-pair counts over the pre-tokenized vocabulary,
    weighted by word frequency; the top pair is the next merge a trainer
    would learn. Two aggregations total: one corpus-sized (word freq), one
    vocabulary-sized (pair counts) — the 100 TB shape, since the second
    shuffle's input no longer depends on corpus size."""
    wf = _word_freq(t["documents"])
    syms = wf.select(_chars("w").alias("syms"), "freq")
    return (
        _adjacent_pair_counts(syms)
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


def _merge_pair(syms_col, a: str, b: str):
    """Apply one learned merge to a symbol array: fold left, joining every
    adjacent (a,b) into a single symbol. Pure Catalyst expression (no UDF):
    the accumulator is the rebuilt array; each step either fuses with the
    previous symbol or appends. Greedy left-to-right, matching the
    reference BPE merge procedure."""
    merged = a + b
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_learn(t: dict[str, DataFrame], n_merges: int = 8) -> DataFrame:
    """TX14: BPE vocabulary learning — `n_merges` rounds of (count pairs →
    take argmax → merge everywhere), the actual training loop of a
    byte-pair tokenizer, run distributed. Per round the only driver-side
    state is the single winning pair (a 1-row collect of a vocabulary-sized
    aggregate); the merge application is a pure Catalyst fold over the
    cached vocabulary table. Oracle-backed despite the iterative shape:
    the fixed merge budget unrolls into chained SQL CTEs where one merge
    round is a single replace() over separator-delimited symbol strings
    (leftmost non-overlapping replacement IS BPE's greedy fold); parity
    with a pure-Python reference trainer is additionally unit-tested
    (tests/test_bpe.py).

    Returns the learned merge table: (merge_rank, a, b, pair_count)."""
    wf = _word_freq(t["documents"])
    syms = wf.select(_chars("w").alias("syms"), "freq")
    syms = syms.localCheckpoint(eager=True)  # truncate lineage across rounds
    learned = []
    for rank in range(n_merges):
        best = (
            _adjacent_pair_counts(syms)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        r = best[0]
        learned.append((rank, r["a"], r["b"], int(r["pair_count"])))
        # r11 (guide §1.2/§5): LAZY checkpoint — eager=True paid a second
        # driver job per round, and the LAST round's merge was computed
        # then thrown away (nothing consumes syms after the loop). The
        # lazy checkpoint materializes inside the next round's collect, so
        # lineage still truncates one round at a time; values are
        # untouched (a checkpoint is just materialization), and the loop
        # drops from 2 jobs per round + 1 dead merge to 1 job per round.
        syms = syms.select(
            _merge_pair(F.col("syms"), r["a"], r["b"]).alias("syms"), "freq"
        ).localCheckpoint(eager=False)
    spark = t["documents"].sparkSession
    return spark.createDataFrame(
        learned, "merge_rank int, a string, b string, pair_count bigint"
    )


def bpe_tokenize(t: dict[str, DataFrame], n_merges: int = 8) -> DataFrame:
    """TX15: apply a learned BPE merge table to the corpus — the read side
    of the tokenizer whose write side is `bpe_learn`. Emits the per-doc
    accounting a data pipeline tracks after switching tokenizers:
    subword count, unique subwords, and chars-per-subword compression.

    Spark shape: the merge table is tiny driver-side state (it IS the
    tokenizer model) applied inside an Arrow-batched pandas UDF — BPE's
    sequential merge loop over each word is the canonical "semantics no
    built-in expresses efficiently" case (SURVEY §2.10): per-word
    Python-loop cost, Arrow batch transfer, zero shuffle. The pre-tokenize
    + per-word merge application parallelizes embarrassingly; token counts
    aggregate map-side."""
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    merges = [
        (r["a"], r["b"]) for r in bpe_learn(t, n_merges=n_merges).collect()
    ]
    pretoken = __import__("re").compile(BPE_PRETOKEN_RE)

    def _apply(word: str) -> list[str]:
        syms = list(word)
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_subwords", LongType()),
            StructField("n_uniq_subwords", LongType()),
            StructField("n_chars", LongType()),
        ]
    )

    def _tokenize(batches):
        # per-batch word->tokenization memo: corpora repeat words heavily,
        # so the merge loop runs once per distinct word per batch
        for pdf in batches:
            memo: dict[str, list[str]] = {}
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n_sub = 0
                uniq = set()
                n_chars = 0
                for w in pretoken.findall(text):
                    toks = memo.get(w)
                    if toks is None:
                        toks = _apply(w)
                        memo[w] = toks
                    n_sub += len(toks)
                    uniq.update(toks)
                    n_chars += len(w)
                rows.append((int(doc_id), n_sub, len(uniq), n_chars))
            yield pd.DataFrame(rows, columns=["doc_id", "n_subwords", "n_uniq_subwords", "n_chars"])

    docs = t["documents"].select("doc_id", "text")
    out = docs.mapInPandas(_tokenize, schema)
    return out.select(
        "doc_id",
        "n_subwords",
        "n_uniq_subwords",
        F.round(F.col("n_chars") / F.greatest(F.col("n_subwords"), F.lit(1)), 3).alias(
            "chars_per_subword"
        ),
    )


def chunk_documents_udtf(t: dict[str, DataFrame]) -> DataFrame:
    """F17: the chunker as a REAL Python UDTF (SURVEY §2.10) — one input
    row → N chunk rows via a lateral table function, the literal Spark 4
    form of the reference's loader/splitter extension point
    (embed/document.py:69-110). Bit-identical output contract to
    `chunk_documents` (tx5), which remains the production form: the
    posexplode expression tier runs JVM-side with no Python in the loop,
    while this tier demonstrates the extension-point mechanism (arbitrary
    Python per input row, engine-managed fan-out). Same oracle as tx5."""
    from pyspark.sql.functions import udtf

    spark = t["documents"].sparkSession

    @udtf(returnType=(
        "doc_id bigint, chunk_id string, start_index int, "
        "chunk_text string, chunk_len int"
    ))
    class ChunkUDTF:
        def eval(self, doc_id, text):
            if text is None:
                return
            n = len(text)
            idx = 0
            start = 0
            while (start == 0 and n > 0) or (start > 0 and start + 20 < n):
                idx += 1
                chunk = text[start : start + 100]
                yield (doc_id, f"{doc_id}_{idx}", start, chunk, len(chunk))
                start += 80

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    t["documents"].select("doc_id", "text").createOrReplaceTempView("__docs_src")
    return spark.sql(
        "SELECT c.* FROM __docs_src, LATERAL chunk_udtf(doc_id, text) c"
    )


def source_median_quality(t: dict[str, DataFrame]) -> DataFrame:
    """A23: per-source EXACT median quality via a pandas grouped-aggregate
    UDF — the UDAF leg of the §2.10 extension surface (f17 is the UDTF
    leg; D3's embedder the scalar-iterator leg). Exact medians are the
    standard UDAF example because no built-in aggregate composes one
    (percentile_approx is approximate); the Arrow-batched grouped-agg form
    gets partial-aggregation-free but shuffle-bounded semantics: one
    exchange on `source`, each group's quality vector reduced in a single
    numpy call. At 100 TB per-group state is the group's values — fine for
    bounded groups (sources); unbounded groups would use the t-digest
    sketch in a15 instead."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _median(v):
        return float(v.median())

    # annotations set explicitly as live objects: the module's
    # `from __future__ import annotations` would stringify inline hints,
    # and pandas_udf's eval-type inference can't resolve them against a
    # function-local pandas import
    _median.__annotations__ = {"v": pd.Series, "return": float}
    median_udaf = pandas_udf(_median, "double")

    def _count(v):
        return len(v)

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(), so the count rides as a second UDAF
    _count.__annotations__ = {"v": pd.Series, "return": int}
    count_udaf = pandas_udf(_count, "long")

    docs = t["documents"]
    w = T.words("text")
    _, _, _, quality = quality_parts(w)
    return (
        docs.select("source", quality.alias("quality"))
        .groupBy("source")
        .agg(
            F.round(median_udaf("quality"), 4).alias("median_quality"),
            count_udaf("quality").alias("n_docs"),
        )
        .orderBy("source")
    )


def ngram_perplexity(t: dict[str, DataFrame]) -> DataFrame:
    """tx16: CCNet-style bigram-LM perplexity filter (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"). Trains an add-one-smoothed bigram LM on a deterministic
    reference slice (doc_id % 2 = 0 — the stand-in for the curated
    reference corpus CCNet trains KenLM on), scores EVERY document by
    bigram cross-entropy under that LM, and splits each language's corpus
    into head/middle/tail perplexity tertiles — CCNet's exact keep/discard
    signal (head = closest to the reference distribution).

    Scale shape: bigrams are formed ARRAY-SIDE (slice+arrays_zip — a narrow
    map fused into the scan, no per-token shuffle to build pairs). The LM
    is token-TYPE-sized: ONE partial-agg shuffle over the reference slice
    builds the bigram-count table c2, materialized behind an eager barrier;
    the context counts (c1 = Σ_cur c2) and vocab scalar derive from c2, so
    the model costs one reference pass, not three. Scoring is the only
    other corpus pass: the broadcast model joins onto the bigram stream —
    no corpus-sized shuffle ever carries text; the per-doc aggregation
    shuffles map-combined partial sums keyed by doc_id. The tertile split
    is one window per language over doc-level rows. Rounding before the
    NTILE order key keeps the tertile boundaries engine-portable.
    """
    docs = t["documents"]
    w = T.words("text")
    base = docs.select("doc_id", "lang", w.alias("w")).where(F.size("w") >= 2)
    bigrams = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1).alias("prev"),
                F.slice("w", 2, F.size("w") - 1).alias("cur"),
            )
        ).alias("bg"),
    ).select("doc_id", "lang", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    ref = bigrams.where(F.col("doc_id") % 2 == 0)
    # bigram-TYPE-sized model table; barrier because c1/vocab/scoring would
    # otherwise each replay the reference scan+explode
    c2 = (
        ref.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=True)
    )
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    vocab = c2.select(F.countDistinct("cur").alias("v"))
    lp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
    )
    per_doc = (
        bigrams.join(F.broadcast(c2), ["prev", "cur"], "left")
        .join(F.broadcast(c1), ["prev"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.round(-F.avg(lp), 4) + F.lit(0.0)).alias("cross_entropy"),
        )
    )
    tert = Window.partitionBy("lang").orderBy(
        F.col("cross_entropy").asc(), F.col("doc_id").asc()
    )
    bucket = F.ntile(3).over(tert)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "cross_entropy",
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail").alias(
            "ppl_bucket"
        ),
    )


GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(t: dict[str, DataFrame]) -> DataFrame:
    """tx17: the Gopher quality rules (Rae et al. 2021, "Scaling Language
    Models", App. A1.1 — the filter set MassiveText introduced and
    RedPajama/RefinedWeb reuse), as per-rule verdict columns plus the
    composite keep flag: word-count bounds, mean-word-length bounds,
    fraction of words containing an alphabetic character, and the ≥2
    distinct-stop-word hit rule. tx2's quality_score RANKS documents;
    this op GATES them with the published thresholds — both exist because
    real pipelines run the rules first and the scorer on what survives.

    Scale shape: one narrow projection fused into the scan — every rule
    is an array fold over the same words() split (computed once via a
    single select), no shuffle, no join, no state; the cheapest possible
    gate for a first 100 TB pass, exactly why MassiveText ran rules
    before model-based scoring."""
    docs = t["documents"]
    w = T.words("text")
    base = docs.select("doc_id", w.alias("w"))
    n = F.size("w").cast("long")
    total_len = F.aggregate(
        F.col("w"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_len = F.round(total_len / n, 3)
    n_alpha = F.size(F.filter(F.col("w"), lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.round(n_alpha / n, 3)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # array_intersect already deduplicates its result (as does DuckDB's
    # list_intersect), so no distinct pass over the full word array
    stop_hits = F.size(F.array_intersect(F.col("w"), stop_arr)).cast("long")
    scored = base.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    ok_count = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_len = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_LEN) & (
        F.col("mean_word_len") <= GOPHER_MAX_MEAN_LEN
    )
    ok_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    ok_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    return scored.select(
        "*",
        ok_count.alias("ok_word_count"),
        ok_len.alias("ok_mean_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (ok_count & ok_len & ok_alpha & ok_stop).alias("keep"),
    )


ZIPF_TOP_TERMS = 64


def zipf_fit(t: dict[str, DataFrame], top_r: int = ZIPF_TOP_TERMS) -> DataFrame:
    """tx18: Zipf rank-frequency fit per source — the corpus-QA diagnostic
    that checks whether a source's vocabulary follows a natural power law
    (log f ~ intercept + slope * log rank, slope near -1 for organic text;
    machine-generated or templated sources flatten or step). Fit is OLS
    over the top `top_r` terms per source, the standard practice since the
    head of the distribution carries the power-law signal.

    Scale shape: one corpus-sized partial+final (source, term) count, then
    a vocabulary-bounded per-source window to rank, then an OLS over
    <= top_r points per source. Nothing after the first aggregate touches
    corpus-sized data. Cross-engine determinism: ln() may differ in the
    last ulp between libms, so both engines round the log points to 6
    decimals and sum them as DECIMALs (exact, order-independent) before
    the closed-form slope — the j19 decimal-stabilization pattern.
    """
    docs = t["documents"]
    terms = (
        docs.select("source", F.explode(T.words("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("term"))
    ranked = terms.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_r
    )
    lx = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(12,6)")
    ly = F.round(F.log(F.col("freq").cast("double")), 6).cast("decimal(12,6)")
    pts = ranked.select("source", lx.alias("lx"), ly.alias("ly"))
    agg = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
    ).filter(
        # a single distinct term gives a zero OLS denominator (n*sxx = sx^2
        # exactly when every point is identical) — no fit exists, and the
        # Inf/NULL rendering differs cross-engine; drop it (ADVICE r5)
        F.col("n_terms") >= 2
    )
    n = F.col("n_terms").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        "source",
        "n_terms",
        (F.round(slope, 4) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(intercept, 4) + F.lit(0.0)).alias("zipf_intercept"),
    )


QCLS_BUCKETS = 64  # hashed feature space (DSIR's bucket count)
QCLS_BIAS = QCLS_BUCKETS  # bias term lives at feature index 64, x = 1.0
QCLS_ROUNDS = 2  # full-batch gradient rounds (the oracle unrolls exactly 2)
QCLS_LR = 1.0


def _qcls_features(docs: DataFrame) -> DataFrame:
    """(doc_id, y, b, x): hashed bag-of-words rates + a bias feature.
    x = ROUND(count/n_tokens, 9) so both engines carry the identical
    double; y = 1.0 for the target domain (src0 — the same supervision
    convention as smp10's DSIR)."""
    w = T.words("text")
    base = docs.select(
        "doc_id",
        F.when(F.col("source") == "src0", 1.0).otherwise(0.0).alias("y"),
        F.size(w).alias("n"),
        w.alias("ws"),
    )
    word_feat = (
        base.select("doc_id", "y", "n", F.explode("ws").alias("term"))
        .groupBy(
            "doc_id",
            "y",
            "n",
            (T.hash60(F.concat(F.lit("qcls|"), F.col("term"))) % QCLS_BUCKETS).alias(
                "b"
            ),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "doc_id", "y", "b", F.round(F.col("cnt") / F.col("n"), 9).alias("x")
        )
    )
    bias = base.select(
        "doc_id", "y", F.lit(QCLS_BIAS).cast("long").alias("b"), F.lit(1.0).alias("x")
    )
    return word_feat.unionByName(bias)


def _fast_sigmoid(z):
    """sigma(z) ~ 0.5 + z / (2*(1+|z|)) — the rational ("fast") sigmoid.
    Chosen over exp() DELIBERATELY: +, *, /, abs are IEEE correctly
    rounded, so every engine computes bit-identical doubles; libm exp()
    is only faithfully rounded and may differ in the last ulp between
    DuckDB and the JVM, which would compound across gradient rounds."""
    return F.round(0.5 + z / (2.0 * (1.0 + F.abs(z))), 9) + F.lit(0.0)


def _qcls_w_expr(weights: dict[int, float]):
    """The model as a 65-entry map LITERAL — broadcast inside the plan,
    no join; absent buckets read as 0.0 (their gradient was never
    computed because no feature row exists)."""
    return F.coalesce(_qcls_w_expr_for(weights, F.col("b")), F.lit(0.0))


def _qcls_doc_scores(feat: DataFrame, weights: dict[int, float]) -> DataFrame:
    """(doc_id, y, p): the per-doc dot as a DECIMAL sum of 9-rounded
    products (exact, order-independent), passed through the rational
    sigmoid."""
    z = feat.groupBy("doc_id", "y").agg(
        F.sum(F.round(F.col("x") * _qcls_w_expr(weights), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("z")
    )
    return z.select("doc_id", "y", _fast_sigmoid(F.col("z")).alias("p"))


def qcls_fit(
    docs: DataFrame, rounds: int = QCLS_ROUNDS, lr: float = QCLS_LR
) -> tuple[dict[int, float], DataFrame]:
    """Train the classifier; returns (weights, persisted feature table).
    Each round is one job: per-doc dot against the map-literal model,
    err joined back to the doc-co-partitioned features, 65-key gradient
    aggregate; weight updates round THROUGH SPARK's ROUND before
    collection so exactly one rounding semantics exists engine-side."""
    n_docs = docs.count()
    feat = _qcls_features(docs).repartition("doc_id").transform(shared_persist)
    weights: dict[int, float] = {}
    for _ in range(rounds):
        err = _qcls_doc_scores(feat, weights).select(
            "doc_id", (F.col("y") - F.col("p")).alias("err")
        )
        grads = (
            feat.join(err, "doc_id")
            .groupBy("b")
            .agg(
                F.sum(
                    F.round(F.col("x") * F.col("err"), 9).cast("decimal(20,9)")
                )
                .cast("double")
                .alias("gsum")
            )
            .select(
                "b",
                (
                    F.round(
                        _qcls_w_expr(weights)
                        + F.lit(lr) * (F.col("gsum") / F.lit(n_docs)),
                        9,
                    )
                    + F.lit(0.0)
                ).alias("w"),
            )
        )
        weights = {r.b: r.w for r in grads.collect()}
    return weights, feat


def qcls_score_expr(weights: dict[int, float], text_col: str = "text"):
    """Per-ROW scorer for ingest-time gating (st17): the identical score
    as the batch DECIMAL-sum dot, computed entirely inside one row so a
    streaming plan needs NO aggregation and NO state.

    Bit-equality argument: the batch z is CAST(SUM(DECIMAL(20,9)) AS
    DOUBLE) over per-bucket products round(x*w, 9) — each an exact
    multiple of 1e-9. Here each product is scaled to its integer
    numerator (round(round(x*w,9)*1e9) is exact: the double is within
    2^-52 relative of the integer, far under 0.5), the numerators sum as
    BIGINTs (exact, order-free), and one final division by 1e9 produces
    the nearest double of the same exact rational — precisely what the
    DECIMAL->DOUBLE cast produces. The sigmoid is the same rational link.
    """
    w = T.words(text_col)
    n = F.size(w)
    buckets = F.transform(
        w,
        lambda term: T.hash60(F.concat(F.lit("qcls|"), term)) % QCLS_BUCKETS,
    )

    def scaled(b):
        cnt = F.size(F.filter(buckets, lambda x: x == b))
        x = F.round(cnt / n, 9)
        wb = F.coalesce(
            _qcls_w_expr_for(weights, b), F.lit(0.0)
        )
        return F.round(F.round(wb * x, 9) * 1e9).cast("long")

    z_words = F.aggregate(
        F.array_distinct(buckets),
        F.lit(0).cast("long"),
        lambda acc, b: acc + scaled(b),
    )
    bias_w = weights.get(QCLS_BIAS, 0.0)
    bias_scaled = F.round(F.round(F.lit(bias_w) * F.lit(1.0), 9) * 1e9).cast("long")
    # NULL text => NULL bucket array => NULL fold; the batch scorer still
    # scores such a doc's bias row (its word features simply don't exist),
    # so the word part must coalesce to 0 — not poison z to NULL
    z = (F.coalesce(z_words, F.lit(0).cast("long")) + bias_scaled) / F.lit(1e9)
    return _fast_sigmoid(z)


def _qcls_w_expr_for(weights: dict[int, float], b_col):
    """Map-literal lookup keyed by an arbitrary expression (the feat
    table's `b` column or a HOF lambda variable) — the ONE place the
    model encoding lives."""
    if not weights:
        return F.lit(0.0)
    items = sorted(weights.items())
    return F.create_map(*[F.lit(v) for kv in items for v in kv])[b_col]


def quality_classifier(
    t: dict[str, DataFrame],
    rounds: int = QCLS_ROUNDS,
    lr: float = QCLS_LR,
) -> DataFrame:
    """tx19: model-based quality filtering — the FineWeb-Edu / DCLM move
    (Penedo et al. 2024; Li et al. 2024): train a cheap linear classifier
    to recognize the target domain, score the whole corpus, gate on the
    score. Features are hashed bag-of-words rates (+bias); training is
    full-batch gradient ascent on the quasi-logistic likelihood with the
    rational sigmoid link, unrolled for a FIXED number of rounds so the
    entire fit is hash-verifiable in DuckDB (the v9-Lloyd/tx14-BPE
    pattern for iterative algorithms).

    Determinism contract: every per-row product is ROUNDed to 9 decimals
    and summed as DECIMAL (exact, order-independent — the tx18/j19
    stabilization); the link uses only IEEE-exact ops (see _fast_sigmoid);
    weight updates round THROUGH SPARK's ROUND (collected after rounding)
    so there is exactly one rounding semantics on the engine side.

    Scale shape: the feature table is built once and persisted (digests
    only: (doc_id, b, x)); each round is ONE job — per-doc dot via a
    65-entry broadcast map literal (no join), err joined back to the
    co-partitioned features, 65-key gradient aggregate; the collected
    model is 65 rows (the kmeans/BPE bounded-model precedent). Scoring
    is a map-side projection. K rounds = K digest-sized shuffles, never
    a re-tokenization."""
    docs = t["documents"]
    weights, feat = qcls_fit(docs, rounds, lr)
    out = _qcls_doc_scores(feat, weights)
    return (
        docs.select("doc_id", "source")
        .join(out, "doc_id")
        .select(
            "doc_id",
            "source",
            (F.round(F.col("p"), 6) + F.lit(0.0)).alias("score"),
            (F.col("p") >= 0.5).alias("keep"),
        )
    )


def tokenizer_fertility(t: dict[str, DataFrame], n_merges: int = 8) -> DataFrame:
    """TX20: per-(lang, source) tokenizer FERTILITY table — subwords per
    word under the learned BPE (tx14's merge table), plus compression
    (chars per subword). Fertility is the number multilingual mixes are
    budgeted with (BLOOM's tokenizer evaluation, Scao et al. 2022): a
    language whose fertility is 2× consumes 2× the token budget per word,
    so this table feeds directly into UniMax-style allocation (smp11 —
    token budgets, which are fertility-weighted word budgets).

    Spark shape: the merge table is tiny driver-side model state applied
    inside ONE Arrow-batched mapInPandas pass that carries (lang, source)
    through — zero joins anywhere (the per-doc variant tx15 re-joins
    documents; a budgeting table over billions of docs must not). The
    only shuffle is the |lang × source|-row final aggregate, with
    map-side partial combine. Reference semantics: the token accounting
    of the embed pipeline (embed/document.py token counts) lifted to the
    tokenizer-budgeting table a mix planner reads."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    merges = [
        (r["a"], r["b"]) for r in bpe_learn(t, n_merges=n_merges).collect()
    ]
    pretoken = __import__("re").compile(BPE_PRETOKEN_RE)

    def _apply(word: str) -> list[str]:
        syms = list(word)
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    schema = StructType(
        [
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_words", LongType()),
            StructField("n_subwords", LongType()),
            StructField("n_chars", LongType()),
        ]
    )

    def _stats(batches):
        # per-TASK subword memo (guide §4.5): _apply is the expensive part
        # and word frequency follows Zipf, so a memo that survives across
        # Arrow batches amortizes the BPE merge loop over the whole
        # partition instead of resetting every maxRecordsPerBatch rows;
        # values are deterministic functions of the word, so scope cannot
        # change results
        memo: dict[str, int] = {}
        for pdf in batches:
            rows = []
            for lang, source, text in zip(pdf["lang"], pdf["source"], pdf["text"]):
                n_words = n_sub = n_chars = 0
                for w in pretoken.findall(text or ""):
                    n_toks = memo.get(w)
                    if n_toks is None:
                        n_toks = len(_apply(w))
                        memo[w] = n_toks
                    n_words += 1
                    n_sub += n_toks
                    n_chars += len(w)
                rows.append((lang, source, n_words, n_sub, n_chars))
            yield pd.DataFrame(
                rows, columns=["lang", "source", "n_words", "n_subwords", "n_chars"]
            )

    per_doc = t["documents"].select("lang", "source", "text").mapInPandas(
        _stats, schema
    )
    one = F.lit(1).cast("long")
    tw = F.greatest(F.sum("n_words"), one)
    ts = F.greatest(F.sum("n_subwords"), one)
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_subwords").cast("long").alias("total_subwords"),
        (
            F.round(F.sum("n_subwords") * F.lit(1.0) / tw, 4) + F.lit(0.0)
        ).alias("fertility"),
        (
            F.round(F.sum("n_chars") * F.lit(1.0) / ts, 4) + F.lit(0.0)
        ).alias("chars_per_subword"),
    )
