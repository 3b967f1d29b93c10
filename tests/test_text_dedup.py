"""Unit tests: chunker parity with the reference algorithm, dedup-family
consistency (mirrors the reference's own unit strategy, SURVEY.md §5)."""

from __future__ import annotations

import hashlib
import math
import pytest

from pyspark.sql import functions as F

from ai_optimizer_spark.functions import text as T
from ai_optimizer_spark.operators import dedup as D
from ai_optimizer_spark.tables import load_tables


def _reference_split(text: str, chunk_size: int, chunk_overlap: float):
    """Faithful reimplementation of the reference chunker semantics
    (src/server/app/embed/document.py:88-99) for property testing."""
    overlap = int(math.ceil(chunk_overlap))
    chunks, start, n = [], 0, len(text)
    while start < n:
        end = min(n, start + chunk_size)
        chunks.append((text[start:end], start))
        if end == n:
            break
        start = end - overlap
    return chunks


def test_chunker_matches_reference_semantics(spark):
    cases = [
        ("a" * 250, 100, 20),
        ("b" * 100, 100, 20),   # single chunk, exact boundary
        ("c" * 101, 100, 20),   # one char past → second chunk
        ("d" * 99, 100, 20),    # shorter than size
        ("e" * 7, 5, 2),
        ("", 100, 20),          # empty → no chunks
        ("x" * 160, 80, 0),     # zero overlap
    ]
    df = spark.createDataFrame(
        [(i, t, s, o) for i, (t, s, o) in enumerate(cases)], "id long, text string, s int, o int"
    )
    for i, (text, size, overlap) in enumerate(cases):
        got = (
            T.chunk_text(df.filter(F.col("id") == i), "text", "id", size, overlap)
            .orderBy("start_index")
            .collect()
        )
        want = _reference_split(text, size, overlap)
        assert [(r.chunk_text, r.start_index) for r in got] == want, (i, text[:20])
        # chunk ids are {id}_{1-based idx}
        assert [r.chunk_id for r in got] == [f"{i}_{j+1}" for j in range(len(want))]


def test_chunker_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "abc")], "id long, text string")
    for size, overlap in [(10, 10), (10, 11), (0, 0)]:
        try:
            T.chunk_text(df, "text", "id", size, overlap)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_minhash_candidates_superset_of_exact_pairs(spark, sf_medium):
    """LSH-verified output must equal the exact-jaccard output whenever LSH
    recall is 1.0 — with the planted near-dups (j ≥ 0.9) and 4 bands of 2,
    expected recall is ~1-1e-3 per pair, so equality is the expectation."""
    t = load_tables(spark, sf_medium)
    exact = {(r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(t).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(t).collect()}
    assert lsh == exact
    assert len(exact) > 0


def test_hot_shingle_salting_is_result_identical(spark, sf_medium, monkeypatch):
    """The grid-salted hot-shingle path (r9 skew fix: a shingle shared by
    B docs put its O(B²) pair enumeration on ONE task — measured 58x
    straggler on the skewed 80k tile) is purely physical: forcing every
    shingle through the salted path must reproduce the plain inverted-
    index join's pairs exactly, and the executed plan must key the grid
    join on all three columns (shingle, ga, gb) — Catalyst demoted a
    crossJoin-based variant to (shingle, ga), re-serializing the hot key."""
    t = load_tables(spark, sf_medium)
    monkeypatch.setattr(D, "HOT_SHINGLE_BAR", 10**9)
    plain = {(r.doc_a, r.doc_b, r.jaccard) for r in D.ngram_jaccard_pairs(t).collect()}
    monkeypatch.setattr(D, "HOT_SHINGLE_BAR", 1)  # everything is "hot"
    df = D.ngram_jaccard_pairs(t)
    salted = {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}
    assert salted == plain and len(plain) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"Join \[shingle#\d+, ga#\d+, gb#\d+\]", plan)
    assert m, f"grid join must key on (shingle, ga, gb):\n{plan[:2000]}"


def test_simhash_finds_planted_dups(spark, sf_medium):
    t = load_tables(spark, sf_medium)
    exact = {(r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(t).collect()}
    sim = {(r.doc_a, r.doc_b) for r in D.simhash_pairs(t).collect()}
    # simhash should recover the planted near-dups with few extras
    assert exact <= sim
    assert len(sim) <= len(exact) * 3


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(5, "same", "s1", 4), (2, "same", "s2", 4), (9, "other", "s3", 5)],
        "doc_id long, text string, source string, n_chars long",
    )
    out = {r.doc_id for r in D.exact_dedup({"documents": df}).collect()}
    assert out == {2, 9}


def test_dedup_clusters_component_invariants(spark, sf_medium):
    """Clusters must be closed over LSH pairs (both endpoints share a
    cluster), labelled by their minimum member, with exactly one canonical
    doc per cluster — and chains must collapse transitively (A~B, B~C ⇒
    one cluster), which pairwise dedup can't guarantee."""
    t = load_tables(spark, sf_medium)
    labels = {r.doc_id: r.cluster_id for r in D.dedup_clusters(t).collect()}
    pairs = [(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(t).collect()]
    assert len(pairs) > 0
    for a, b in pairs:
        assert labels[a] == labels[b]
    # union-find ground truth on the driver (tiny pair list)
    parent = {d: d for d in labels}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for d, c in labels.items():
        root = find(d)
        members = [x for x in labels if find(x) == root]
        assert c == min(members)
    canon = {}
    for r in D.dedup_clusters(t).collect():
        if r.is_canonical:
            assert r.doc_id == r.cluster_id
            assert r.cluster_id not in canon
            canon[r.cluster_id] = r.doc_id


def test_unionfind_matches_distributed_propagation(spark, sf_medium, monkeypatch):
    """The adaptive driver-side union-find and the distributed min-label
    loop are two strategies for one operator: identical component labels."""
    t = load_tables(spark, sf_medium)
    fast = {(r.doc_id, r.cluster_id, r.is_canonical) for r in D.dedup_clusters(t).collect()}
    monkeypatch.setattr(D, "DRIVER_COMPONENT_EDGE_CAP", -1)
    slow = {(r.doc_id, r.cluster_id, r.is_canonical) for r in D.dedup_clusters(t).collect()}
    assert fast == slow


def test_lsh_bucket_cap_yields_subset(spark, sf_medium):
    """The skew guard only removes candidates (degenerate buckets), never
    invents pairs; uncapped equals cap=None."""
    t = load_tables(spark, sf_medium)
    full = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(t).collect()}
    capped = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(t, max_bucket_size=3).collect()}
    assert capped <= full
    # cap large enough to keep every bucket → identical result
    same = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(t, max_bucket_size=10**9).collect()}
    assert same == full


def test_blocked_embedding_neardup_is_subset(spark, sf_medium):
    """Bucket blocking only drops cross-bucket pairs — every reported pair
    exists in the brute-force result with the same score."""
    t = load_tables(spark, sf_medium)
    full = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in D.embedding_neardup_pairs(t).collect()
    }
    blocked = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in D.embedding_neardup_blocked(t).collect()
    }
    assert blocked <= full and blocked


def test_lsh_skew_guard_bounds_degenerate_bucket(spark):
    """A boilerplate-degenerate corpus (many docs sharing one text → one
    band bucket of size B) emits O(B²) candidates uncapped; with the
    production cap the degenerate bucket is dropped whole and the candidate
    count stays bounded, while distinctive near-dup pairs survive."""
    import pyspark.sql.functions as F

    boiler = "cookie consent banner accept all reject all manage preferences"
    distinct_a = "the quick brown fox jumps over the lazy dog in the morning sun"
    distinct_b = "the quick brown fox jumps over the lazy dog in the morning light"
    rows = [(i, boiler) for i in range(30)]
    rows += [(100, distinct_a), (101, distinct_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    t = {"documents": docs}
    uncapped = D.minhash_lsh_pairs(t).collect()
    assert len(uncapped) >= 30 * 29 // 2  # the quadratic boilerplate wave
    capped = D.minhash_lsh_pairs(t, max_bucket_size=10).collect()
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert len(capped) < 30 * 29 // 2  # bounded: degenerate bucket dropped
    assert all(a >= 100 for a, _ in capped_pairs)  # boilerplate gone
    assert (100, 101) in capped_pairs  # real near-dup survives

    # production default keeps everything here (buckets are far below 200)
    dflt = {(r.doc_a, r.doc_b) for r in
            D.minhash_lsh_pairs(t, max_bucket_size=D.LSH_MAX_BUCKET_DEFAULT).collect()}
    assert dflt == {(r.doc_a, r.doc_b) for r in uncapped}


def test_simhash_blocked_equals_exact_on_multiblock_collisions(spark):
    """Identical docs agree on EVERY pigeonhole block — the worst case for
    the first-match dedup predicate (pre-fix they surfaced once per block).
    Blocked must equal the all-pairs form exactly, pair for pair."""
    import pyspark.sql.functions as F

    base = "spark catalyst tungsten arrow shuffle broadcast partition codegen"
    rows = [(i, base) for i in range(8)]  # 8 identical docs: hamming 0
    rows += [(100 + i, base + f" extra{i} token{i} more{i}") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    t = {"documents": docs}
    exact = {(r.doc_a, r.doc_b, r.hamming) for r in D.simhash_pairs(t).collect()}
    blocked_rows = D.simhash_pairs_blocked(t).collect()
    blocked = {(r.doc_a, r.doc_b, r.hamming) for r in blocked_rows}
    assert blocked == exact
    assert len(blocked_rows) == len(blocked)  # no duplicate emissions
    # the identical-doc clique is all there: C(8,2) zero-distance pairs
    assert sum(1 for _, _, h in blocked if h == 0) >= 8 * 7 // 2


def test_simhash_combo_blocking_configs_agree(spark, sf_small):
    """Manku-style combination blocking (match m of B blocks) must produce
    the IDENTICAL pair set for every valid (B, m) — wider keys only change
    candidate volume, never the verified result. Also: invalid configs
    that break the pigeonhole guarantee are rejected."""
    import pytest as _pytest

    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    base = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs_blocked(t, n_blocks=8, match_blocks=1).collect()
    }
    assert base
    for B, m in ((9, 2), (10, 3)):
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in D.simhash_pairs_blocked(t, n_blocks=B, match_blocks=m).collect()
        }
        assert got == base, f"config ({B},{m}) changed the result set"
    with _pytest.raises(ValueError):
        D.simhash_pairs_blocked(t, n_blocks=8, match_blocks=2)  # 8-2 < 7


def test_choose_simhash_blocking_scales_with_corpus():
    """The auto-config helper: single-block keys while the explode term
    dominates, wider combination keys once the n² candidate term bites;
    every returned config satisfies the pigeonhole constraint."""
    small = D.choose_simhash_blocking(5_000)
    huge = D.choose_simhash_blocking(200_000_000)
    assert small == (8, 1)
    assert huge[1] > 1  # combination keys at web scale
    for n in (1, 10_000, 1_000_000, 10**9):
        b, m = D.choose_simhash_blocking(n)
        assert b - m >= D.SIMHASH_MAX_HAMMING  # zero false negatives


@pytest.mark.slow
def test_simhash_auto_blocking_end_to_end_on_16x_tile(spark, sf_medium):
    """VERDICT r4 task 6: the d4 production entry point (simhash_pairs_blocked
    sized by choose_simhash_blocking) exercised end-to-end on a 16× tiled corpus
    (scale_probe's tiling: shifted doc_ids + per-tile marker tokens so
    cross-tile similarity collapses), with the exact all-pairs d4x baseline
    as the invariant. Covers BOTH regimes: the corpus-sized choice (below
    the 320k crossover → single-block keys) and a forced above-crossover
    hint (wide combination keys) must produce the identical pair set."""
    docs = load_tables(spark, sf_medium)["documents"]
    n = docs.count()
    tiles = []
    for i in range(16):
        marked = F.regexp_replace(F.col("text"), r"((?:\S+\s+){4})", f"$1zz{i}tile ")
        tiles.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                marked.alias("text"),
                "source",
                "lang",
                "n_chars",
            )
        )
    tiled = tiles[0]
    for extra in tiles[1:]:
        tiled = tiled.unionByName(extra)
    t = {"documents": tiled.localCheckpoint(eager=False)}

    baseline = {(r.doc_a, r.doc_b, r.hamming) for r in D.simhash_pairs(t).collect()}
    assert baseline  # each tile keeps the fixture's planted near-dups

    # regime 1: config chosen from the real tile size (below crossover)
    auto = {(r.doc_a, r.doc_b, r.hamming) for r in D.simhash_pairs_blocked(t).collect()}
    assert auto == baseline

    # regime 2: web-scale hint → wide combination keys, same result set
    b_wide, m_wide = D.choose_simhash_blocking(50_000_000)
    assert m_wide > 1
    wide = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs_blocked(t, n_docs=50_000_000).collect()
    }
    assert wide == baseline


def test_repeated_substring_coverage_planted(spark):
    """d15: windows shared across docs AND self-repeats both count as
    duplicated text; short docs have no windows and are absent."""
    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, span + " unique tail one two three four five six"),  # 16 tok, 9 win
        (2, "prefix words here now " + span),                    # 12 tok, 5 win
        (3, "totally different text with exactly eight distinct tokens"),  # 1 window
        (4, "short text"),                                       # < 8 tokens
        (5, " ".join(["r1 r2 r3 r4 r5 r6 r7 r8"] * 2)),          # self-repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    got = {
        r.doc_id: r
        for r in D.repeated_substring_stats({"documents": docs}).collect()
    }
    assert set(got) == {1, 2, 3, 5}  # doc 4 has no windows
    assert got[1].n_windows == 9 and got[1].n_dup_windows == 1
    assert got[1].dup_frac == round(1 / 9, 4)
    assert got[2].n_windows == 5 and got[2].n_dup_windows == 1
    assert got[3].n_windows == 1 and got[3].n_dup_windows == 0
    # doc 5: windows 1 and 9 are the same 8-token span — self-repeat counts
    assert got[5].n_windows == 9 and got[5].n_dup_windows == 2


def test_cluster_survivors_invariants(spark, sf_medium):
    """Every doc lands in exactly one cluster (Σ n_members = corpus size);
    the survivor is a member of its own cluster with the cluster-max
    quality (doc_id-min tiebreak) — cross-checked against a driver-side
    recompute from dedup_clusters + quality_score."""
    from ai_optimizer_spark.operators.textops import quality_score

    t = load_tables(spark, sf_medium)
    surv = D.cluster_survivors(t).collect()
    assert sum(r.n_members for r in surv) == t["documents"].count()
    members: dict[int, list[int]] = {}
    for r in D.dedup_clusters(t).collect():
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    q = {r.doc_id: r.quality for r in quality_score(t).collect()}
    assert len(surv) == len(members)
    n_multi = 0
    for r in surv:
        club = members[r.cluster_id]
        best = max(club, key=lambda d: (q[d], -d))
        assert r.survivor_id == best
        assert r.survivor_quality == q[best]
        n_multi += r.n_members > 1
    assert n_multi > 0  # the fixture plants near-dup clusters


def test_corpus_dup_profile_matches_bucket_recount(spark, sf_medium):
    """Per-band folds equal a driver-side recount over minhash_band_keys,
    and candidate_pairs upper-bounds the DISTINCT candidate pair count
    (cross-band multiplicity only inflates the per-bucket slot sum)."""
    t = load_tables(spark, sf_medium)
    prof = {r.band: r for r in D.corpus_dup_profile(t).collect()}
    byband: dict[int, dict[str, list[int]]] = {}
    for r in D.minhash_band_keys(t["documents"]).collect():
        byband.setdefault(r.band, {}).setdefault(r.key, []).append(r.doc_id)
    assert set(prof) == set(byband)
    distinct_pairs: set[tuple[int, int]] = set()
    slot_total = 0
    for band, buckets in byband.items():
        p = prof[band]
        sizes = [len(v) for v in buckets.values()]
        assert p.n_buckets == len(sizes)
        assert p.n_colliding_buckets == sum(1 for n in sizes if n >= 2)
        assert p.candidate_pairs == sum(n * (n - 1) // 2 for n in sizes)
        assert p.colliding_docs == sum(n for n in sizes if n >= 2)
        assert p.max_bucket_n == max(sizes)
        slot_total += p.candidate_pairs
        for docs in buckets.values():
            s = sorted(docs)
            distinct_pairs.update(
                (a, b) for i, a in enumerate(s) for b in s[i + 1 :]
            )
    assert len(distinct_pairs) <= slot_total
    assert distinct_pairs  # planted near-dups collide somewhere


def test_choose_lsh_bucket_cap_from_profile(spark, sf_medium):
    """The profile-driven cap admits the corpus's typical collisions (the
    capped pair set keeps the planted near-dups) while clamping to the
    observed max; degenerate profiles (no collisions) floor at 2."""
    t = load_tables(spark, sf_medium)
    profile = D.corpus_dup_profile(t)
    cap = D.choose_lsh_bucket_cap(profile)
    rows = profile.collect()
    assert 2 <= cap <= max(r.max_bucket_n for r in rows)
    capped = {
        (r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(t, max_bucket_size=cap).collect()
    }
    assert capped  # typical (planted) near-dup groups survive the cap
    # no collisions anywhere -> floor of 2
    empty = D.corpus_dup_profile(
        {"documents": t["documents"].limit(0)}
    )
    assert D.choose_lsh_bucket_cap(empty) == 2


def test_semdedup_auto_k_matches_oracle_floor():
    """d18's oracle pins the 16-cell layout (vec_id < 16); the registered
    query auto-sizes k from the corpus count, so the auto rule MUST stay
    on the 16 floor for every fixture-scale corpus (largest fixture =
    sf0.1's 2000 embeddings; 8000 leaves 4x margin). If a bigger fixture
    ever enters the parity gate, this fails loudly instead of the oracle
    silently diverging on cell assignments."""
    from ai_optimizer_spark.operators.dedup import choose_semdedup_k

    for n in (1, 500, 2000, 5000, 8000):
        assert choose_semdedup_k(n) == 16
    # and it really does scale past fixture sizes
    assert choose_semdedup_k(80_000) == 160


@pytest.mark.slow
def test_dedup_manifest_agrees_with_cascade_profile(spark, sf_small):
    """Row-level manifest and aggregate profile are two finishes of ONE
    flag table: per-stage manifest counts must equal the profile's
    docs_removed, and manifest token sums the profile's token deltas."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.curation import dedup_cascade, dedup_manifest
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    profile = {r.stage: r for r in dedup_cascade(t).collect()}
    manifest = dedup_manifest(t).collect()
    assert manifest  # fixture exercises every stage
    by_stage = {}
    tok_by_stage = {}
    for r in manifest:
        by_stage[r.stage] = by_stage.get(r.stage, 0) + 1
        tok_by_stage[r.stage] = tok_by_stage.get(r.stage, 0) + r.n_tokens
    for s in (1, 2, 3):
        assert by_stage.get(s, 0) == profile[s].docs_removed, s
        expected_tokens = (
            profile[s - 1].tokens_remaining - profile[s].tokens_remaining
        )
        assert tok_by_stage.get(s, 0) == expected_tokens, s


@pytest.mark.slow
def test_lsh_recall_sampled_mod1_equals_unsampled(spark, sf_medium):
    """sample_mod=1 is the identity: the sampled harness (d21b's form)
    must reproduce the unsampled d21 row bit-for-bit; sample_mod=2 must
    equal running the unsampled harness on the pre-filtered corpus (the
    deterministic-sample contract the oracle relies on)."""
    t = load_tables(spark, sf_medium)
    base = [tuple(r) for r in D.lsh_recall(t).collect()]
    mod1 = [tuple(r) for r in D.lsh_recall(t, sample_mod=1).collect()]
    assert base == mod1
    manual = {
        "documents": t["documents"].filter(F.col("doc_id") % 2 == 0)
    }
    assert [tuple(r) for r in D.lsh_recall(t, sample_mod=2).collect()] == [
        tuple(r) for r in D.lsh_recall(manual).collect()
    ]


def test_lsh_recall_intersection_equals_verified_lsh_pairs(spark, sf_medium):
    """r10 optimization contract: d21's LSH side is now candidates ∩ exact
    (one semi-join) instead of minhash_lsh_pairs' re-verification subtree.
    The substitution is sound iff the verified pair set REALLY equals the
    intersection — assert it directly against the unchanged d3c operator,
    and assert the reported counts match a d21 run."""
    t = load_tables(spark, sf_medium)
    cap = D.LSH_MAX_BUCKET_DEFAULT
    verified = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(t, max_bucket_size=cap).collect()
    }
    exact = {
        (r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(t).collect()
    }
    cands_df = D._lsh_candidate_pairs(D.doc_signatures(t["documents"]), cap)
    cands = {(r.doc_a, r.doc_b) for r in cands_df.collect()}
    assert verified == cands & exact
    row = D.lsh_recall(t, max_bucket_size=cap).collect()[0]
    assert row.n_lsh_pairs == len(verified)
    assert row.n_exact_pairs == len(exact)
    assert row.n_common == len(verified & exact)


def test_cap_sweep_rows_match_d21_at_each_cap(spark, sf_medium):
    """The one-pass sweep (per-pair min bucket size, then thresholds) must
    agree with d21 rerun at each swept cap: same true-pair universe, same
    caught count — the claim that lets d22 replace |ladder| full LSH
    reruns with one pass."""
    t = load_tables(spark, sf_medium)
    sweep = D.lsh_cap_recall_sweep(t).collect()
    assert sweep, "sweep must emit at least one cap row"
    assert sum(r.chosen for r in sweep) == 1
    for row in sweep:
        d21 = D.lsh_recall(t, max_bucket_size=int(row.cap)).collect()[0]
        assert row.n_true_pairs == d21.n_exact_pairs, row.cap
        assert row.n_caught_pairs == d21.n_common, row.cap
        assert abs(row.recall_vs_exact - d21.recall_vs_exact) < 1e-9, row.cap
        # candidates are a superset of caught true pairs
        assert row.n_candidate_pairs >= row.n_caught_pairs


@pytest.mark.slow
def test_safe_cap_chooser_escalates_when_auto_cap_drops_true_pairs(spark):
    """The regime d22 exists for (VERDICT r6 task 1): a boilerplate-heavy
    bucket that the profile-driven auto cap DROPS even though it holds
    genuine near-dup pairs. 30 two-doc dup groups pull the mean colliding
    bucket size down (~2), one 40-doc identical-text group sits far above
    the resulting cap (~4*2..13) — so recall at the auto cap collapses and
    the safe chooser must escalate past it to clear the floor."""
    rows = []
    did = 0
    for g in range(30):
        text = (
            f"group {g} pair text about topic {g} with enough words "
            f"to shingle cleanly number {g}"
        )
        for _ in range(2):
            rows.append((did, text))
            did += 1
    boiler = "standard license header boilerplate text repeated verbatim across the corpus forty times"
    for _ in range(40):
        rows.append((did, boiler))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t = {"documents": docs}

    auto = D.choose_lsh_bucket_cap(D.corpus_dup_profile(t))
    assert auto < 40  # the boilerplate bucket exceeds the auto cap
    sweep = {r.cap: r for r in D.lsh_cap_recall_sweep(t).collect()}
    assert auto in sweep
    assert sweep[auto].recall_vs_exact < D.LSH_RECALL_FLOOR_DEFAULT
    safe = D.choose_lsh_bucket_cap_safe(t)
    assert safe > auto
    assert sweep[safe].recall_vs_exact >= D.LSH_RECALL_FLOOR_DEFAULT


def test_cap_sweep_empty_corpus_single_floor_row(spark, sf_medium):
    """Empty corpus: ladder degenerates to [2], the sentinel row keeps the
    aggregate alive, recall is 0 and the fallback chooses the (only) cap."""
    t = load_tables(spark, sf_medium)
    empty = {"documents": t["documents"].limit(0)}
    rows = D.lsh_cap_recall_sweep(empty).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.cap, r.n_true_pairs, r.n_caught_pairs, r.chosen) == (2, 0, 0, 1)
    assert r.recall_vs_exact == 0.0
    assert D.choose_lsh_bucket_cap_safe(empty) == 2


def test_incremental_lsh_agrees_with_full_cascade_cross_pairs(spark, sf_medium):
    """d24's verdicts must agree with the FULL LSH pass restricted to
    delta×corpus pairs: same capped config, same verification threshold —
    incremental evaluation may never change which cross-pairs are found
    (the stored-band-index simulation is exact)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.dedup import (
        DELTA_MOD,
        DELTA_REM,
        LSH_MAX_BUCKET_DEFAULT,
        incremental_lsh_dedup,
        minhash_lsh_pairs,
    )
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_medium)
    full = minhash_lsh_pairs(t, max_bucket_size=LSH_MAX_BUCKET_DEFAULT)
    is_delta_a = F.col("doc_a") % DELTA_MOD == DELTA_REM
    is_delta_b = F.col("doc_b") % DELTA_MOD == DELTA_REM
    cross = full.filter(is_delta_a != is_delta_b).collect()
    expected = {}
    for r in cross:
        delta_doc = r.doc_a if r.doc_a % DELTA_MOD == DELTA_REM else r.doc_b
        kept = r.doc_b if delta_doc == r.doc_a else r.doc_a
        n, first, best = expected.get(delta_doc, (0, None, -1.0))
        expected[delta_doc] = (
            n + 1,
            kept if first is None else min(first, kept),
            max(best, r.jaccard),
        )

    got = {r.doc_id: r for r in incremental_lsh_dedup(t).collect()}
    # NOTE: the full pass caps buckets over ALL docs while d24 caps the
    # corpus side only — on this fixture no bucket is near the cap, so the
    # candidate sets coincide exactly (asserted, not assumed):
    for doc_id, (n, first, best) in expected.items():
        r = got[doc_id]
        assert (r.n_dups, r.first_dup) == (n, first), doc_id
        assert abs(r.best_jaccard - best) < 1e-9
        assert not r.is_new
    for doc_id, r in got.items():
        if doc_id not in expected:
            assert r.is_new and r.n_dups == 0 and r.first_dup is None


def test_winnowing_guarantee_and_density(spark):
    """The Schleimer-et-al. contract: (a) GUARANTEE — any two docs sharing
    a run of >= w+k-1 words share at least one fingerprint, so the pair
    is detected (not probabilistically: always); (b) DENSITY — winnowing
    selects ~2/(w+1) of positions, so the fingerprint index is a real
    reduction over the every-position span index."""
    from ai_optimizer_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
        winnow_pairs,
    )

    run = "alpha beta gamma delta epsilon zeta"  # w+k-1 = 6 shared words
    docs = spark.createDataFrame(
        [
            (0, f"one two three {run} four five six seven"),
            (1, f"red blue green yellow {run} purple orange pink"),
            (2, "completely different words that never overlap anything "
                "here at all nothing shared with the others truly"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_pairs({"documents": docs}, min_shared=1).collect()
    }
    assert (0, 1) in pairs  # the guarantee
    assert (0, 2) not in pairs and (1, 2) not in pairs

    fps = winnow_fingerprints(docs, WINNOW_K, WINNOW_W)
    n_grams = sum(
        max(len(r.text.split()) - WINNOW_K + 1, 0)
        for r in docs.collect()
    )
    n_fp = fps.count()
    # expected density 2/(w+1) = 0.4 at w=4; allow generous slack both ways
    assert n_fp <= 0.75 * n_grams
    assert n_fp >= 2 * 3  # at least a couple selections per doc


def test_grid_salt_width_scales_with_hot_key():
    """ADVICE/verdict r9: S derives from the OBSERVED hottest shingle —
    ~BAR docs per grid cell side — instead of a fixed 8. Power-of-two,
    floor 2, capped at MAX_SHINGLE_SALT (beyond which the fix is LSH
    candidate filtering, not a wider grid)."""
    assert D._grid_salt_width(0) == 1
    assert D._grid_salt_width(64) == 1  # at the bar: not hot
    assert D._grid_salt_width(65) == 2
    assert D._grid_salt_width(128) == 2
    assert D._grid_salt_width(129) == 4
    assert D._grid_salt_width(640) == 16  # the verdict's 10x-hotter case
    assert D._grid_salt_width(10**9) == D.MAX_SHINGLE_SALT


# sha256 of the sorted rows ("|"-joined reprs, NULL as "") that each LSH
# reader returned while its candidates came from band self-joins with a
# bucket-count join-back and its verification from shingle-index probes.
# One bucket aggregate and one array-intersect verifier replaced those
# plans; the rows may not move. "d3_cap3" is minhash_lsh_pairs with
# max_bucket_size=3, which drops buckets at sf0.001 and sf0.1.
LSH_ROW_DIGESTS = {
    ("sf0.001", "d3_minhash_lsh_pairs"): (
        "2007dad87af70ac43d2732f3022151abf02f88cc2abf500047bff2862acf8662",
        28,
    ),
    ("sf0.001", "d3c_minhash_lsh_capped"): (
        "2007dad87af70ac43d2732f3022151abf02f88cc2abf500047bff2862acf8662",
        28,
    ),
    ("sf0.001", "d21_lsh_recall"): (
        "ee410f4fab8f075d8f61c3e51eade3fd5cb0c1f6d5e61a8535f5f6631ca93908",
        1,
    ),
    ("sf0.001", "d22_lsh_cap_recall_sweep"): (
        "8e2a39850bfe99d82b64d2b1af56c0bdff0572deb176a79a64eb6defccc805bd",
        2,
    ),
    ("sf0.001", "d24_incremental_lsh_dedup"): (
        "fcfe505677e304dcdc75bc339e03f6c4da5fb731da8ef77c526b16d036fa8b29",
        62,
    ),
    ("sf0.001", "st12b_neardup_candidates_batch"): (
        "62dc412efa381dac4df36345c7ce542bbe4de42219cf4d62a025881c9e1fd896",
        64,
    ),
    ("sf0.001", "d3_cap3"): (
        "5a241716feb18a5b26e006c9a7953b5ee35450d868a6835377c74daf20ca33bd",
        22,
    ),
    ("sf0.01", "d3_minhash_lsh_pairs"): (
        "c1b3347b610c76118d59ddcbf236c6a12ba82dcdd9440f870c22f269df5d0092",
        25,
    ),
    ("sf0.01", "d3c_minhash_lsh_capped"): (
        "c1b3347b610c76118d59ddcbf236c6a12ba82dcdd9440f870c22f269df5d0092",
        25,
    ),
    ("sf0.01", "d21_lsh_recall"): (
        "f5a0d44b378f62eb7e63e2dbd50cfebaf97321caba1a43578dd4434b51d73429",
        1,
    ),
    ("sf0.01", "d22_lsh_cap_recall_sweep"): (
        "a0cc9b8555991f9f76eefaa81dafe13aa357cf3455203c417e393c763e31289e",
        2,
    ),
    ("sf0.01", "d24_incremental_lsh_dedup"): (
        "2d91ee3c8725aef86b5b19d29a4e4c0335a6d73fda7aedc9bf9b28077310b6f3",
        62,
    ),
    ("sf0.01", "st12b_neardup_candidates_batch"): (
        "19ca5a513aeeef6367c26e864cc20bb8812bb57bedc8ca7d56ad6410beccb9eb",
        66,
    ),
    ("sf0.01", "d3_cap3"): (
        "c1b3347b610c76118d59ddcbf236c6a12ba82dcdd9440f870c22f269df5d0092",
        25,
    ),
    ("sf0.1", "d3_minhash_lsh_pairs"): (
        "7b8f56142af01560277f16cec80b32be35870479ed761aa998d1b4152c2d8f86",
        256,
    ),
    ("sf0.1", "d3c_minhash_lsh_capped"): (
        "7b8f56142af01560277f16cec80b32be35870479ed761aa998d1b4152c2d8f86",
        256,
    ),
    ("sf0.1", "d21_lsh_recall"): (
        "e6ec7d70f32fbec88980ead13da2c2dabd4439c675755bb152f80cd50918260d",
        1,
    ),
    ("sf0.1", "d22_lsh_cap_recall_sweep"): (
        "4d0a2fafa5894d42d7214cde7d2131ddf2629fde9fb9136a0125aea844cba372",
        3,
    ),
    ("sf0.1", "d24_incremental_lsh_dedup"): (
        "eaf5a715393f2ce44fecf417fbd9c42b15841ccaa873db44540cf8b2c184b309",
        625,
    ),
    ("sf0.1", "st12b_neardup_candidates_batch"): (
        "3183e01b069beeffb3727c79c2b5f51a739a1aadd40471dc64da66ea375d2951",
        1484,
    ),
    ("sf0.1", "d3_cap3"): (
        "a407ec5f4561666a076c337131ec5a995732f8ca23b5b3b5d68c9690cf102c40",
        252,
    ),
}


def _rows_digest(df) -> tuple[str, int]:
    rows = sorted(
        "|".join("" if v is None else repr(v) for v in r) for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


@pytest.mark.parametrize(
    "sf,name",
    [
        pytest.param(sf, name, marks=[pytest.mark.slow] if sf == "sf0.1" else [])
        for sf, name in LSH_ROW_DIGESTS
    ],
)
def test_lsh_family_rows_match_recorded_digests(spark, sf, name):
    from ai_optimizer_spark.registry import QUERIES

    sf_dir = f"/root/testdata/{sf}"
    spark.catalog.clearCache()
    if name == "d3_cap3":
        df = D.minhash_lsh_pairs(load_tables(spark, sf_dir), max_bucket_size=3)
    else:
        df = QUERIES[name](spark, sf_dir)
    assert _rows_digest(df) == LSH_ROW_DIGESTS[(sf, name)]


def _text_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_boundary_and_multi_band_pair(spark):
    """A bucket of exactly `cap` docs is kept and one of `cap + 1` docs is
    dropped whole; a pair that shares all four band buckets is reported
    once by every consumer of the bucket pairs, and st12b counts its four
    shared buckets in both directions."""
    cap = 3
    at_cap = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    over_cap = "red orange yellow green blue indigo violet black white grey"
    pair = "one two three four five six seven eight nine ten eleven"
    rows = [(i, at_cap) for i in range(cap)]
    rows += [(10 + i, over_cap) for i in range(cap + 1)]
    rows += [(20, pair), (21, pair)]
    t = {"documents": _text_docs(spark, rows)}
    sig = D.doc_signatures(t["documents"])

    buckets = D._lsh_buckets(D._band_rows(sig), cap).collect()
    assert {r.n for r in buckets} == {2, cap}  # cap + 1 is gone in every band
    want = [(0, 1), (0, 2), (1, 2), (20, 21)]
    got = D.minhash_lsh_pairs(t, max_bucket_size=cap).collect()
    assert sorted((r.doc_a, r.doc_b) for r in got) == want  # each pair once
    assert all(r.jaccard == 1.0 for r in got)
    cands = D._lsh_candidate_pairs(sig, cap).collect()
    assert sorted((r.doc_a, r.doc_b) for r in cands) == want
    # one more slot keeps the over-cap bucket
    wider = D.minhash_lsh_pairs(t, max_bucket_size=cap + 1).collect()
    over = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    assert sorted((r.doc_a, r.doc_b) for r in wider) == sorted(want + over)

    hits = {
        (r.new_doc, r.index_doc): r.n_band_hits
        for r in D.streaming_neardup_candidates_batch(t).collect()
    }
    n_bands = D.MINHASH_HASHES // D.LSH_BAND_ROWS
    assert hits[(20, 21)] == hits[(21, 20)] == n_bands
    assert len(hits) == 2 * (3 + 6 + 1)  # uncapped: every pair, both ways


def test_bucket_pairs_stream_one_large_bucket(spark):
    """One band bucket of 3,000 docs yields each of its m(m-1)/2 pairs once
    with n = m, and a two-doc bucket of another band adds its one pair.
    The pairs come from per-row generators, so a bucket's pair list is
    never one array (whose length Spark bounds)."""
    m = 3000
    hot = spark.range(m).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("band"), F.lit("hot").alias("key")
    )
    small = spark.createDataFrame(
        [(5, 1, "k"), (7, 1, "k")], "doc_id long, band int, key string"
    )
    pairs = D._bucket_pairs(D._lsh_buckets(hot.unionByName(small)))
    got = pairs.groupBy("n").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("doc_a").alias("sum_a"),
        F.sum("doc_b").alias("sum_b"),
    )
    # sum over a < b of a is sum_a a·(m−1−a); of b, sum_b b·b
    want = {
        m: (
            m * (m - 1) // 2,
            sum(a * (m - 1 - a) for a in range(m)),
            sum(b * b for b in range(m)),
        ),
        2: (1, 5, 7),
    }
    assert {r.n: tuple(r)[1:] for r in got.collect()} == want


def test_lsh_null_and_short_docs_have_no_signature_row(spark):
    """NULL text and docs under SHINGLE_N words have no signature row, so
    no band row, bucket, candidate or st12b hit, even when identical."""
    rows = [
        (1, None),
        (2, None),
        (3, "two words"),
        (4, "two words"),
        (5, "a b c d e f"),
        (6, "a b c d e f"),
    ]
    t = {"documents": _text_docs(spark, rows)}
    sig = D.doc_signatures(t["documents"])
    assert sorted(r.doc_id for r in sig.collect()) == [5, 6]
    assert {r.doc_id for r in D._band_rows(sig).collect()} == {5, 6}
    pairs = D.minhash_lsh_pairs(t).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(5, 6)]
    hits = D.streaming_neardup_candidates_batch(t).collect()
    assert {(r.new_doc, r.index_doc) for r in hits} == {(5, 6), (6, 5)}


def test_lsh_readers_on_empty_corpus(spark, sf_small):
    """An empty corpus gives every LSH pair reader a typed empty frame and
    d21 its all-zero row (d22's single floor row is pinned by
    test_cap_sweep_empty_corpus_single_floor_row)."""
    t = load_tables(spark, sf_small)
    empty = {"documents": t["documents"].limit(0)}
    pair_types = [("doc_a", "bigint"), ("doc_b", "bigint"), ("jaccard", "double")]
    for cap in (None, D.LSH_MAX_BUCKET_DEFAULT):
        df = D.minhash_lsh_pairs(empty, max_bucket_size=cap)
        assert df.dtypes == pair_types and df.collect() == []
    cands = D._lsh_candidate_pairs(D.doc_signatures(empty["documents"]), 3)
    assert cands.dtypes == pair_types[:2] and cands.collect() == []
    d24 = D.incremental_lsh_dedup(empty)
    assert d24.dtypes == [
        ("doc_id", "bigint"),
        ("n_dups", "bigint"),
        ("first_dup", "bigint"),
        ("best_jaccard", "double"),
        ("is_new", "boolean"),
    ]
    assert d24.collect() == []
    st = D.streaming_neardup_candidates_batch(empty)
    assert st.dtypes == [
        ("new_doc", "bigint"),
        ("index_doc", "bigint"),
        ("n_band_hits", "bigint"),
    ]
    assert st.collect() == []
    d21 = D.lsh_recall(empty).collect()
    assert [tuple(r) for r in d21] == [(0, 0, 0, 0.0, 0.0)]
