"""The benchmark's own logic: seeded generators, the tail-percentile rule,
span self-time arithmetic, the ranking check, and BENCHMARK.json's metric
lists. No Spark session needed."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest

import checks
import gen
import report
import workloads
from spans import Span, Tracer, covered, self_times, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        np.array_equal(a[k], b[k]) if isinstance(a[k], np.ndarray) else a[k] == b[k] for k in a)


@pytest.mark.parametrize("make", [
    lambda s: gen.documents(gen.rng_for(s, "docs"), 200),
    lambda s: gen.embeddings(gen.rng_for(s, "emb"), 100),
    lambda s: gen.relational(gen.rng_for(s, "rel"), 500)["orders"],
    lambda s: gen.tile_corpus(gen.rng_for(s, "tile"), gen.documents(gen.rng_for(s, "docs"), 100), 3),
    lambda s: gen.delta_wave(gen.rng_for(s, "wave"), gen.documents(gen.rng_for(s, "docs"), 300), 1).docs,
])
def test_generators_are_deterministic_per_seed(make):
    assert _same(make(5), make(5))
    assert not _same(make(5), make(6))


def test_request_stream_is_deterministic_with_an_exact_mix():
    a, b, c = (gen.request_stream(s, 10, 2000) for s in (3, 3, 4))
    assert len(a) == 200 and a == b and a != c

    def shapes(rs):
        routing = {"spark", "batch", "stream", "window", "join", "table"}
        return [(r.kind, r.client, r.ann, r.sql_kind,
                 len(set(r.question.split()) & routing) if r.kind == "vec" else 0) for r in rs]

    assert shapes(a) == shapes(c)  # the seed changes words and vectors, not shapes
    cycle = shapes(a[:20])
    assert all(shapes(a[i:i + 20]) == cycle for i in range(0, 200, 20))
    assert Counter(k for k, *_ in cycle) == {"vec": 12, "ann": 4, "sql": 3, "combined": 1}
    assert len({(cl, n) for k, cl, _a, _s, n in cycle if k == "vec"}) == 12
    assert {an for k, _c, an, *_ in cycle if k == "ann"} == set(gen.ANN_KINDS)


def test_tiler_injects_exact_and_near_duplicates():
    base = gen.documents(gen.rng_for(1, "docs"), 400)
    tiled = gen.tile_corpus(gen.rng_for(1, "tile"), base, 2, exact_frac=0.01, near_frac=0.0)
    texts = tiled["text"]
    assert len(texts) == 800 and tiled["doc_id"].tolist() == list(range(800))
    assert len(texts) - len(set(texts)) == 8
    markers = {w for t in texts for w in t.split() if w.startswith("zz")}
    assert len(markers) == 2  # one marker token per tile


def test_delta_wave_edits_adds_and_removes():
    live = gen.documents(gen.rng_for(2, "docs"), 1000)
    w = gen.delta_wave(gen.rng_for(2, "wave"), live, 3)
    ids = set(w.docs["doc_id"].tolist())
    assert len(w.edited) == 30 and len(w.added) == 10 and len(w.removed) == 5
    assert not ids & set(w.removed) and set(w.added) <= ids
    text_of = dict(zip(w.docs["doc_id"].tolist(), w.docs["text"]))
    assert all(text_of[d].startswith(f"w3d{d}fresh ") for d in w.edited + w.added)


@pytest.mark.parametrize("n, chunks", [(0, 0), (1, 1), (200, 1), (201, 2), (360, 2), (361, 3)])
def test_chunk_starts_follow_the_engine_chunker(n, chunks):
    assert len(gen.chunk_starts(n)) == chunks


def test_tail_rule_leaves_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    assert tail(list(range(11))) == (9.0, 0)
    p, v = tail([float(x) for x in range(100)])
    assert (p, v) == (90.0, 89.0)
    values = list(np.random.default_rng(0).random(37))
    p, v = tail(values)
    assert sum(x > v for x in values) == 10 and p == 72.9


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, 0, start, end)


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),   # overlaps its sibling (another thread)
        _span(2, 0, 3.0, 6.0),
        _span(3, 2, 3.5, 5.5),   # grandchild: counts against span 2 only
        _span(4, 0, 8.0, 12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 2.0)
    assert st[1] == pytest.approx(3.0) and st[3] == pytest.approx(2.0)
    assert covered([], 0, 1) == 0.0


def test_tracer_nests_spans_and_wraps_functions():
    tr = Tracer()

    def inner(x):
        return x + 1

    traced = tr.wrap(inner, "inner")
    with tr.span("outer"):
        assert traced(1) == 2
    outer, inn = tr.spans
    assert inn.parent == outer.id and outer.parent is None
    assert outer.start <= inn.start <= inn.end <= outer.end


def test_compare_ranked_tolerates_only_ties_at_the_cut():
    want = [("a", 0.9), ("b", 0.8), ("c", 0.7)]
    assert checks.compare_ranked(want, want) is None
    assert checks.compare_ranked([("a", 0.9), ("b", 0.8), ("d", 0.7)], want) is None  # tie at the cut
    assert checks.compare_ranked([("b", 0.9), ("a", 0.8), ("c", 0.7)], want) is None  # scores tie
    assert checks.compare_ranked([("a", 0.9), ("d", 0.8), ("c", 0.7)], want) is not None
    assert checks.compare_ranked([("a", 0.9), ("c", 0.7)], want) is not None


def test_hash_embedding_is_normalized_and_deterministic():
    v = checks.hash_embed("spark join table join")
    assert v.dtype == np.float32 and abs(float(np.linalg.norm(v)) - 1.0) < 1e-6
    assert np.array_equal(v, checks.hash_embed("spark join table join"))


def test_tree_cpu_counts_live_child_processes():
    burn = ("import sys, time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print('done', flush=True)\nsys.stdin.read()")
    before = workloads.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert workloads.tree_cpu_s() - before >= 0.25
    finally:
        child.stdin.close()
        child.wait(timeout=30)


def test_benchmark_json_lists_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == {"rag_serve", "corpus_curate"}
