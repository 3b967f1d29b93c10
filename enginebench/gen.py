"""Seeded input generators.

Everything the engine reads during a benchmark run is made here from the
workload seed: the document corpus and embeddings (shaped like the sf0.1
fixture: 30-word vocabulary, 44-577 character texts, 20 sources, 64-dim
L2-normalized vectors in 10 clusters), the relational tables the NL2SQL
path queries, the request mix, the curation corpus tiler with injected
duplicates, and the refresh delta waves. The engine only ever sees the
generated parquet files and request arguments.

Nothing here imports pyspark, so the generators are testable without a JVM.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
CHUNK_SIZE = 200
CHUNK_OVERLAP = 40

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose): adding a draw to
    one generator never shifts the inputs of another."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def random_text(rng: np.random.Generator, n_chars: int) -> str:
    words = rng.choice(VOCAB, size=n_chars // 2 + 2)
    return " ".join(words)[:n_chars]


def documents(rng: np.random.Generator, n_docs: int, first_id: int = 0) -> dict:
    """Columns of a `documents` table: doc_id, text, lang, source, n_chars."""
    lengths = rng.integers(44, 578, size=n_docs)
    texts = [random_text(rng, int(n)) for n in lengths]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(LANGS, size=n_docs, p=LANG_P)),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng: np.random.Generator, n_vecs: int) -> dict:
    """Columns of an `embeddings` table: clustered, L2-normalized float32."""
    centers = rng.standard_normal((N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, size=n_vecs)
    vecs = centers[labels] + 0.8 * rng.standard_normal((n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": labels.astype(np.int32),
    }


def _timestamps(rng: np.random.Generator, n: int) -> np.ndarray:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    return start + rng.integers(0, 365 * 86400, size=n).astype("timedelta64[s]")


def relational(rng: np.random.Generator, n_orders: int) -> dict[str, dict]:
    """TPC-H-shaped tables with the sf0.1 orders:customer ratio (10:1).
    Only orders/customer/nation are queried by the NL2SQL path; the rest
    are kept small and exist so the engine's table loader finds every
    table it expects."""
    n_cust = max(n_orders // 10, 10)
    n_part, n_supp = 2000, 100
    n_lines = n_orders // 5
    nations = [f"NATION{i:02d}" for i in range(25)]
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": nations,
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
            "c_mktsegment": list(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                size=n_cust,
            )),
        },
        "supplier": {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": [f"Brand#{1 + i % 5}{1 + i % 7}" for i in range(n_part)],
            "p_type": list(rng.choice(["STANDARD", "SMALL", "LARGE", "PROMO"], size=n_part)),
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, size=n_part), 2),
        },
        "orders": {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, size=n_orders).astype(np.int64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], size=n_orders)),
            "o_totalprice": np.round(rng.uniform(800, 500000, size=n_orders), 2),
            "o_orderdate": _timestamps(rng, n_orders),
            "o_orderpriority": list(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_orders,
            )),
        },
        "lineitem": {
            "l_orderkey": rng.integers(1, n_orders + 1, size=n_lines).astype(np.int64),
            "l_partkey": rng.integers(1, n_part + 1, size=n_lines).astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, size=n_lines).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n_lines).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=n_lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_lines) / 100.0, 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], size=n_lines)),
            "l_linestatus": list(rng.choice(["F", "O"], size=n_lines)),
            "l_shipdate": _timestamps(rng, n_lines),
        },
        "events": {
            "event_id": np.arange(n_orders // 10, dtype=np.int64),
            "ts": _timestamps(rng, n_orders // 10),
            "user_id": rng.integers(0, 500, size=n_orders // 10).astype(np.int64),
            "event_type": list(rng.choice(["view", "click", "cart", "buy"], size=n_orders // 10)),
            "value": np.round(rng.uniform(0, 100, size=n_orders // 10), 2),
            "props": ["{}"] * (n_orders // 10),
        },
    }


def _arrow(cols: dict) -> pa.Table:
    arrays = {}
    for name, values in cols.items():
        if isinstance(values, np.ndarray) and values.ndim == 2:
            flat = pa.array(values.reshape(-1), type=pa.float32())
            arrays[name] = pa.ListArray.from_arrays(
                pa.array(np.arange(0, values.size + 1, values.shape[1], dtype=np.int32)), flat
            )
        else:
            arrays[name] = pa.array(values)
    return pa.table(arrays)


def write_table(path: str, cols: dict) -> None:
    pq.write_table(_arrow(cols), path)


def write_dataset(out_dir: str, docs: dict, emb: dict, rel: dict[str, dict]) -> str:
    """Write the ten tables the engine's loader expects as `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in {**rel, "documents": docs, "embeddings": emb}.items():
        write_table(os.path.join(out_dir, f"{name}.parquet"), cols)
    return out_dir


# ---------------------------------------------------------------------------
# rag_serve request mix
# ---------------------------------------------------------------------------

# Store names carry vocabulary tokens, so the flow's token router picks
# between them by question content.
STORE_NAMES = ("kb_spark_batch", "kb_stream_window", "kb_join_table")

# Four clients with fixed settings: (top_k, score_threshold, routing, grading)
CLIENTS = {
    "analyst": dict(top_k=8, score_threshold=0.0, enable_routing=True, enable_grading=True),
    "support": dict(top_k=4, score_threshold=0.55, enable_routing=True, enable_grading=False),
    "batch": dict(top_k=8, score_threshold=0.0, enable_routing=False, enable_grading=False),
    "ops": dict(top_k=6, score_threshold=0.5, enable_routing=True, enable_grading=True),
}

ANN_KINDS = ("ivf", "clustered_ivf", "sq8", "published")

SQL_QUESTIONS = {
    # kind -> question words (the engine's NL2SQL double keys on them)
    "revenue": "what is the revenue per nation",
    "priority": "count orders by priority",
    "top": "who are the top customers",
    "fallback": "how many orders are there",
}

SQL_HINT = "total"  # a word the combined-route classifier reads as "SQL"
VEC_HINT = "similar"  # ... and as "vector search"


@dataclass(frozen=True)
class Request:
    kind: str  # "vec" | "ann" | "sql" | "combined"
    client: str = ""
    question: str = ""
    ann: str = ""
    query_id: int = 0
    sql_kind: str = ""


def flow_question(rng: np.random.Generator, n_routed: int) -> str:
    """A 4-8-word question whose tokens name exactly `n_routed` stores."""
    route_words = {n: [w for w in n.split("_") if w in VOCAB] for n in STORE_NAMES}
    plain = [w for w in VOCAB if not any(w in ws for ws in route_words.values())]
    stores = rng.choice(len(STORE_NAMES), size=n_routed, replace=False)
    words = [str(rng.choice(route_words[STORE_NAMES[i]])) for i in stores]
    words += list(rng.choice(plain, size=int(rng.integers(4, 9)) - n_routed))
    return " ".join(rng.permutation(words))


# Request kinds of one cycle: 60 % flow, 20 % ANN, 20 % SQL, spread out.
# Twenty requests hold each flow shape (4 clients x 1-3 routed stores),
# each ANN tier and each SQL question kind exactly once.
CYCLE = ("vec", "ann", "vec", "sql", "vec", "vec", "ann", "vec", "sql", "vec") * 2


def request_stream(seed: int, n: int, n_vecs: int) -> list[Request]:
    """`n` cycles of CYCLE: 60 % flow questions, 20 % ANN top-k, 20 %
    NL2SQL (the fourth SQL question of a cycle goes through the combined
    route). Every cycle has the same shapes in the same order for every
    seed; the seed picks the question words and the query vectors."""
    rng = rng_for(seed, "requests")
    clients = sorted(CLIENTS)
    sql_kinds = sorted(SQL_QUESTIONS)
    out: list[Request] = []
    n_vec = n_ann = n_sql = 0
    for _ in range(n):
        for kind in CYCLE:
            if kind == "vec":
                out.append(Request("vec", client=clients[n_vec % len(clients)],
                                   question=flow_question(rng, 1 + n_vec % 3)))
                n_vec += 1
            elif kind == "ann":
                out.append(Request("ann", ann=ANN_KINDS[n_ann % len(ANN_KINDS)],
                                   query_id=int(rng.integers(0, n_vecs))))
                n_ann += 1
            else:
                sk = sql_kinds[n_sql % len(sql_kinds)]
                if n_sql % len(sql_kinds) == len(sql_kinds) - 1:
                    words = " ".join(rng.choice(VOCAB, size=3))
                    q = f"{SQL_QUESTIONS[sk]} {SQL_HINT} {VEC_HINT} {words}"
                    out.append(Request("combined", client=clients[n_sql % len(clients)],
                                       question=q, sql_kind=sk))
                else:
                    out.append(Request("sql", question=SQL_QUESTIONS[sk], sql_kind=sk))
                n_sql += 1
    return out


# ---------------------------------------------------------------------------
# corpus_curate: tiler with duplicate injection
# ---------------------------------------------------------------------------


def tile_corpus(rng: np.random.Generator, base: dict, factor: int,
                exact_frac: float = 0.01, near_frac: float = 0.02) -> dict:
    """Tile `base` documents `factor` times. Each tile gets a seed-chosen
    marker token after every 4th word, so tiles are distinct documents
    (cross-tile similarity collapses) while each keeps its internal
    structure. Then `exact_frac` of the rows are overwritten with an exact
    copy of another row and `near_frac` with a near copy (one word
    replaced), so the dedup stages have real work at every size."""
    n = len(base["doc_id"])
    markers = [f"zz{int(m)}t" for m in rng.choice(100000, size=factor, replace=False)]
    texts, langs, sources = [], [], []
    for m in markers:
        for t in base["text"]:
            words = t.split(" ")
            for j in range(4, len(words), 5):
                words.insert(j, m)
            texts.append(" ".join(words))
        langs.extend(base["lang"])
        sources.extend(base["source"])
    total = n * factor
    n_exact = int(total * exact_frac)
    n_near = int(total * near_frac)
    picks = rng.choice(total, size=2 * (n_exact + n_near), replace=False)
    dst, src = picks[: n_exact + n_near], picks[n_exact + n_near:]
    for i, (d, s) in enumerate(zip(dst, src)):
        if i < n_exact:
            texts[d] = texts[s]
        else:
            words = texts[s].split(" ")
            k = int(rng.integers(len(words)))
            words[k] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts[d] = " ".join(words)
        langs[d] = langs[s]
    return {
        "doc_id": np.arange(total, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# store_refresh: delta waves
# ---------------------------------------------------------------------------


@dataclass
class Wave:
    docs: dict  # the full live corpus after the wave
    edited: list[int]
    added: list[int]
    removed: list[int]


def delta_wave(rng: np.random.Generator, live: dict, wave_no: int,
               edit_frac: float = 0.03, add_frac: float = 0.01,
               remove_frac: float = 0.005) -> Wave:
    """One refresh wave over `live`: ~3 % of docs get new text, ~1 % new
    docs arrive, ~0.5 % are removed. Every edited or new text opens with
    a token no other document has, so a search for its first chunk has
    exactly one right answer."""
    ids = list(live["doc_id"])
    texts = dict(zip(ids, live["text"]))
    n = len(ids)
    order = rng.permutation(n)
    n_edit, n_remove = max(int(n * edit_frac), 1), max(int(n * remove_frac), 1)
    edited = sorted(int(ids[i]) for i in order[:n_edit])
    removed = sorted(int(ids[i]) for i in order[n_edit:n_edit + n_remove])
    next_id = int(max(ids)) + 1
    added = list(range(next_id, next_id + max(int(n * add_frac), 1)))
    for d in edited + added:
        texts[d] = f"w{wave_no}d{d}fresh " + random_text(rng, int(rng.integers(100, 560)))
    for d in removed:
        del texts[d]
    keep = sorted(texts)
    return Wave(
        docs={
            "doc_id": np.array(keep, dtype=np.int64),
            "text": [texts[d] for d in keep],
            "lang": ["en"] * len(keep),
            "source": [f"src{d % N_SOURCES}" for d in keep],
            "n_chars": np.array([len(texts[d]) for d in keep], dtype=np.int64),
        },
        edited=edited,
        added=added,
        removed=removed,
    )


def chunk_starts(n_chars: int, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> list[int]:
    """Start offsets of the engine's chunker (0, step, 2·step, … while the
    previous chunk has not reached the end)."""
    step = size - overlap
    if n_chars <= 0:
        return []
    return [0] + [s for s in range(step, n_chars, step) if s + overlap < n_chars]


def chunk_count(texts) -> int:
    return sum(len(chunk_starts(len(t))) for t in texts)
