"""Reference answers for output checks, computed without Spark.

Vector answers come from a numpy brute force over the same stored data;
SQL and curation answers from DuckDB over the same parquet files. Every
check returns an error string, or None when the engine's answer is right.
Scores are rounded to 3 decimals by the engine, so rankings compare with a
tolerance: rows may swap only where their scores tie within `TOL`.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np

TOL = 2e-3
IVF_CENTROIDS = 16  # seed centroids: the first 16 vec_ids
IVF_PROBE = 4
ANN_K = 8
SQ8_LEVELS = 127


# ---------------------------------------------------------------------------
# ranking comparison
# ---------------------------------------------------------------------------


def compare_ranked(got: list[tuple], want: list[tuple]) -> str | None:
    """`got`/`want` are [(key, score)] in rank order. Equal length, scores
    equal rank by rank within TOL, and the same keys except among rows that
    tie with the cut-off score."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, ((gk, gs), (wk, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > TOL:
            return f"rank {i + 1}: score {gs} ({gk}), expected {ws} ({wk})"
    if not want:
        return None
    cut = want[-1][1] + TOL
    sure_got = {k for k, s in got if s > cut}
    sure_want = {k for k, s in want if s > cut}
    if sure_got != sure_want:
        return f"keys {sorted(sure_got ^ sure_want)[:4]} differ above the cut-off"
    return None


def top(keys: np.ndarray, scores: np.ndarray, k: int) -> list[tuple]:
    order = sorted(range(len(keys)), key=lambda i: (-scores[i], keys[i]))[:k]
    return [(keys[i], float(scores[i])) for i in order]


def round3(x: np.ndarray) -> np.ndarray:
    """SQL ROUND(x, 3): half away from zero."""
    return np.sign(x) * np.floor(np.abs(x) * 1000 + 0.5) / 1000


def cosine(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    denom = np.linalg.norm(m, axis=1) * np.linalg.norm(q)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(denom > 0, m @ q / denom, 0.0)


# ---------------------------------------------------------------------------
# ANN top-k
# ---------------------------------------------------------------------------


class AnnReference:
    """The four ANN tiers' semantics over an `embeddings` table: IVF with
    seed centroids (nearest-centroid assignment, 4-cell probe), SQ8 codes
    scored against the exact query, and both combined."""

    def __init__(self, vec_ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray):
        self.ids = vec_ids
        self.vecs = vecs.astype(np.float64)
        self.labels = labels
        self.row = {int(v): i for i, v in enumerate(vec_ids)}
        cents = self.vecs[[self.row[c] for c in range(IVF_CENTROIDS)]]
        d = np.linalg.norm(self.vecs[:, None, :] - cents[None, :, :], axis=2)
        self.cents = cents
        self.cell = np.argmin(d, axis=1)  # first minimum = lowest cid on ties
        scale = np.abs(self.vecs).max(axis=1) / SQ8_LEVELS
        safe = np.where(scale > 0, scale, 1.0)[:, None]
        self.codes = np.where(scale[:, None] > 0, np.sign(self.vecs) * np.floor(np.abs(self.vecs) / safe + 0.5), 0.0)

    def answer(self, kind: str, query_id: int) -> list[tuple]:
        q = self.vecs[self.row[query_id]]
        mask = self.ids != query_id
        data = self.codes if kind in ("sq8", "published") else self.vecs
        if kind != "sq8":
            qd = np.linalg.norm(self.cents - q, axis=1)
            probe = sorted(range(IVF_CENTROIDS), key=lambda c: (qd[c], c))[:IVF_PROBE]
            mask &= np.isin(self.cell, probe)
        scores = round3(cosine(data[mask], q))
        return top(self.ids[mask], scores, ANN_K)

    def check(self, kind: str, query_id: int, rows: list) -> str | None:
        got = [(int(r["vec_id"]), float(r["cos_sim"])) for r in rows]
        err = compare_ranked(got, self.answer(kind, query_id))
        if err is None:
            for r in rows:
                if int(r["label"]) != int(self.labels[self.row[int(r["vec_id"])]]):
                    return f"vec {r['vec_id']}: wrong label"
        return err


# ---------------------------------------------------------------------------
# vector-store flow
# ---------------------------------------------------------------------------


def hash_embed(text: str, dim: int = 64) -> np.ndarray:
    """The engine's deterministic hash embedding, re-derived: each token
    adds ±1 to bucket md5 % dim, sign from bit 30; L2-normalized float32."""
    v = np.zeros(dim)
    for tok in (text or "").split():
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        v[h % dim] += 1.0 if (h >> 30) & 1 else -1.0
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


class StoreReference:
    """Brute-force retrieval over the stores' own parquet contents."""

    def __init__(self, stores: dict[str, dict]):
        # name -> {"id": array, "text": list, "emb": (n, 64) float64}
        self.stores = stores
        self.text_of = {i: t for s in stores.values() for i, t in zip(s["id"], s["text"])}

    def route(self, question: str, routing: bool) -> list[str]:
        names = sorted(self.stores)
        if not routing:
            return names[:3]
        q = {t.lower() for t in question.split()}
        hits = sorted(
            (n for n in names if q & set(n.lower().split("_"))),
            key=lambda n: (-len(q & set(n.lower().split("_"))), n),
        )
        return hits[:3] or names[:1]

    def search(self, name: str, question: str, top_k: int, threshold: float) -> list[tuple]:
        s = self.stores[name]
        q = hash_embed(question).astype(np.float64)
        sims = round3(1.0 - (1.0 - cosine(s["emb"], q)) / 2.0)
        keep = sims >= threshold if threshold > 0 else np.ones(len(sims), bool)
        ids = s["id"][keep]
        hits = top(ids, sims[keep], top_k)
        return [(i, sc, self.text_of[i], name) for i, sc in hits]

    def answer(self, question: str, settings: dict) -> list[tuple]:
        stores = self.route(question, settings["enable_routing"])
        hits = [h for n in stores for h in self.search(n, question, settings["top_k"], settings["score_threshold"])]
        best: dict[str, tuple] = {}
        for h in sorted(hits, key=lambda h: (-h[1], h[3], h[0])):
            best.setdefault(h[2], h)  # keep-max per text
        merged = sorted(best.values(), key=lambda h: (-h[1], h[0]))[: settings["top_k"]]
        return merged

    def check(self, question: str, settings: dict, rows: list) -> str | None:
        want = self.answer(question, settings)
        err = compare_ranked([(r["id"], float(r["similarity"])) for r in rows],
                             [(h[0], h[1]) for h in want])
        if err or not settings["enable_grading"]:
            return err
        for r in rows:
            full = self.text_of.get(r["id"], "")
            relevant = any(t in full.lower() for t in ("join", "merge", "table"))
            if r["text"] != (full if relevant else ""):
                return f"{r['id']}: grade blanking wrong"
        return None


# ---------------------------------------------------------------------------
# SQL answers (DuckDB)
# ---------------------------------------------------------------------------

# The answer each NL2SQL question kind asks for, written independently of
# the engine's templates.
SQL_ANSWERS = {
    "revenue": """SELECT n_name AS nation, ROUND(SUM(o_totalprice), 2) AS revenue
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""",
    "priority": "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY 1",
    "top": """SELECT c_name, ROUND(SUM(o_totalprice), 2) AS spend
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_name ORDER BY spend DESC, c_name LIMIT 10""",
    "fallback": "SELECT COUNT(*) AS n_rows FROM orders",
}


def duckdb_con(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9) + 0.0)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalized(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def compare_rows(columns: list[str], rows: list[tuple], con, sql: str) -> str | None:
    """Exact multiset equality (columns by name, floats to 9 digits)."""
    res = con.execute(sql)
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    if sorted(columns) != sorted(want_cols):
        return f"columns {sorted(columns)} != {sorted(want_cols)}"
    if len(rows) != len(want):
        return f"{len(rows)} rows, expected {len(want)}"
    if normalized(columns, rows) != normalized(want_cols, want):
        return "values differ"
    return None
