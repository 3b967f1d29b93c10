"""Vector distance / similarity column expressions.

The reference delegates distance math to Oracle 23ai VECTOR ops and converts
distances to similarities in Python (src/server/app/mcp/tools/
vs_retriever.py:268-280):

    COSINE   : similarity = 1 - distance/2   (distance = 1 - cos ∈ [0,2])
    DOT      : similarity = distance          (Oracle returns the dot product)
    EUCLIDEAN: similarity = 1 / (1 + distance)

Here the math is pure Spark SQL higher-order functions over ARRAY<FLOAT> —
`zip_with` + `aggregate` stay inside whole-stage codegen, no Python crosses
the row path. All arithmetic is DOUBLE so results match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ in DOUBLE, accumulated left-to-right (deterministic)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a, b) -> Column:
    """Zero-norm-safe cosine. ANSI mode makes the plain division THROW on
    zero vectors — a realistic artifact (failed encodes emit all-zero
    embeddings) that would otherwise kill a whole-corpus scan mid-stage.
    A zero vector is 'similar to nothing' (0.0), which every consumer
    (top-k, thresholds, near-dup gates) already handles; NULL inputs stay
    NULL (missing, not dissimilar). Fixtures contain neither, so oracle
    parity is untouched — this is pure robustness for real corpora."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).when(
        denom.isNotNull(), F.lit(0.0)
    )


def safe_unit(vec_col, nrm_col) -> Column:
    """Unit-normalize with the zero-norm guard — the cosine_similarity
    policy in ONE place: a zero vector normalizes to the zero vector (its
    dot with anything is then 0.0 = 'similar to nothing')."""
    return F.transform(
        vec_col,
        lambda x: F.when(nrm_col > 0, x / nrm_col).otherwise(F.lit(0.0)),
    )


def cosine_distance(a, b) -> Column:
    """Oracle COSINE distance: 1 - cos(a,b)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a, b) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# --- reference distance→similarity conversions (vs_retriever.py:268-274) ---

def cosine_score(a, b) -> Column:
    """similarity = 1 - d/2 where d = 1 - cos → (1 + cos)/2."""
    return F.lit(1.0) - cosine_distance(a, b) / F.lit(2.0)


def dot_score(a, b) -> Column:
    """DOT strategy: the score *is* the dot product."""
    return dot(a, b)


def euclidean_score(a, b) -> Column:
    """similarity = 1 / (1 + euclidean distance)."""
    return F.lit(1.0) / (F.lit(1.0) + euclidean_distance(a, b))


def sign_bucket(a, n_bits: int = 8) -> Column:
    """Coarse LSH bucket id from the signs of the first `n_bits` dims.

    This is the 100 TB scale path for similarity search: store tables are
    clustered by bucket so a query scans 1/2^n_bits of the data (SURVEY.md
    §7.4-1). Expressible identically in any SQL engine — no learned
    centroids to ship.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.lit(0)
    for i in range(n_bits):
        b = b + F.when(F.element_at(a, i + 1) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return b.cast("int")
