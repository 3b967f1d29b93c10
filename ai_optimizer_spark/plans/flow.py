"""The §3.1 retrieval flow as ONE composable function — the engine analog
of the reference's AgentSpec Flow → LangGraph compile → execute lifecycle
(agentspec/flow_vecsearch.py:307-443, runtime/langgraph/vecsearch.py:19-27).

The reference builds a declarative node graph, prunes optional nodes from
settings at build time (:344-354), compiles, then executes with per-node
process/network boundaries. Here the "graph" is a DataFrame plan composed
by plain Python, pruning is an `if` per optional stage (SURVEY.md §4-O1 —
same effect, no framework), and Catalyst is the compiler. LLM-shaped stages
use the deterministic doubles; real adapters drop in behind the same
signatures.

Stages (each optional one is elided from the plan when disabled):

    question → [rephrase+single-line guard]
             → [semantic store routing (≤3 stores, fallback first)]
             → multi-store top-k search (threshold, keep-max dedup)
             → [relevance grade → blank-on-no]

Compiled flows are cached by settings identity (plans/plan_cache.py), the
reference's session cache keyed on (client, route, settings-identity).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plan_cache import PlanCache
from .vector_store import VectorStoreCatalog, multi_store_search

MAX_STORES = 3  # reference caps LLM table selection at 3 (vs_retriever.py:34)


@dataclass(frozen=True)
class VecsearchSettings:
    """Per-client retrieval settings (core/schemas.py:52-55 defaults)."""

    top_k: int = 8
    score_threshold: float = 0.0
    enable_rephrase: bool = True
    enable_routing: bool = True
    enable_grading: bool = True
    grade_terms: tuple[str, ...] = ("join", "merge", "table")

    def to_dict(self) -> dict:
        return {
            "top_k": self.top_k,
            "score_threshold": self.score_threshold,
            "enable_rephrase": self.enable_rephrase,
            "enable_routing": self.enable_routing,
            "enable_grading": self.enable_grading,
            "grade_terms": list(self.grade_terms),
        }


def rephrase_question(question: str, history: list[str]) -> str:
    """D6+F16 double: history-conditioned rephrase, only with ≥2 turns
    (vs_rephrase.py:28-45); a multi-line candidate is rejected and the
    original kept (the single-line guard)."""
    if len(history) < 2:
        return question
    candidate = f"{question} (re: {history[-1]})"
    return question if "\n" in candidate else candidate


def route_stores(
    catalog: VectorStoreCatalog, question: str, metas: list[dict] | None = None
) -> list[str]:
    """D5 double: pick ≤3 stores whose name shares a token with the
    question; validated against the catalog with fallback to the first
    store (vs_retriever.py:53-127 contract). `metas` is the catalog
    entries when the caller has already read them."""
    if metas is None:
        metas = catalog.discover()
    names = sorted(c["name"] for c in metas)
    if not names:
        return []
    q_tokens = {t.lower() for t in question.split()}
    scored = sorted(
        names,
        key=lambda n: (-len(q_tokens & set(n.lower().split("_"))), n),
    )
    picked = [n for n in scored if q_tokens & set(n.lower().split("_"))][:MAX_STORES]
    return picked or [names[0]]


def grade_and_blank(hits: DataFrame, grade_terms: tuple[str, ...]) -> DataFrame:
    """D7 double: binary relevance over the retrieved set; a "no" blanks
    the docs (session.py:173-176) — expressed in-plan so the decision and
    the blanking stay one distributed operation."""
    cond = F.lit(False)
    for term in grade_terms:
        cond = cond | F.lower(F.col("text")).contains(term.lower())
    graded = hits.withColumn("grade", F.when(cond, "yes").otherwise("no"))
    return graded.withColumn(
        "text", F.when(F.col("grade") == "yes", F.col("text")).otherwise(F.lit(""))
    )


class VecsearchFlow:
    """Build-once, run-many retrieval flows with a settings-keyed cache."""

    def __init__(self, spark: SparkSession, catalog: VectorStoreCatalog):
        self.spark = spark
        self.catalog = catalog
        self.cache = PlanCache()

    def run(
        self,
        client: str,
        question: str,
        settings: VecsearchSettings | None = None,
        history: list[str] | None = None,
    ) -> DataFrame:
        s = settings or VecsearchSettings()

        def build():
            # the "compiled plan" is a closure over the settings: stage
            # pruning happens HERE, once per settings identity
            def execute(q: str, hist: list[str]) -> DataFrame:
                if s.enable_rephrase:
                    q = rephrase_question(q, hist)
                # one catalog read per request, shared by routing and search
                metas = self.catalog.discover()
                if s.enable_routing:
                    stores = route_stores(self.catalog, q, metas)
                else:
                    stores = sorted(c["name"] for c in metas)[:MAX_STORES]
                hits = multi_store_search(
                    self.spark, self.catalog, stores, q,
                    top_k=s.top_k, score_threshold=s.score_threshold,
                    metas=metas,
                )
                if s.enable_grading:
                    hits = grade_and_blank(hits, s.grade_terms)
                return hits

            return execute

        plan = self.cache.get_or_build(client, "vecsearch", s.to_dict(), build)
        return plan(question, history or [])
