"""COMBINED route — SURVEY.md §3.1 steps 7-8 (runtime/langgraph/
multi_tool.py): classify the question, run the NL2SQL and vecsearch
branches, then either take the SQL answer alone (when the relevance grade
blanked the search result) or synthesize both.

The classifier/synthesizer are the deterministic doubles
(operators/llm_doubles.py contracts applied driver-side to one question);
the branches are the real engine paths: validated `spark.sql` and the
composed vecsearch flow. The two branch DataFrames are independent Spark
jobs — submit both before collecting either and the scheduler overlaps
them (the reference runs the branches with asyncio.gather,
multi_tool.py:167-179).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..operators.llm_doubles import SQL_HINTS, VEC_HINTS
from .flow import VecsearchFlow, VecsearchSettings
from .nl2sql import run_sql


def classify_question(question: str) -> str:
    """D11 contract: {nl2sql, vecsearch, both}, defaulting to 'both' on no
    signal (multi_tool.py:108-120)."""
    q = question.lower()
    sql_hit = any(w in q for w in SQL_HINTS)
    vec_hit = any(w in q for w in VEC_HINTS)
    if sql_hit and vec_hit:
        return "both"
    if sql_hit:
        return "nl2sql"
    if vec_hit:
        return "vecsearch"
    return "both"


@dataclass
class CombinedAnswer:
    route: str
    sql_result: DataFrame | None
    search_hits: DataFrame | None
    answer: str


def combined_route(
    spark: SparkSession,
    flow: VecsearchFlow,
    client: str,
    question: str,
    sql: str | None = None,
    settings: VecsearchSettings | None = None,
) -> CombinedAnswer:
    """Execute the classified route(s) and synthesize the reply
    (multi_tool.py:73-139): grade-blanked search → SQL answer stands alone;
    otherwise the synthesis template merges both."""
    from concurrent.futures import ThreadPoolExecutor

    route = classify_question(question)
    sql_df = run_sql(spark, sql) if sql and route in ("nl2sql", "both") else None
    hits = (
        flow.run(client, question, settings)
        if route in ("vecsearch", "both")
        else None
    )

    # collect the two branches concurrently — Spark schedules jobs from
    # separate threads in parallel, the asyncio.gather analog; each branch
    # inherits the caller's local properties (job group, description) and tags
    @inheritable_thread_target(spark)
    def _sql_head():
        return sql_df.limit(3).collect() if sql_df is not None else None

    @inheritable_thread_target(spark)
    def _hit_head():
        return hits.limit(3).collect() if hits is not None else None

    with ThreadPoolExecutor(max_workers=2) as pool:
        sql_head_f, hit_head_f = pool.submit(_sql_head), pool.submit(_hit_head)
        sql_head, hit_head = sql_head_f.result(), hit_head_f.result()

    sql_answer = None
    if sql_head is not None:
        sql_answer = "sql:" + "; ".join(
            ",".join(str(v) for v in row) for row in sql_head
        )
    search_answer = None
    if hit_head is not None:
        texts = [r.text for r in hit_head if r.text]
        search_answer = "vs:" + " | ".join(texts) if texts else None  # blanked → None

    if sql_answer and search_answer:
        answer = f"{sql_answer} || {search_answer}"  # synthesis template (D10)
    else:
        # concat fallback: whichever branch produced something
        answer = sql_answer or search_answer or ""
    return CombinedAnswer(route, sql_df, hits, answer)
