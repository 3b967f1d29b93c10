"""§3.3 evaluation pipeline + §3.1 combined route, end to end with
deterministic doubles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_optimizer_spark.operators.llm_doubles import qa_generation
from ai_optimizer_spark.plans.combined import classify_question, combined_route
from ai_optimizer_spark.plans.flow import VecsearchFlow, VecsearchSettings
from ai_optimizer_spark.plans.testbed import evaluate_testset, judge_correctness
from ai_optimizer_spark.plans.vector_store import (
    VectorStoreCatalog,
    chunks_from_documents,
    populate_store,
)
from ai_optimizer_spark.tables import load_tables, register_views

SF = "/root/testdata/sf0.001"


def test_evaluation_pipeline_end_to_end(spark):
    t = load_tables(spark, SF)
    testset = qa_generation(t).limit(50)
    # answer double: echo the reference answer for even qa ids, garbage else
    answers = testset.select(
        "qa_id",
        F.when(
            F.element_at(F.split("qa_id", "_"), 1).cast("long") % 2 == 0,
            F.col("reference_answer"),
        ).otherwise(F.lit("zzz unrelated"))
        .alias("agent_answer"),
    )
    report, failures = evaluate_testset(testset.drop("agent_answer"), answers)
    rows = {(r.scope, r.topic): (r.correctness, r.n) for r in report.collect()}
    overall = rows[("overall", "all")]
    assert 0.0 < overall[0] < 1.0 and overall[1] == 50
    assert sum(n for (s, _), (_, n) in rows.items() if s == "by_topic") == 50
    assert failures.count() == 50 - int(round(overall[0] * 50))


def test_judge_threshold_semantics(spark):
    df = spark.createDataFrame(
        [("1", "alpha beta gamma delta", "alpha beta zzz qqq"),
         ("2", "alpha beta gamma delta", "alpha zzz qqq www")],
        "qa_id string, reference_answer string, agent_answer string",
    )
    out = {r.qa_id: r.correctness for r in judge_correctness(df).collect()}
    assert out == {"1": True, "2": False}  # 2/4 passes the 0.5 bar, 1/4 fails


def test_classifier_domain():
    assert classify_question("what is the total sum per group") == "nl2sql"
    assert classify_question("find similar docs") == "vecsearch"
    assert classify_question("count similar things") == "both"
    assert classify_question("hello there") == "both"


@pytest.fixture(scope="module")
def flow(spark, tmp_path_factory):
    catalog = VectorStoreCatalog(str(tmp_path_factory.mktemp("combined") / "stores"))
    docs = load_tables(spark, SF)["documents"].limit(60)
    populate_store(spark, catalog, "table_docs", chunks_from_documents(docs))
    return VecsearchFlow(spark, catalog)


def test_combined_route_synthesis_and_fallback(spark, flow):
    register_views(spark, SF)
    sql = "SELECT COUNT(*) AS n FROM orders"
    both = combined_route(
        spark, flow, "c1", "count the similar table rows", sql=sql,
        settings=VecsearchSettings(grade_terms=("table",)),
    )
    assert both.route == "both"
    assert both.answer.startswith("sql:") and " || vs:" in both.answer

    # grade blanks every hit → SQL answer stands alone (multi_tool.py:73-85)
    blanked = combined_route(
        spark, flow, "c2", "count the similar table rows", sql=sql,
        settings=VecsearchSettings(grade_terms=("nosuchword999",)),
    )
    assert blanked.answer.startswith("sql:") and "vs:" not in blanked.answer

    sql_only = combined_route(spark, flow, "c3", "sum of totals grouped", sql=sql)
    assert sql_only.route == "nl2sql" and sql_only.search_hits is None


def test_combined_branches_carry_the_caller_job_group(spark, flow):
    """The two branch collects run on pool threads; their jobs must carry
    the caller's job group, or a traced or cancellable request loses
    them."""
    import uuid

    register_views(spark, SF)
    sc = spark.sparkContext
    group = f"combined-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        ans = combined_route(
            spark, flow, "c4", "count the similar table rows",
            sql="SELECT COUNT(*) AS n FROM orders",
            settings=VecsearchSettings(grade_terms=("table",)),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert ans.route == "both" and " || vs:" in ans.answer
    # building both branches starts no job: every job is a branch collect
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
