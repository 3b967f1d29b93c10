"""NL2SQL execution surface: validated SQL-in → DataFrame-out.

The reference's NL2SQL path lets an LLM generate SQL and executes it against
a saved connection through SQLcl MCP tools (agentspec/agent_nl2sql.py:22-75).
Its safety layer is a token-walk SELECT-only validator + read-only
transaction (embed/utils.py:35-70,106). Here:

  * `validate_select_only` ports the validator semantics: single statement,
    must start with SELECT/WITH, no DML/DDL tokens, no statement chaining.
  * `run_sql` = validate → parse-check via Spark's own parser → spark.sql.
  * `schema_information` replaces the SQLcl schema tool with spark.catalog.

The "LLM" itself is out of engine scope — the contract is the SQL string.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# statements that must never appear in NL2SQL-generated SQL (the reference
# blocklist covers DML/DDL/transaction control, embed/utils.py:42-52)
_FORBIDDEN = re.compile(
    r"\b(insert|update|delete|merge|drop|create|alter|truncate|grant|revoke|"
    r"commit|rollback|call|execute|set|refresh|msck|analyze)\b",
    re.IGNORECASE,
)
_IDENTIFIER = re.compile(r"\w+")


class SQLValidationError(ValueError):
    pass


def validate_identifier(name: str) -> str:
    """`\\w+` fullmatch before identifier interpolation — the reference
    guards every DDL-interpolated name this way (database/sql.py:30,42-52;
    deepsec/database.py:52,62-77)."""
    if not _IDENTIFIER.fullmatch(name or ""):
        raise SQLValidationError(f"invalid identifier: {name!r}")
    return name


def _strip_literals_and_comments(sql: str) -> str:
    """Token-walk prep: blank out string literals and comments so keyword
    scanning can't be spoofed by quoted text (the reference walks tokens for
    the same reason, embed/utils.py:35-70)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            out.append(" ")
            i = j + 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i)
            if j < 0:
                raise SQLValidationError("unterminated comment")
            i = j + 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def validate_select_only(sql: str) -> str:
    """Raise unless `sql` is a single read-only SELECT/WITH statement."""
    if not sql or not sql.strip():
        raise SQLValidationError("empty SQL")
    cleaned = _strip_literals_and_comments(sql).strip()
    body = cleaned.rstrip(";")
    if ";" in body:
        raise SQLValidationError("multiple statements are not allowed")
    first = body.lstrip().split(None, 1)[0].lower() if body.strip() else ""
    if first not in ("select", "with"):
        raise SQLValidationError("only SELECT statements are allowed")
    m = _FORBIDDEN.search(body)
    if m:
        raise SQLValidationError(f"forbidden keyword: {m.group(0)!r}")
    return sql


def run_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Validate → parse → execute. The parse step (sessionState parser)
    rejects garbage before any execution is scheduled, mirroring the
    reference's pre-flight `SET TRANSACTION READ ONLY` posture."""
    validate_select_only(sql)
    spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    return spark.sql(sql)


def schema_information(spark: SparkSession) -> DataFrame:
    """The schema-discovery tool (replaces sqlcl_schema_information,
    mcp/proxies/sqlcl.py:405-476): every visible table/view with its
    columns and types, as a DataFrame."""
    rows = []
    for table in spark.catalog.listTables():
        for col in spark.catalog.listColumns(table.name):
            rows.append((table.name, table.tableType, col.name, col.dataType))
    return spark.createDataFrame(
        rows, "table_name string, table_type string, column_name string, data_type string"
    )


# ---------------------------------------------------------------------------
# NL→SQL generation double: the deterministic stand-in for the ReAct agent
# (agentspec/agent_nl2sql.py:22-75 — LLM consults schema info, emits SQL,
# executes via a restricted toolbox). The contract this double preserves:
# (1) generation consults the catalog, never hallucinating table/column
# names; (2) output is a single SELECT; (3) execution goes through the
# validator. A real LLM replaces only generate_sql.
# ---------------------------------------------------------------------------

_TEMPLATES: list[tuple[tuple[str, ...], str]] = [
    (
        ("revenue", "nation"),
        """SELECT n.n_name AS nation, ROUND(SUM(o.o_totalprice), 2) AS revenue
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY n.n_name""",
    ),
    (
        ("count", "orders", "priority"),
        """SELECT o_orderpriority, COUNT(*) AS n_orders
           FROM orders GROUP BY o_orderpriority""",
    ),
    (
        ("top", "customers",),
        """SELECT c.c_name, ROUND(SUM(o.o_totalprice), 2) AS spend
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY c.c_name ORDER BY spend DESC, c.c_name LIMIT 10""",
    ),
]

_FALLBACK = "SELECT COUNT(*) AS n_rows FROM orders"
_TABLE_REF = re.compile(r"(?:FROM|JOIN)\s+(\w+)", re.IGNORECASE)


def generate_sql(spark: SparkSession, question: str) -> str:
    """Keyword→template generation, validated against the live catalog:
    every table a template references must exist (the agent's
    schema_information consultation). Unknown questions get the safe
    fallback — mirroring the classifier's default-on-failure posture.
    Each table is checked with `tableExists`, a catalog lookup that starts
    no Spark job (collecting `listTables()` ran several per call)."""
    q = question.lower()
    for keywords, sql in _TEMPLATES:
        if all(w in q for w in keywords):
            tables = {m.group(1) for m in _TABLE_REF.finditer(sql)}
            if all(spark.catalog.tableExists(t) for t in tables):
                return sql
    return _FALLBACK


def answer_question(spark: SparkSession, question: str) -> DataFrame:
    """The full NL2SQL path: generate (double) → validate → parse-check →
    execute. Views must be registered first (tables.register_views)."""
    return run_sql(spark, generate_sql(spark, question))
