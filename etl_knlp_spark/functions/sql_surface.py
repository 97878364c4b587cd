"""SQL-text entry point (SURVEY.md §3 E3).

The reference's only query interface is SQL strings shipped to a
warehouse (dag-knlp.py:65-80, 252, 273). This module is the parity
surface: `spark.sql` over the registered table views, demonstrating
CTEs, correlated subqueries, scalar subqueries, HAVING, and set ops in
SQL text. Catalyst decorrelates the subqueries into joins — same
physical plans as the DataFrame formulations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views
from ..registry import query
from .words import words_sql


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Register the catalog as temp views and run one SQL statement."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


_CTE_SQL = """
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_totalprice > 200000
),
per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_big, ROUND(SUM(o_totalprice), 2) AS spend
  FROM big_orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_mktsegment, p.n_big, p.spend
FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
"""


@query("cte_query", oracle=_CTE_SQL)
def cte_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-CTE query through the SQL surface — filter → aggregate →
    join, all planned by Catalyst from SQL text."""
    return run_sql(spark, sf_dir, _CTE_SQL)


_EXISTS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


@query("exists_subquery", oracle=_EXISTS_SQL)
def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates to a left-semi join
    (identical physical shape to the DataFrame `join_semi`)."""
    return run_sql(spark, sf_dir, _EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
SELECT o_orderkey,
       ROUND(o_totalprice / (SELECT AVG(o_totalprice) FROM orders), 6) AS price_ratio
FROM orders
"""


@query("scalar_subquery", oracle=_SCALAR_SUBQ_SQL)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery — planned as a broadcast of the
    1-row aggregate into the projection (no per-row re-evaluation)."""
    return run_sql(spark, sf_dir, _SCALAR_SUBQ_SQL)


_HAVING_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
"""


@query("having_clause", oracle=_HAVING_SQL)
def having_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING — post-aggregation predicate."""
    return run_sql(spark, sf_dir, _HAVING_SQL)


_GROUPING_SETS_SQL = """
SELECT lang, source,
       CAST(GROUPING(lang) AS INT)   AS g_lang,
       CAST(GROUPING(source) AS INT) AS g_src,
       COUNT(*) AS n
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), ())
"""


@query("grouping_sets", oracle=_GROUPING_SETS_SQL)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers — the general
    form behind rollup/cube (SURVEY §2.4 A4); the markers disambiguate
    aggregate NULLs from data NULLs."""
    return run_sql(spark, sf_dir, _GROUPING_SETS_SQL)


_UNION_DISTINCT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


@query("union_distinct", oracle=_UNION_DISTINCT_SQL)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — union-all + aggregate under the hood
    (SURVEY §2.7)."""
    return run_sql(spark, sf_dir, _UNION_DISTINCT_SQL)


_RECURSIVE_CTE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
  FROM orders
),
spine(month_start, hi) AS (
  SELECT lo, hi FROM bounds
  UNION ALL
  SELECT CAST(month_start + INTERVAL '1' MONTH AS DATE), hi
  FROM spine WHERE month_start < hi
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS DECIMAL(38,0)))
              AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT s.month_start,
       COALESCE(m.n_orders, 0) AS n_orders,
       COALESCE(m.revenue, CAST(0.0 AS DOUBLE)) AS revenue
FROM (SELECT month_start FROM spine) s
LEFT JOIN monthly m ON m.month_start = s.month_start
"""


@query("recursive_cte", oracle=_RECURSIVE_CTE_SQL)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 `WITH RECURSIVE`): build a gap-free
    monthly date spine between the orders table's min and max months,
    then left-join per-month order counts so empty months surface as
    zero rows — the canonical time-series densification every
    reporting stack needs and plain GROUP BY cannot produce.

    Portability notes: Spark 4.1 only supports UNION ALL recursion, so
    termination rides on the monotone `month_start < hi` predicate
    with `hi` CARRIED THROUGH the recursion (a scalar subquery in the
    recursive term is not portable); iteration count = calendar months
    in the data (~80), far under Spark's 100-level recursion default.
    The spine is driver-scheduled tiny frames — the heavy side
    (monthly aggregate) is one ordinary shuffle, scale-safe.
    """
    return run_sql(spark, sf_dir, _RECURSIVE_CTE_SQL)


_LATERAL_SQL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t
"""


@query("lateral_join", oracle=_LATERAL_SQL)
def lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL table subquery — per-nation top-2 customers.
    The general form of per-group top-k when the inner query is more
    than a window can express; Catalyst decorrelates it into a ranked
    join rather than re-running the subquery per outer row."""
    return run_sql(spark, sf_dir, _LATERAL_SQL)


_SCRIPTING_SQL = """
BEGIN
  DECLARE i INT DEFAULT 0;
  DECLARE m DOUBLE DEFAULT -1;
  DECLARE ns ARRAY<BIGINT> DEFAULT array();
  DECLARE ms ARRAY<DOUBLE> DEFAULT array();
  WHILE i < 4 DO
    SET ns = array_append(ns, (SELECT COUNT(*) FROM orders
                               WHERE o_totalprice > m));
    SET m = (SELECT AVG(o_totalprice) FROM orders WHERE o_totalprice > m);
    SET ms = array_append(ms, m);
    SET i = i + 1;
  END WHILE;
  SELECT k AS iter,
         element_at(ns, k + 1) AS n_above,
         ROUND(element_at(ms, k + 1), 4) AS mean_price
  FROM (SELECT explode(sequence(0, 3)) AS k);
END
"""


@query(
    "sql_scripting",
    oracle="""
    WITH m0 AS (
      SELECT COUNT(*)::BIGINT AS n, AVG(o_totalprice) AS m FROM orders
    ), m1 AS (
      SELECT COUNT(*)::BIGINT AS n, AVG(o_totalprice) AS m FROM orders
      WHERE o_totalprice > (SELECT m FROM m0)
    ), m2 AS (
      SELECT COUNT(*)::BIGINT AS n, AVG(o_totalprice) AS m FROM orders
      WHERE o_totalprice > (SELECT m FROM m1)
    ), m3 AS (
      SELECT COUNT(*)::BIGINT AS n, AVG(o_totalprice) AS m FROM orders
      WHERE o_totalprice > (SELECT m FROM m2)
    )
    SELECT 0 AS iter, n AS n_above, ROUND(m, 4) AS mean_price FROM m0
    UNION ALL SELECT 1, n, ROUND(m, 4) FROM m1
    UNION ALL SELECT 2, n, ROUND(m, 4) FROM m2
    UNION ALL SELECT 3, n, ROUND(m, 4) FROM m3
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procedural SQL scripting (Spark 4 `BEGIN … END` blocks with
    DECLARE / WHILE / SET): an iterative mean-shell peel over orders —
    each round keeps only rows above the previous round's mean and
    records (count, mean) per iteration. Genuinely procedural (each
    threshold depends on the previous aggregate), so the DuckDB oracle
    unrolls the fixed 4 iterations into chained CTE stages.

    The loop runs ON the cluster per iteration (each SET's scalar
    subquery is a distributed aggregate); only two scalars cross the
    driver per round — the bounded-sync shape of an iterative Spark
    aggregate. The scripting conf is scoped and restored
    (session-wide conf leaks bit a previous round — see
    sources/layout.py)."""
    register_views(spark, sf_dir)
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(_SCRIPTING_SQL)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


@query(
    "sql_udf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\s+'))::INT AS n_tokens,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    )
    SELECT doc_id, n_tokens, MIN(term) AS first_term
    FROM toks GROUP BY doc_id, n_tokens
    """,
)
def sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark `CREATE FUNCTION ... RETURN`):
    a scalar function and a TABLE function declared in SQL text and
    consumed through LATERAL correlation — the warehouse-style UDF
    surface (no Python involved, fully planned by Catalyst, so both
    functions inline into the query plan like macros and keep
    whole-stage codegen). The oracle recomputes the same result with
    plain SQL, proving the function indirection is semantically free."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tok_count(s STRING) "
        f"RETURNS INT RETURN size({words_sql('s')})"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION terms_of(s STRING) "
        "RETURNS TABLE (term STRING) "
        f"RETURN SELECT explode({words_sql('s')}) AS term"
    )
    return spark.sql(
        """
        SELECT d.doc_id, tok_count(d.text) AS n_tokens, MIN(t.term) AS first_term
        FROM documents d, LATERAL terms_of(d.text) t
        GROUP BY d.doc_id, tok_count(d.text)
        """
    )


_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate >= DATE '1995-01-01'
|> EXTEND CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT) AS net_u
|> AGGREGATE CAST(SUM(CAST(net_u AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(10000.0 AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_items
   GROUP BY l_returnflag, l_linestatus
|> WHERE n_items > 0
|> SELECT l_returnflag, l_linestatus, revenue, n_items
"""

_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 0
"""


@query("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0+, the `|>` operator chain): the same
    scan → filter → derive → aggregate → filter program as classic
    SELECT, written in dataflow order. Pure parser surface — Catalyst
    receives the identical logical plan, so pushdown/pruning/codegen
    are untouched; the oracle is the classic-SQL spelling and must
    hash-match exactly."""
    return run_sql(spark, sf_dir, _PIPE_SQL)


_COLLATED_SQL = """
WITH mixed AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
              ELSE event_type END AS etype,
         value
  FROM events
)
SELECT MIN(lower(etype)) AS etype_ci,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM mixed
GROUP BY etype COLLATE UTF8_LCASE
"""

_COLLATED_ORACLE = """
WITH mixed AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
              ELSE event_type END AS etype,
         value
  FROM events
)
SELECT lower(etype) AS etype_ci,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM mixed
GROUP BY lower(etype)
"""


@query("collated_group", oracle=_COLLATED_ORACLE)
def collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4.0+ COLLATE): a deliberately
    case-mangled event_type groups under UTF8_LCASE so 'CLICK' and
    'click' share a bucket WITHOUT rewriting the data — the collation
    rides the type, the shuffle hash-partitions on the collation key,
    and every comparison downstream inherits it (vs the lower()
    rewrite, which burns a projection and loses the original casing).
    The emitted key is MIN(lower(etype)) — deterministic regardless of
    which group member a partition sees first (round-5 advisor: a bare
    representative's lowercase is partition-order-nondeterministic for
    keys that case-fold equal but lowercase differently, e.g. Greek
    final sigma). The oracle is the lower() rewrite; the mirror is
    exact when lower() fully normalizes the collation class (all ASCII
    keys — true of the events fixture and stated as the operator's
    oracle contract; the Spark-side key is deterministic either way)."""
    df = run_sql(spark, sf_dir, _COLLATED_SQL)
    from pyspark.sql import functions as F

    return df.select(
        F.col("etype_ci").cast("string").alias("etype_ci"),
        "n_events",
        "total_value",
    )


_PARAM_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE n_chars >= 120 AND lang <> 'xx'
GROUP BY lang
"""


@query("parameterized_sql", oracle=_PARAM_ORACLE)
def parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL, both Spark 4 forms composed: the outer
    statement is `EXECUTE IMMEDIATE ... USING` (positional markers —
    the procedural-SQL dispatch shape), the inner one binds a NAMED
    parameter via `spark.sql(..., args=...)`. Parameters travel as
    typed literals, never string-spliced — the injection-safe template
    path a query service runs at scale, and Catalyst constant-folds
    them exactly like hand-written literals (same plan, same pushdown,
    hash-identical results — which is what the oracle pins)."""
    register_views(spark, sf_dir)
    inner = spark.sql(
        """SELECT lang,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(MAX(n_chars) AS BIGINT) AS max_chars
           FROM documents
           WHERE n_chars >= :min_chars AND lang <> :excluded
           GROUP BY lang""",
        args={"min_chars": 120, "excluded": "xx"},
    )
    inner.createOrReplaceTempView("param_inner")
    return spark.sql(
        "EXECUTE IMMEDIATE 'SELECT * FROM param_inner WHERE n_docs >= ?' USING 0"
    )
