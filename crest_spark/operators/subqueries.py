"""Subquery forms, misc aggregates, CTEs, and deterministic sampling.

Catalyst decorrelates correlated subqueries into joins (RewriteCorrelated
ScalarSubquery / RewritePredicateSubquery) — these queries pin that
behavior under the oracle gate. Sampling uses a content-hash filter (md5
exists in both engines) so the "random" sample is deterministic and
oracle-checkable — which is also the right pattern at 100 TB: a stable
sample survives reruns and partition changes, unlike rand()."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crest_spark.functions.stable import round4, sum4
from crest_spark.registry import register
from crest_spark.sources.tables import load_table, table_path


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"_sq_{n}")


def _require_no_nulls(sf_dir: str, table: str, column: str) -> None:
    """Prove from the parquet footers that ``table.column`` holds no NULL:
    every row group must carry a null-count statistic, and every count
    must be zero. Reads metadata only — no Spark job, no plan change.
    Raises ValueError on a NULL or on a missing statistic."""
    import pyarrow.dataset as ds

    path = table_path(sf_dir, table)
    for frag in ds.dataset(path, format="parquet").get_fragments():
        md = frag.metadata
        idx = [md.schema.column(i).path for i in range(md.num_columns)].index(
            column
        )
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_null_count:
                raise ValueError(
                    f"{table}.{column}: {frag.path} row group {rg} has no "
                    "null-count statistic; cannot prove the key non-NULL"
                )
            if stats.null_count:
                raise ValueError(
                    f"{table}.{column}: {frag.path} row group {rg} holds "
                    f"{stats.null_count} NULL(s); the key must be non-NULL"
                )


@register(
    "q24_scalar_subquery",
    oracle=f"""
        SELECT o_orderkey, {round4("o_totalprice")} AS price
        FROM orders
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) * 1.5 FROM orders)
        ORDER BY o_orderkey
    """,
    tags=("subquery", "scalar"),
)
def q24_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery -> single-row broadcast into the
    filter. The threshold uses the decimal-exact mean so both engines
    compare against the bit-identical double (no boundary flips)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderkey, {round4("o_totalprice")} AS price
        FROM _sq_orders
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) * 1.5 FROM _sq_orders)
        ORDER BY o_orderkey
        """
    )


@register(
    "q24b_correlated_scalar",
    oracle=f"""
        SELECT c.c_custkey,
               {round4("(SELECT COALESCE(MAX(o.o_totalprice), 0) FROM orders o WHERE o.o_custkey = c.c_custkey)")} AS max_order
        FROM customer c
        ORDER BY c.c_custkey
    """,
    tags=("subquery", "correlated"),
)
def q24b_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: Catalyst decorrelates to a left outer
    aggregate-join (no per-row re-execution)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        f"""
        SELECT c.c_custkey,
               {round4("(SELECT COALESCE(MAX(o.o_totalprice), 0) FROM _sq_orders o WHERE o.o_custkey = c.c_custkey)")} AS max_order
        FROM _sq_customer c
        ORDER BY c.c_custkey
        """
    )


@register(
    "q24c_in_subquery",
    oracle="""
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          AND o_orderkey NOT IN (
            SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        ORDER BY o_orderkey
    """,
    tags=("subquery", "in"),
)
def q24c_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries -> semi / anti joins.

    r15 scale pin: the NOT IN spelling plans a NULL-AWARE anti join, which
    Spark can only execute as a broadcast hash join — at 100 TB that is a
    forced broadcast of a corpus-scale filtered lineitem (and locally the
    64 MB threshold benched that impossible plan). The Spark-side
    evaluation uses the NOT EXISTS decorrelation instead: a plain
    LeftAnti on the correlation key, shuffleable at any scale.
    Equivalent only while neither key column holds a NULL: NOT IN drops
    every row once the subquery returns a NULL, and drops a NULL
    o_orderkey against any non-empty subquery; NOT EXISTS keeps both.
    The TPC-H keys are never NULL, and the footers' null counts are
    checked before the query is built (``_require_no_nulls``); certified
    against the unchanged NOT IN oracle at both gated SFs. Both subquery
    joins are MERGE-hinted: customer and lineitem are SF-scaling
    relations, so SMJ semi/anti on the natural keys is the plan that
    ships."""
    _require_no_nulls(sf_dir, "orders", "o_orderkey")
    _require_no_nulls(sf_dir, "lineitem", "l_orderkey")
    _views(spark, sf_dir, "orders", "customer", "lineitem")
    return spark.sql(
        """
        SELECT o_orderkey FROM _sq_orders o
        WHERE o_custkey IN (
            SELECT /*+ MERGE */ c_custkey FROM _sq_customer
            WHERE c_mktsegment = 'BUILDING')
          AND NOT EXISTS (
            SELECT /*+ MERGE */ 1 FROM _sq_lineitem l
            WHERE l.l_quantity > 45 AND l.l_orderkey = o.o_orderkey)
        ORDER BY o_orderkey
        """
    )


@register(
    "q24d_cte",
    oracle=f"""
        WITH big_orders AS (
            SELECT o_custkey, COUNT(*) AS n
            FROM orders WHERE o_totalprice > 3000
            GROUP BY o_custkey
        )
        SELECT c.c_name, b.n
        FROM customer c JOIN big_orders b ON c.c_custkey = b.o_custkey
        ORDER BY b.n DESC, c.c_name
        LIMIT 25
    """,
    tags=("subquery", "cte"),
)
def q24d_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + join + top-k through the SQL entry point."""
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        WITH big_orders AS (
            SELECT o_custkey, COUNT(*) AS n
            FROM _sq_orders WHERE o_totalprice > 3000
            GROUP BY o_custkey
        )
        SELECT c.c_name, b.n
        FROM _sq_customer c JOIN big_orders b ON c.c_custkey = b.o_custkey
        ORDER BY b.n DESC, c.c_name
        LIMIT 25
        """
    )


# (orderkey, linenumber) is NOT unique in the synthetic lineitem, so the
# arg-extreme ordering key embeds the price itself as a fixed-width string
# tie-break — total order, identical text in both engines (double->string
# formatting differs between engines; decimal->string does not).
def _arg_key(strtype: str) -> str:
    # Spark spells the type STRING, DuckDB VARCHAR; otherwise identical
    return (
        f"lpad(CAST(l_orderkey * 10 + l_linenumber AS {strtype}), 10, '0') || '|' || "
        f"lpad(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS {strtype}), 12, '0')"
    )


_ARG_KEY = _arg_key("VARCHAR")
_ARG_KEY_SPARK = _arg_key("STRING")

@register(
    "q26_misc_aggs",
    oracle=f"""
        SELECT l_returnflag,
               {round4(f"arg_min(l_extendedprice, {_ARG_KEY})")} AS first_price,
               {round4(f"arg_max(l_extendedprice, {_ARG_KEY})")} AS last_price,
               bool_and(l_quantity > 0) AS all_positive,
               bool_or(l_quantity > 49) AS any_large,
               CAST(median(l_linenumber) AS DOUBLE) AS med_line
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("aggregation", "misc"),
)
def q26_misc_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (arg-extremes), bool_and/bool_or, exact median —
    keyed on a totally-ordered composite so arg extremes are
    deterministic despite duplicate (orderkey, linenumber) rows.

    spread_fact parallelizes the partial aggregate (string-composite
    min_by/max_by keys + exact median buffers are per-row expensive)
    past the single-task local scan (r15, guide §2.5 — no-op at scale,
    0.66x measured at sf0.1). Every aggregate here is
    partitioning-invariant (the arg extremes key on a total order)."""
    from crest_spark.sources.tables import spread_fact

    li = spread_fact(spark, load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(f"min_by(l_extendedprice, {_ARG_KEY_SPARK})").alias("_fp"),
            F.expr(f"max_by(l_extendedprice, {_ARG_KEY_SPARK})").alias("_lp"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_quantity") > 49).alias("any_large"),
            F.expr("CAST(median(l_linenumber) AS DOUBLE)").alias("med_line"),
        )
        .select(
            "l_returnflag",
            F.expr(round4("_fp")).alias("first_price"),
            F.expr(round4("_lp")).alias("last_price"),
            "all_positive",
            "any_large",
            "med_line",
        )
        .orderBy("l_returnflag")
    )


@register(
    "q26b_string_agg",
    oracle="""
        SELECT c_nationkey,
               string_agg(c_name, ',' ORDER BY c_name) AS names
        FROM (SELECT c_nationkey, c_name FROM customer
              WHERE c_custkey <= 30)
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    tags=("aggregation", "string"),
)
def q26b_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): collect -> sort -> join,
    deterministic by explicit in-group ordering."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 30)
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list("c_name"))
            ).alias("names")
        )
        .orderBy("c_nationkey")
    )


@register(
    "q25_deterministic_sample",
    oracle="""
        SELECT o_orderkey
        FROM orders
        WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
        ORDER BY o_orderkey
    """,
    tags=("sampling",),
)
def q25_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% content-hash sample: md5(key) prefix threshold. Deterministic
    across engines/reruns/partitionings — the reproducible-sampling
    pattern for big pipelines (rand()-based sampling is none of those)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(
            F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 2)
            < "1a"
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@register(
    "q24e_correlated_max",
    oracle="""
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        WHERE s.s_acctbal = (
            SELECT MAX(s2.s_acctbal) FROM supplier s2
            WHERE s2.s_nationkey = s.s_nationkey)
        ORDER BY s.s_suppkey
    """,
    tags=("subquery", "correlated"),
)
def q24e_correlated_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shape: row must equal its group's correlated MAX.
    Catalyst decorrelates into an aggregate + self-join; MAX over raw
    doubles is order-independent, so the equality is engine-stable."""
    _views(spark, sf_dir, "supplier")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM _sq_supplier s
        WHERE s.s_acctbal = (
            SELECT MAX(s2.s_acctbal) FROM _sq_supplier s2
            WHERE s2.s_nationkey = s.s_nationkey)
        ORDER BY s.s_suppkey
        """
    )


@register(
    "q26c_filtered_aggs",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
               {sum4("l_extendedprice")} AS sum_all,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8)))
                    FILTER (WHERE l_discount > 0.05), 4) AS DOUBLE) AS sum_discounted
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("aggregation", "filter-clause"),
)
def q26c_filtered_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates: multiple conditional aggregations in one
    pass (one scan, one shuffle — vs one scan per condition)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_sq_lineitem_f")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
               {sum4("l_extendedprice")} AS sum_all,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8)))
                    FILTER (WHERE l_discount > 0.05), 4) AS DOUBLE) AS sum_discounted
        FROM _sq_lineitem_f
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "q18f_explode_outer",
    oracle="""
        WITH src AS (
            SELECT vec_id,
                   CASE WHEN vec_id % 3 = 0 THEN []::FLOAT[]
                        ELSE embedding[1:2] END AS arr
            FROM embeddings WHERE vec_id < 30
        )
        SELECT vec_id, CAST(FLOOR(v * 10) AS BIGINT) AS bucket
        FROM (SELECT vec_id, UNNEST(arr) AS v FROM src)
        UNION ALL
        SELECT vec_id, NULL AS bucket FROM src WHERE len(arr) = 0
        ORDER BY vec_id, bucket NULLS FIRST
    """,
    tags=("array", "explode-outer"),
)
def q18f_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty/null arrays survive as NULL rows
    (plain explode drops them — the silent-row-loss footgun). Oracle
    emulates outer semantics via UNION ALL of the empty-array rows."""
    em = load_table(spark, sf_dir, "embeddings")
    src = em.where(F.col("vec_id") < 30).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 3 == 0, F.array().cast("array<float>")
        )
        .otherwise(F.slice("embedding", 1, 2))
        .alias("arr"),
    )
    return (
        src.select("vec_id", F.explode_outer("arr").alias("v"))
        .select(
            "vec_id", F.floor(F.col("v") * 10).cast("bigint").alias("bucket")
        )
        .orderBy("vec_id", F.col("bucket").asc_nulls_first())
    )
