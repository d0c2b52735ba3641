"""Headline bench queries (BASELINE.md §3) — these six are measured per-round
against the DuckDB baseline and double as correctness entries.

Scale notes: nation/region are broadcast (fixed 25/5 rows at any SF); the
lineitem⋈orders⋈customer joins shuffle on their keys with AQE handling skew;
aggregations are partial+final hash aggs (map-side combine) automatically.

Builders are single plain-string `spark.sql()` calls over temp views kept
current by tables.ensure_views (re-registered only when sf_dir changes): one
py4j round-trip with NO plan serialization. Measured per-call build cost:
plain-SQL-on-views ~21 ms vs DataFrame-template ~36 ms vs per-Column chatter
~50-120 ms (docs/BENCH_NOTES.md "Round 4") — pure Python-side overhead the
oracle engine does not pay. A view resolves at analysis time, so a built
DataFrame is immune to later re-registration. Semantics and plan shape are
identical to the Column form (same aliases, same dsum scaled-long spelling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ksql_spark.registry import query, sql_davg, sql_dsum
from ksql_spark.tables import ensure_views

# Spark-dialect spelling of registry.dsum/davg (cast double->long truncates
# toward zero in both engines; see registry.py determinism notes).
def _sp_dsum(expr: str) -> str:
    return (f"CAST(SUM(CAST(({expr}) * 1000000.0 + 0.5 AS BIGINT)) AS DOUBLE)"
            " / 1000000.0")

def _sp_davg(expr: str) -> str:
    return f"({_sp_dsum(expr)}) / COUNT({expr})"


@query(
    "q_filter_count",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    WHERE l_quantity > 25 AND l_discount BETWEEN 0.02 AND 0.06
    """,
    ref="SURVEY §2 B6/B10/D1; reference analog README.md:21 (count+filter)",
)
def q_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + global count. Predicates push down to the parquet scan."""
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COUNT(*) AS cnt
        FROM lineitem
        WHERE l_quantity > 25 AND l_discount BETWEEN 0.02 AND 0.06
        """
    )


@query(
    "q_groupby_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    ref="SURVEY §2 D3/D4; reference analog README.md:26 (group-by + count)",
)
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style 2-key hash aggregation (partial+final agg, no sort needed)."""
    ensure_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {_sp_dsum('l_quantity')} AS sum_qty,
               {_sp_dsum('l_extendedprice')} AS sum_base_price,
               {_sp_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {_sp_davg('l_quantity')} AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "q_join3_topk",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    LIMIT 10
    """,
    ref="SURVEY §2 C1/D3/F5; reference analog README.md:30 (join USING + project)",
)
def q_join3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: 3-way join → agg → top-10.

    nation is hint-broadcast (25 rows at every SF). lineitem⋈orders shuffles
    on orderkey at scale; at sf0.1 the optimizer's size estimates broadcast
    orders/customer too (statically, or via AQE when on). Final top-10 is
    TakeOrderedAndProject (no full sort).
    """
    ensure_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(nation) */ n_name,
               {_sp_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS line_count
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
        LIMIT 10
        """
    )


@query(
    "q_window",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT c_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rnk <= 3
    """,
    ref="SURVEY §2 E1/E5 (rank per group, top-3 filter)",
)
def q_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price. row_number over (custkey, price desc)
    with o_orderkey tie-break for determinism (SURVEY §5.2)."""
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey, o_totalprice, rnk FROM (
            SELECT c_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rnk <= 3
        """
    )


@query(
    "q_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    ref="SURVEY §2 D10 (ROLLUP)",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority) counts — hierarchy totals incl. grand total."""
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """
    )


@query(
    "q_events_session",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_ts, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY hour_ts, user_id
    """,
    ref="SURVEY §2 I2 batch form (hourly per-user event agg)",
)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user aggregation over the events table (batch form of the
    tumbling-window streaming agg; same expression works under readStream)."""
    ensure_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT date_trunc('hour', ts) AS hour_ts, user_id,
               COUNT(*) AS n_events,
               {_sp_dsum('value')} AS sum_value
        FROM events
        GROUP BY hour_ts, user_id
        """
    )
