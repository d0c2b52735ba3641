"""Unit tests for the `->` rewriter (pure function — no Spark needed).

SURVEY §7 "hard parts" (1): quote/comment-safety and schema-aware dispatch.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ksql_spark.compat.rewriter import (
    RewriteError,
    Rewriter,
    compat_top,
    compat_using,
)
from ksql_spark.sources.k8s import SCHEMAS

PODS = StructType(
    [
        StructField("uid", StringType()),
        StructField(
            "metadata",
            StructType(
                [
                    StructField("name", StringType()),
                    StructField("annotations", MapType(StringType(), StringType())),
                ]
            ),
        ),
        StructField(
            "spec",
            StructType(
                [
                    StructField(
                        "containers",
                        ArrayType(
                            StructType(
                                [
                                    StructField("image", StringType()),
                                    StructField("ports", ArrayType(IntegerType())),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
        StructField("raw", StringType()),
    ]
)

EVENTS = StructType([StructField("props", StringType())])

RW = Rewriter({"pods": PODS, "events": EVENTS})
RW_COMPAT = Rewriter({"pods": PODS}, truthiness_compat=True)


def test_struct_field():
    assert (
        RW.rewrite("select pods.metadata->name from pods")
        == "select pods.metadata.name from pods"
    )


def test_map_key():
    assert (
        RW.rewrite("select pods.metadata->annotations->email from pods")
        == "select element_at(pods.metadata.annotations, 'email') from pods"
    )


def test_bare_column_resolution():
    assert (
        RW.rewrite("select metadata->name from pods")
        == "select metadata.name from pods"
    )
    # pods, nodes and services all have `metadata`: a bare root resolves
    # against the views the statement names after FROM/JOIN (AlaSQL's
    # scoping), and is an error when several do — passed through, Spark
    # would parse the `->` as a lambda
    rw3 = Rewriter({"pods": PODS, "nodes": PODS, "services": PODS})
    assert (
        rw3.rewrite("select metadata->name from pods")
        == "select metadata.name from pods"
    )
    sql = "select metadata->name from pods join nodes on pods.uid = nodes.uid"
    with pytest.raises(RewriteError, match="ambiguous column path 'metadata'"):
        rw3.rewrite(sql)
    k8s = Rewriter(SCHEMAS)
    with pytest.raises(RewriteError, match="nodes, pods"):
        k8s.rewrite(
            "select metadata->name from pods join nodes on pods.node = nodes.name"
        )
    lam = "select transform(array(1,2), x -> x + 1) from pods join nodes"
    assert k8s.rewrite(lam) == lam


def test_array_index_then_field():
    assert (
        RW.rewrite("select spec->containers->(0)->image from pods")
        == "select spec.containers[0].image from pods"
    )


def test_nested_array_index():
    assert (
        RW.rewrite("select spec->containers->(1)->ports->(2) from pods")
        == "select spec.containers[1].ports[2] from pods"
    )


def test_json_string_escape_hatch():
    assert (
        RW.rewrite("select props->k from events")
        == "select get_json_object(props, '$.k') from events"
    )
    assert (
        RW.rewrite("select raw->status->conditions->(0)->type from pods")
        == "select get_json_object(raw, '$.status.conditions[0].type') from pods"
    )


def test_arrow_inside_string_untouched():
    sql = "select '->' as lit, pods.metadata->name from pods -- a->b comment"
    assert (
        RW.rewrite(sql)
        == "select '->' as lit, pods.metadata.name from pods -- a->b comment"
    )


def test_no_arrow_roundtrip():
    sql = "SELECT a.b, count(*) FROM t WHERE x = 'y' GROUP BY a.b"
    assert RW.rewrite(sql) == sql


def test_whitespace_around_arrow():
    assert (
        RW.rewrite("select pods.metadata -> name from pods")
        == "select pods.metadata.name from pods"
    )


def test_alias_prefix_fallback():
    # p is not a view; metadata.annotations resolves uniquely → alias kept
    assert (
        RW.rewrite("select p.metadata->annotations->email from pods p")
        == "select element_at(p.metadata.annotations, 'email') from pods p"
    )


def test_unresolvable_passes_through():
    # lambda syntax and unknown paths fall through verbatim — Spark SQL owns
    # the diagnosis (lambdas are VALID Spark SQL and must survive the rewrite)
    sql = "select transform(array(1,2), x -> x * 2) from pods"
    assert RW.rewrite(sql) == sql
    sql2 = "select nosuch->field from pods"
    assert RW.rewrite(sql2) == sql2


def test_alias_fallback_with_shared_field():
    # pods/nodes/services ALL have metadata of the same type in the real REPL;
    # an alias prefix must still resolve when every candidate type agrees
    nodes = PODS  # same schema → same types for the shared fields
    rw = Rewriter({"pods": PODS, "nodes": nodes})
    assert (
        rw.rewrite("select p.metadata->name from pods p")
        == "select p.metadata.name from pods p"
    )


def test_truthiness_not_guarded_by_comparison():
    # NOT (path = 'x') must NOT be rewritten — the chain isn't the whole operand
    sql = "select uid from pods where not pods.metadata->name = 'pod-1'"
    out = RW_COMPAT.rewrite(sql)
    assert "not pods.metadata.name = 'pod-1'" in out


def test_truthiness_applies_before_and():
    out = RW_COMPAT.rewrite(
        "select uid from pods where not pods.metadata->annotations->email and uid = 'x'"
    )
    assert "IS NULL OR" in out and " and uid = 'x'" in out


def test_compat_top_skips_union():
    sql = "select top 5 a from t union all select b from u"
    assert compat_top(sql) == sql


def test_truthiness_not_rewrite():
    out = RW_COMPAT.rewrite(
        "select uid from pods where not pods.metadata->annotations->email"
    )
    assert (
        "(element_at(pods.metadata.annotations, 'email') IS NULL "
        "OR element_at(pods.metadata.annotations, 'email') = '')" in out
    )
    assert "not" not in out.lower().replace("annotations", "")


def test_truthiness_off_by_default():
    out = RW.rewrite("select uid from pods where not pods.metadata->annotations->email")
    assert out.startswith("select uid from pods where not ")


def test_dynamic_string_key():
    assert (
        RW.rewrite("select pods.metadata->annotations->('email') from pods")
        == "select element_at(pods.metadata.annotations, 'email') from pods"
    )


def test_dynamic_key_quote_escaped():
    out = RW.rewrite("select pods.metadata->annotations->('it''s') from pods")
    assert "element_at(pods.metadata.annotations, 'it''s')" in out


def test_compat_using_leaves_ddl_alone():
    ddl = "CREATE TABLE t (id BIGINT) USING PARQUET LOCATION '/tmp/t'"
    assert compat_using(ddl) == ddl


def test_compat_top_survives_trailing_comment():
    out = compat_top("select top 3 a from t -- note")
    assert out.endswith("\nLIMIT 3")
    assert "-- note" in out


def test_compat_top_skips_cte():
    sql = "with c as (select top 5 a from t) select * from c"
    assert compat_top(sql) == sql


def test_compat_top():
    assert (
        compat_top("select top 5 a from t where x")
        == "select  a from t where x\nLIMIT 5"
    )
    assert compat_top("select a from t") == "select a from t"
    assert compat_top("select 'top 5' from t") == "select 'top 5' from t"
    assert compat_top("select topical from t") == "select topical from t"


def test_compat_using():
    assert (
        compat_using("select * from a join b using uid where x")
        == "select * from a join b using (uid) where x"
    )
    assert compat_using("select * from a join b using (uid)") == (
        "select * from a join b using (uid)"
    )
    assert compat_using("select 'using uid'") == "select 'using uid'"


def test_compat_top_skips_existing_limit():
    # two LIMIT clauses would otherwise confuse the user with rewritten SQL
    sql = "SELECT TOP 3 * FROM t LIMIT 5"
    assert compat_top(sql) == sql


def test_compat_top_skips_existing_offset():
    sql = "select top 3 a from t limit 5 offset 2"
    assert compat_top(sql) == sql


def test_compat_top_rewrites_past_subquery_limit():
    out = compat_top("select top 3 a from (select a from t limit 9) s")
    assert out.endswith("\nLIMIT 3")


def test_into_file_semicolon_tolerated():
    from ksql_spark.compat.rewriter import split_into_file

    q, fmt, path = split_into_file("select * from t INTO CSV('out');")
    assert (fmt, path) == ("csv", "out")
    assert q.rstrip() == "select * from t"


def test_into_file_ignored_in_comments():
    from ksql_spark.compat.rewriter import split_into_file

    # a commented-out export must never trigger an overwrite write
    q, fmt, path = split_into_file("select 1 -- INTO CSV('x')")
    assert fmt is None and q == "select 1 -- INTO CSV('x')"


def test_compat_qualify_alias_predicate():
    from ksql_spark.compat.rewriter import compat_qualify

    out = compat_qualify(
        "SELECT user_id, count(*) AS n FROM events GROUP BY user_id "
        "QUALIFY n > 3 ORDER BY user_id LIMIT 5"
    )
    assert out.startswith("SELECT * FROM (")
    assert "WHERE n > 3" in out
    assert out.rstrip().endswith("ORDER BY user_id LIMIT 5")
    assert "QUALIFY" not in out.upper()


def test_compat_qualify_inline_window_hoisted():
    from ksql_spark.compat.rewriter import compat_qualify

    out = compat_qualify(
        "SELECT user_id, ts FROM events "
        "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1"
    )
    assert out.startswith("SELECT * EXCEPT (__qualify) FROM (")
    assert "AS __qualify" in out
    assert "WHERE __qualify" in out


def test_compat_qualify_passthrough():
    from ksql_spark.compat.rewriter import compat_qualify

    for sql in (
        "SELECT 1",
        "SELECT DISTINCT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1",
        "SELECT a FROM t UNION ALL SELECT a FROM u",
        "WITH x AS (SELECT 1) SELECT * FROM x",
        "CREATE TABLE t (a INT)",
    ):
        assert compat_qualify(sql) == sql


def test_compat_qualify_end_to_end_matches_duckdb(spark, duck):
    """The rewritten QUALIFY query in Spark must return exactly what DuckDB
    returns running the ORIGINAL text natively (its own QUALIFY support)."""
    from ksql_spark.compat.rewriter import compat_qualify

    from .conftest import SF_DIR, assert_results_match, duck_result, spark_result

    q = (
        "SELECT user_id, event_id "
        "FROM events "
        "QUALIFY row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) = 1 "
        "ORDER BY user_id NULLS LAST LIMIT 50"
    )
    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    sres = spark_result(spark.sql(compat_qualify(q)))
    dres = duck_result(duck, q)
    assert_results_match(sres, dres, name="compat_qualify_e2e")
    spark.catalog.dropTempView("events")


def test_compat_qualify_bare_identifier_passthrough():
    """'qualify' is not reserved in Spark: as a column, alias, or reference
    it must pass through untouched — only clause position rewrites."""
    from ksql_spark.compat.rewriter import compat_qualify

    for sql in (
        "SELECT a, qualify FROM t",
        "SELECT qualify FROM t",
        "SELECT t.qualify FROM t",
        "SELECT a AS qualify FROM t",
        "SELECT a FROM t WHERE qualify = 1",
        "SELECT a FROM t WHERE x = qualify",
    ):
        assert compat_qualify(sql) == sql, sql


def test_compat_qualify_comment_safe_splices(spark, duck):
    """A trailing -- comment in the select list or before QUALIFY must not
    swallow the spliced SQL: every splice starts a new line, and the result
    still matches DuckDB running the original text."""
    from ksql_spark.compat.rewriter import compat_qualify

    from .conftest import SF_DIR, assert_results_match, duck_result, spark_result

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    q = (
        "SELECT user_id, event_id -- first per user\n"
        "FROM events "
        "QUALIFY row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) = 1"
    )
    assert_results_match(
        spark_result(spark.sql(compat_qualify(q))),
        duck_result(duck, q),
        name="qualify_comment",
    )
    spark.catalog.dropTempView("events")


def test_compat_qualify_alias_in_window_passthrough():
    """A select-list alias referenced INSIDE the predicate's OVER() is
    legal in DuckDB but LATERAL_COLUMN_ALIAS_IN_WINDOW in Spark — the
    rewriter must pass it through so the user sees an error on their own
    text, never one naming __qualify."""
    from ksql_spark.compat.rewriter import compat_qualify

    s = (
        "SELECT user_id, count(*) AS n FROM t GROUP BY user_id "
        "QUALIFY row_number() OVER (ORDER BY n DESC) = 1"
    )
    assert compat_qualify(s) == s


def test_compat_qualify_bare_alias_in_window_passthrough():
    """Same guard for BARE aliases (no AS): `count(*) n` is an alias too,
    and referencing it inside the predicate's OVER() must pass through
    (ADVICE r5)."""
    from ksql_spark.compat.rewriter import compat_qualify

    for s in (
        "SELECT user_id, count(*) n FROM t GROUP BY user_id "
        "QUALIFY row_number() OVER (ORDER BY n DESC) = 1",
        "SELECT user_id, sum(x) total FROM t GROUP BY user_id "
        "QUALIFY rank() OVER (ORDER BY total) = 1",
        "SELECT a, b cnt FROM t "
        "QUALIFY row_number() OVER (PARTITION BY cnt ORDER BY a) = 1",
    ):
        assert compat_qualify(s) == s, s


def test_compat_qualify_bare_alias_rewrite_still_fires():
    """Bare-alias collection must not over-trigger: a windowed predicate
    that references only real columns still rewrites."""
    from ksql_spark.compat.rewriter import compat_qualify

    s = (
        "SELECT user_id, count(*) n FROM t GROUP BY user_id "
        "QUALIFY row_number() OVER (ORDER BY user_id) = 1"
    )
    out = compat_qualify(s)
    assert out != s and "__qualify" in out


def test_compat_qualify_table_alias_before_join_passthrough():
    """`FROM t qualify JOIN u ...` — qualify as a bare TABLE alias followed
    by a join clause (valid Spark SQL) must pass through (ADVICE r5)."""
    from ksql_spark.compat.rewriter import compat_qualify

    for sql in (
        "SELECT a FROM t qualify JOIN u ON qualify.x = u.x",
        "SELECT a FROM t qualify LEFT JOIN u ON qualify.x = u.x",
        "SELECT a FROM t qualify RIGHT JOIN u ON qualify.x = u.x",
        "SELECT a FROM t qualify INNER JOIN u ON qualify.x = u.x",
        "SELECT a FROM t qualify FULL JOIN u ON qualify.x = u.x",
        "SELECT a FROM t qualify CROSS JOIN u",
        "SELECT a FROM t qualify NATURAL JOIN u",
        "SELECT a FROM t JOIN u qualify ON t.x = qualify.x",
        "SELECT a FROM t JOIN u qualify USING (x)",
    ):
        assert compat_qualify(sql) == sql, sql
    # ...but LEFT/RIGHT as STRING FUNCTIONS still begin a predicate
    s = "SELECT a, b FROM t QUALIFY LEFT(b, 1) = 'x'"
    out = compat_qualify(s)
    assert out != s and "WHERE LEFT(b, 1) = 'x'" in out


def test_parse_copy_to_grammar():
    from ksql_spark.compat.rewriter import parse_copy_to

    # table source, defaults
    src, path, spec = parse_copy_to("COPY documents TO '/x/y' (SHARD BY doc_id)")
    assert src == "SELECT * FROM documents" and path == "/x/y"
    assert spec == {"mode": "shard", "key": "doc_id", "n_shards": 16,
                    "overwrite": False}
    # qualified table name
    src, _, _ = parse_copy_to("COPY db.t TO '/x' (SHARD BY k)")
    assert src == "SELECT * FROM db.t"
    # parenthesized query whose body contains the keyword TO and a
    # quoted string — the depth-0 scan must skip both
    src, path, spec = parse_copy_to(
        "COPY (SELECT a, 'TO ''x''' AS s FROM t WHERE b TO 3) "
        "TO '/out dir/z' (ZORDER BY a, b);"
    )
    assert src.startswith("SELECT a,") and path == "/out dir/z"
    assert spec == {"mode": "zorder", "dim_x": "a", "dim_y": "b",
                    "n_files": 64, "bits": 12, "overwrite": False}
    # explicit OVERWRITE (ADVICE r9: required to replace a non-empty target)
    _, _, spec = parse_copy_to(
        "COPY t TO '/x' (SHARD BY k, SHARDS 4, OVERWRITE)"
    )
    assert spec["overwrite"] is True and spec["n_shards"] == 4
    _, _, spec = parse_copy_to(
        "COPY t TO '/x' (ZORDER BY a, b, FILES 2, BITS 6, OVERWRITE)"
    )
    assert spec["overwrite"] is True and spec["n_files"] == 2
    # escaped quote in the path
    _, path, _ = parse_copy_to("COPY t TO '/it''s/here' (SHARD BY k, SHARDS 4)")
    assert path == "/it's/here"
    # non-COPY statements fall through as None
    assert parse_copy_to("SELECT 1") is None
    assert parse_copy_to("  -- COPY t TO '/x' (SHARD BY k)") is None
    # comment guard: ANY comment disables the COPY interpretation
    assert parse_copy_to("COPY t TO '/x' (SHARD BY k) -- boom") is None
    # malformed COPYs are loud
    for bad in (
        "COPY t TO '/x' (FROB BY k)",
        "COPY t TO missing_quotes (SHARD BY k)",
        "COPY TO '/x' (SHARD BY k)",
        "COPY t '/x' (SHARD BY k)",
        "COPY 1+1 TO '/x' (SHARD BY k)",
        "COPY t TO '/x' (ZORDER BY a)",
    ):
        with pytest.raises(ValueError):
            parse_copy_to(bad)
