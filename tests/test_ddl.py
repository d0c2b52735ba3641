"""SURVEY §2 A11 (CREATE TABLE DDL) + A13 (DML).

The reference declares advisory-typed tables (ksql.js:130-135) and never uses
row DML; Spark SQL gives real typed DDL + INSERT on catalog tables. UPDATE/
DELETE need a v2 writable format (e.g. Delta) — documented out of scope
(SURVEY §2 A13), asserted here as the expected failure mode.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def warehouse_table(spark, tmp_path):
    name = "ddl_demo"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (id BIGINT, label STRING, score DOUBLE) "
        f"USING PARQUET LOCATION '{tmp_path}/ddl_demo'"
    )
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_create_insert_select(spark, warehouse_table):
    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    spark.sql(f"INSERT INTO {t} SELECT 3, 'c', 2.5")
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 0.5), (2, "b", 1.5), (3, "c", 2.5)]


def test_insert_overwrite(spark, warehouse_table):
    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    spark.sql(f"INSERT OVERWRITE TABLE {t} VALUES (9, 'z', 9.9)")
    rows = [tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect()]
    assert rows == [(9, "z", 9.9)]


def test_update_needs_v2_format(spark, warehouse_table):
    # row-level UPDATE on a v1 parquet table is unsupported — the documented
    # A13 boundary (snapshot model; Delta would lift it)
    with pytest.raises(Exception):
        spark.sql(f"UPDATE {warehouse_table} SET score = 0 WHERE id = 1")


def test_update_copy_on_write(spark, warehouse_table):
    from ksql_spark.dml import update_table

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'c', 2.5)")
    n = update_table(spark, t, {"score": "score * 10"}, where="id >= 2")
    assert n == 2
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 0.5), (2, "b", 15.0), (3, "c", 25.0)]


def test_update_multiple_assignments_all_rows(spark, warehouse_table):
    from ksql_spark.dml import update_table

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    n = update_table(spark, t, {"label": "upper(label)", "score": "0.0"})
    assert n == 2
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "A", 0.0), (2, "B", 0.0)]


def test_delete_copy_on_write(spark, warehouse_table):
    from ksql_spark.dml import delete_from

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'c', 2.5)")
    n = delete_from(spark, t, "score > 1.0")
    assert n == 2
    rows = [tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect()]
    assert rows == [(1, "a", 0.5)]


def test_dml_snapshot_swap_cleans_old_dir(spark, warehouse_table, tmp_path):
    from ksql_spark.dml import _table_location, delete_from

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    before = _table_location(spark, t)
    delete_from(spark, t, "id = 999")  # no-op delete still swaps atomically
    after = _table_location(spark, t)
    assert after != before and not before.exists()
    assert spark.sql(f"SELECT count(*) c FROM {t}").collect()[0].c == 1


def test_repeated_updates_keep_location_name_length(spark, warehouse_table):
    # each copy-on-write swap renames the table directory; past ~18 writes an
    # appended tag would exceed NAME_MAX (255)
    from ksql_spark.dml import _table_location, update_table

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    update_table(spark, t, {"score": "score + 1"}, where="id = 1")
    first = _table_location(spark, t).name
    for _ in range(39):
        update_table(spark, t, {"score": "score + 1"}, where="id = 1")
        assert len(_table_location(spark, t).name) == len(first)
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 40.5), (2, "b", 1.5)]


def test_run_dml_update_statement(spark, warehouse_table):
    from ksql_spark.dml import run_dml

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'x, where', 1.5)")
    # quoted comma + WHERE keyword inside a string must not confuse the parser
    n = run_dml(
        spark,
        f"UPDATE {t} SET label = 'x, where', score = score + 1 WHERE id = 1",
    )
    assert n == 1
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "x, where", 1.5), (2, "x, where", 1.5)]


def test_run_dml_delete_statement(spark, warehouse_table):
    from ksql_spark.dml import run_dml

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    assert run_dml(spark, f"DELETE FROM {t} WHERE id = 2;") == 1
    assert run_dml(spark, f"DELETE FROM {t}") == 1
    assert spark.sql(f"SELECT count(*) c FROM {t}").collect()[0].c == 0


def test_run_dml_passthrough_for_select(spark):
    from ksql_spark.dml import run_dml

    assert run_dml(spark, "SELECT 1") is None
    assert run_dml(spark, "  select update_time from t") is None


def test_merge_into_upsert(spark, warehouse_table):
    from ksql_spark.dml import merge_into

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    source = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "id long, label string, score double"
    )
    n_up, n_ins = merge_into(
        spark, t, source, on=["id"],
        when_matched_update={"label": "src.label", "score": "src.score"},
    )
    assert (n_up, n_ins) == (1, 1)
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 0.5), (2, "B", 20.0), (3, "c", 3.0)]


def test_merge_set_string_literal_not_mangled(spark, warehouse_table):
    # ADVICE r02: src.<col> inside a string LITERAL must survive verbatim —
    # only identifier positions outside quotes are rewritten to src_<col>
    from ksql_spark.dml import _sub_src_cols, merge_into

    assert _sub_src_cols("src.label") == "src_label"
    assert _sub_src_cols("'src.label'") == "'src.label'"
    assert (
        _sub_src_cols("concat(src.label, ' src.x ', \"src.y\")")
        == "concat(src_label, ' src.x ', \"src.y\")"
    )
    assert _sub_src_cols("'it''s src.a' || src.b") == "'it''s src.a' || src_b"

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    source = spark.createDataFrame([(1, "B", 2.0)], "id long, label string, score double")
    n_up, _ = merge_into(
        spark, t, source, on=["id"],
        when_matched_update={"label": "'src.note'"},
        when_not_matched_insert=False,
    )
    assert n_up == 1
    assert spark.sql(f"SELECT label FROM {t}").collect()[0][0] == "src.note"


def test_merge_into_insert_only(spark, warehouse_table):
    from ksql_spark.dml import merge_into

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    source = spark.createDataFrame(
        [(1, "ignored", 0.0), (9, "z", 9.0)], "id long, label string, score double"
    )
    n_up, n_ins = merge_into(spark, t, source, on=["id"])
    assert (n_up, n_ins) == (0, 1)
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 0.5), (9, "z", 9.0)]


def test_run_dml_escaped_and_double_quotes(spark, warehouse_table):
    from ksql_spark.dml import run_dml

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    assert run_dml(spark, f"UPDATE {t} SET label = 'it''s, ok' WHERE id = 1") == 1
    assert spark.sql(f"SELECT label FROM {t}").collect()[0].label == "it's, ok"
    assert run_dml(spark, f'UPDATE {t} SET label = "x, where y" WHERE id = 1') == 1
    assert spark.sql(f"SELECT label FROM {t}").collect()[0].label == "x, where y"


def test_update_unknown_column_errors(spark, warehouse_table):
    from ksql_spark.dml import update_table

    spark.sql(f"INSERT INTO {warehouse_table} VALUES (1, 'a', 0.5)")
    with pytest.raises(ValueError, match="unknown column"):
        update_table(spark, warehouse_table, {"scre": "0"})


def test_merge_duplicate_source_keys_rejected(spark, warehouse_table):
    from ksql_spark.dml import merge_into

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    source = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0)], "id long, label string, score double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, t, source, on=["id"],
                   when_matched_update={"score": "src.score"})


def test_merge_update_only_with_narrow_source(spark, warehouse_table):
    from ksql_spark.dml import merge_into

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    # source carries only the key + one column; plain target names and
    # src.<col> both resolve in assignment expressions
    source = spark.createDataFrame([(1, 10.0)], "id long, score double")
    n_up, n_ins = merge_into(
        spark, t, source, on=["id"],
        when_matched_update={"score": "score + src.score"},
        when_not_matched_insert=False,
    )
    assert (n_up, n_ins) == (1, 0)
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 10.5), (2, "b", 1.5)]


def test_http_run_query_dml(spark, warehouse_table):
    from ksql_spark.http_api import run_query
    from ksql_spark.repl import make_rewriter

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    rw = make_rewriter(spark, False)
    stmt = f"DELETE FROM {t} WHERE id = 1"
    # default server is read-only: DML must be an explicit opt-in (ADVICE r02)
    with pytest.raises(PermissionError):
        run_query(spark, rw, stmt)
    res = run_query(spark, rw, stmt, allow_dml=True)
    assert res == {"headers": ["rows_affected"], "data": [[1]]}
    assert spark.sql(f"SELECT count(*) c FROM {t}").collect()[0].c == 1


@pytest.fixture()
def partitioned_table(spark, tmp_path):
    name = "ddl_part"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (id BIGINT, score DOUBLE, day STRING) "
        f"USING PARQUET PARTITIONED BY (day) "
        f"LOCATION '{tmp_path}/ddl_part'"
    )
    spark.sql(
        f"INSERT INTO {name} VALUES "
        "(1, 0.5, 'mon'), (2, 1.5, 'mon'), (3, 2.5, 'tue'), (4, 3.5, 'wed')"
    )
    yield name, tmp_path / "ddl_part"
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _partition_files(loc, part):
    return sorted(
        (p.name, p.stat().st_mtime_ns)
        for p in (loc / part).glob("*.parquet")
    )


def test_partitioned_update_rewrites_only_affected(spark, partitioned_table):
    from ksql_spark.dml import update_table

    t, loc = partitioned_table
    tue_before = _partition_files(loc, "day=tue")
    wed_before = _partition_files(loc, "day=wed")
    n = update_table(spark, t, {"score": "score * 10"}, where="id = 1")
    assert n == 1
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT id, score FROM {t}").collect())
    assert rows == [(1, 5.0), (2, 1.5), (3, 2.5), (4, 3.5)]
    # untouched partitions' files are bit-identical (same names, same mtimes)
    assert _partition_files(loc, "day=tue") == tue_before
    assert _partition_files(loc, "day=wed") == wed_before
    assert (loc / "day=mon").exists()


def test_partitioned_delete_drops_emptied_partition(spark, partitioned_table):
    from ksql_spark.dml import delete_from

    t, loc = partitioned_table
    mon_before = _partition_files(loc, "day=mon")
    # deletes ALL of tue (partition dropped) and half of... no — wed has one
    # row; delete tue entirely and one of mon's two rows
    n = delete_from(spark, t, "id = 3 OR id = 1")
    assert n == 2
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT id, day FROM {t}").collect())
    assert rows == [(2, "mon"), (4, "wed")]
    assert not (loc / "day=tue").exists() or not list((loc / "day=tue").glob("*.parquet"))
    assert _partition_files(loc, "day=mon") != mon_before  # mon was rewritten


def test_partitioned_update_touching_partition_col_full_swap(spark, partitioned_table):
    from ksql_spark.dml import update_table

    t, _ = partitioned_table
    # moving rows across partitions falls back to the full snapshot swap
    n = update_table(spark, t, {"day": "'thu'"}, where="id = 4")
    assert n == 1
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT id, day FROM {t}").collect())
    assert rows == [(1, "mon"), (2, "mon"), (3, "tue"), (4, "thu")]


def test_run_dml_merge_statement(spark, warehouse_table):
    from ksql_spark.dml import run_dml

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "id long, label string, score double"
    ).createOrReplaceTempView("merge_src")
    n = run_dml(
        spark,
        f"MERGE INTO {t} USING merge_src ON {t}.id = merge_src.id "
        "WHEN MATCHED THEN UPDATE SET label = src.label, score = src.score "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert n == 2  # 1 updated + 1 inserted
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect())
    assert rows == [(1, "a", 0.5), (2, "B", 20.0), (3, "c", 3.0)]


def test_run_dml_merge_update_only(spark, warehouse_table):
    from ksql_spark.dml import run_dml

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    spark.createDataFrame(
        [(1, 9.0), (7, 7.0)], "id long, score double"
    ).createOrReplaceTempView("merge_src2")
    n = run_dml(
        spark,
        f"MERGE INTO {t} USING merge_src2 ON (id) "
        "WHEN MATCHED THEN UPDATE SET score = src.score",
    )
    assert n == 1  # update only, no insert clause
    rows = [tuple(r) for r in spark.sql(f"SELECT * FROM {t}").collect()]
    assert rows == [(1, "a", 9.0)]


def test_partitioned_merge_prunes_and_preserves(spark, partitioned_table):
    from ksql_spark.dml import merge_into

    t, loc = partitioned_table
    wed_before = _partition_files(loc, "day=wed")
    # update a mon row; insert into EXISTING tue (its rows must survive) and
    # into a brand-new thu partition
    source = spark.createDataFrame(
        [(1, 50.0, "mon"), (9, 9.0, "tue"), (10, 10.0, "thu")],
        "id long, score double, day string",
    )
    n_up, n_ins = merge_into(
        spark, t, source, on=["id"],
        when_matched_update={"score": "src.score"},
    )
    assert (n_up, n_ins) == (1, 2)
    rows = sorted(tuple(r) for r in spark.sql(f"SELECT id, score, day FROM {t}").collect())
    assert rows == [
        (1, 50.0, "mon"), (2, 1.5, "mon"), (3, 2.5, "tue"),
        (4, 3.5, "wed"), (9, 9.0, "tue"), (10, 10.0, "thu"),
    ]
    # wed had no matched rows and no inserts — untouched files
    assert _partition_files(loc, "day=wed") == wed_before
    assert (loc / "day=thu").exists()


def test_partitioned_delete_date_partition_values(spark, tmp_path):
    """DATE partition values must render as DATE '...' in the DROP PARTITION
    spec — unquoted 2024-01-02 parses as arithmetic (review regression)."""
    from ksql_spark.dml import delete_from

    name = "ddl_datepart"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (id BIGINT, day DATE) USING PARQUET "
        f"PARTITIONED BY (day) LOCATION '{tmp_path}/ddl_datepart'"
    )
    try:
        spark.sql(
            f"INSERT INTO {name} VALUES "
            "(1, DATE '2024-01-01'), (2, DATE '2024-01-02')"
        )
        n = delete_from(spark, name, "id = 2")  # empties the 01-02 partition
        assert n == 1
        rows = [tuple(r) for r in spark.sql(f"SELECT id FROM {name}").collect()]
        assert rows == [(1,)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_merge_unknown_set_column_errors(spark, warehouse_table):
    from ksql_spark.dml import merge_into

    t = warehouse_table
    spark.sql(f"INSERT INTO {t} VALUES (1, 'a', 0.5)")
    source = spark.createDataFrame([(1, 9.0)], "id long, score double")
    with pytest.raises(ValueError, match="unknown SET column"):
        merge_into(spark, t, source, on=["id"],
                   when_matched_update={"scor": "src.score"})


def test_partitioned_merge_insert_only_skips_matched_partitions(
    spark, partitioned_table
):
    """With no update clause, matched partitions must NOT be rewritten —
    only insert partitions change (review regression: no-op near-full
    rewrite on broad key overlap)."""
    from ksql_spark.dml import merge_into

    t, loc = partitioned_table
    mon_before = _partition_files(loc, "day=mon")
    source = spark.createDataFrame(
        [(1, 99.0, "mon"), (10, 10.0, "thu")],  # id=1 matches, id=10 inserts
        "id long, score double, day string",
    )
    n_up, n_ins = merge_into(spark, t, source, on=["id"])
    assert (n_up, n_ins) == (0, 1)
    assert _partition_files(loc, "day=mon") == mon_before  # untouched
    assert (loc / "day=thu").exists()


def test_concurrent_dml_is_serialized(spark, warehouse_table):
    """N threads of UPDATE statements on the same table must all land: the
    writer lock serializes the copy-on-write swaps, so no increment is lost
    and no reader sees a dropped snapshot dir (the threaded-HTTP race)."""
    import threading

    from ksql_spark.dml import run_dml

    spark.sql(
        f"INSERT INTO {warehouse_table} VALUES (1, 'a', 0.0), (2, 'b', 0.0)"
    )
    errors: list[Exception] = []

    def bump(i: int) -> None:
        try:
            run_dml(
                spark,
                f"UPDATE {warehouse_table} SET score = score + 1 WHERE id = 1",
            )
        except Exception as exc:  # noqa: BLE001 - collected for the assert
            errors.append(exc)

    threads = [threading.Thread(target=bump, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    rows = {
        r.id: r.score
        for r in spark.sql(f"SELECT id, score FROM {warehouse_table}").collect()
    }
    assert rows == {1: 6.0, 2: 0.0}  # every one of the 6 bumps landed
