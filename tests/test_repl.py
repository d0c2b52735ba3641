"""REPL / HTTP API unit tests (no subprocess): handle_line semantics parity
with ksql.js:156-176, and run_query's {headers, data} shape (ksql.js:299-305).
"""

from __future__ import annotations

import pytest

from ksql_spark.compat.rewriter import Rewriter
from ksql_spark.http_api import run_query
from ksql_spark.repl import handle_line, make_rewriter
from ksql_spark.sources.k8s import register_k8s_views


@pytest.fixture(scope="module")
def rw(spark):
    register_k8s_views(spark)
    return make_rewriter(spark, truthiness=True)


def test_handle_line_renders_table(spark, rw, capsys):
    handle_line(spark, rw, "select count(*) from containers")
    out = capsys.readouterr().out
    assert "count(1)" in out and "39" in out


def test_handle_line_empty_result_marker(spark, rw, capsys):
    handle_line(spark, rw, "select uid from pods where uid = 'nope'")
    assert "[]" in capsys.readouterr().out  # ksql.js:160-162 parity


def test_handle_line_error_continues(spark, rw, capsys):
    handle_line(spark, rw, "select broken syntax")
    err = capsys.readouterr().err
    assert "error:" in err  # printed, not raised (ksql.js:172-174)


def test_handle_line_blank_noop(spark, rw, capsys):
    handle_line(spark, rw, "   ")
    assert capsys.readouterr().out == ""


def test_run_query_shape(spark, rw):
    res = run_query(spark, rw, "select top 3 uid from pods")
    assert res["headers"] == ["uid"]
    assert len(res["data"]) == 3
    assert all(isinstance(row, list) and len(row) == 1 for row in res["data"])


def test_run_query_arrow_and_using(spark, rw):
    res = run_query(
        spark, rw,
        "select pods.metadata->name,image from pods join containers using uid"
        " where image like 'mysql:5.5%'",
    )
    assert res["headers"] == ["name", "image"]
    assert all(img.startswith("mysql:5.5") for _, img in res["data"])


def test_run_query_duplicate_column_names(spark, rw):
    # Row[name] returns the FIRST field with a duplicated name; positional
    # access must preserve both columns' distinct values (ADVICE r01)
    res = run_query(
        spark, rw,
        "select a.uid as uid, b.uid as uid from pods a join pods b"
        " on a.uid <> b.uid where a.uid < b.uid",
    )
    assert res["headers"] == ["uid", "uid"]
    assert all(left != right for left, right in res["data"])


def test_completer_matches_views_and_columns(spark, rw):
    from ksql_spark.repl import install_completer

    install_completer(spark)
    import readline

    comp = readline.get_completer()
    got = set()
    i = 0
    while (m := comp("po", i)) is not None:
        got.add(m)
        i += 1
    assert "pods" in got
    assert comp("contai", 0) == "containers"
    assert comp("SELE", 0) == "SELECT"


def test_into_csv_export(spark, rw, tmp_path, capsys):
    from ksql_spark.repl import handle_line

    out = tmp_path / "export_csv"
    handle_line(
        spark, rw,
        f"select uid, image from containers where image like 'mysql%' "
        f"INTO CSV('{out}')",
    )
    assert "wrote csv" in capsys.readouterr().out
    back = spark.read.option("header", "true").csv(str(out))
    assert back.count() > 0
    assert set(back.columns) == {"uid", "image"}


def test_into_json_export(spark, rw, tmp_path, capsys):
    from ksql_spark.repl import handle_line

    out = tmp_path / "export_json"
    handle_line(spark, rw, f"select uid from pods INTO JSON('{out}')")
    assert "wrote json" in capsys.readouterr().out
    assert spark.read.json(str(out)).count() == 20


def test_into_jsonl_and_from_jsonl_roundtrip(spark, rw, tmp_path, capsys):
    """Round-6 JSONL surface: INTO JSONL writes JSON Lines (Spark's json
    writer), FROM JSONL reads it back — the training-corpus interchange
    format."""
    from ksql_spark.repl import handle_line

    out = tmp_path / "export_jsonl"
    handle_line(spark, rw, f"select uid, image from containers INTO JSONL('{out}')")
    assert "wrote jsonl" in capsys.readouterr().out
    raw = spark.read.text(str(out)).limit(1).collect()[0].value
    assert raw.lstrip().startswith("{")  # line-delimited objects, no array

    handle_line(spark, rw, f"select count(*) as n from JSONL('{out}')")
    assert str(spark.table("containers").count()) in capsys.readouterr().out


def test_from_json_array_document(spark, rw, tmp_path, capsys):
    """AlaSQL's JSON() source is a whole-document ARRAY — FROM JSON('f')
    must sniff that shape and emit one row per element, while still
    reading Spark-style JSONL files via the same keyword."""
    from ksql_spark.repl import handle_line

    arr = tmp_path / "doc.json"
    arr.write_text('[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}, {"a": 3, "b": "z"}]')
    handle_line(spark, rw, f"select count(*) as n from JSON('{arr}')")
    assert "3" in capsys.readouterr().out

    lines = tmp_path / "lines.json"
    lines.write_text('{"a": 1}\n{"a": 2}\n')
    handle_line(spark, rw, f"select count(*) as n from JSON('{lines}')")
    assert "2" in capsys.readouterr().out


def test_explain_analyze_prints_final_plan(spark, rw, capsys):
    """`.explain analyze` executes the query and prints the AQE final
    executed plan — join strategies as they actually ran."""
    from ksql_spark.repl import handle_line

    handle_line(
        spark, rw, ".explain analyze select count(*) as n from containers"
    )
    out = capsys.readouterr().out
    assert "HashAggregate" in out or "Aggregate" in out
    assert "== Initial Plan ==" not in out


def test_into_suffix_only_at_end():
    from ksql_spark.compat.rewriter import split_into_file

    q, fmt, path = split_into_file("select 'INTO CSV(''x'')' as s from t")
    assert fmt is None  # a string literal mentioning the syntax is untouched
    q, fmt, path = split_into_file("select * from t INTO CSV('a''b.csv')")
    assert (fmt, path) == ("csv", "a'b.csv")
    assert q.rstrip() == "select * from t"


def test_into_tab_export_and_from_tab_roundtrip(spark, rw, tmp_path, capsys):
    """AlaSQL TAB() = TSV, both directions: INTO TAB writes tab-separated
    with header; FROM TAB() reads it back as a table source."""
    from ksql_spark.repl import handle_line

    out = tmp_path / "export_tab"
    handle_line(spark, rw, f"select uid, image from containers INTO TAB('{out}')")
    assert "wrote tab" in capsys.readouterr().out
    raw = spark.read.text(str(out)).limit(1).collect()[0].value
    assert "\t" in raw  # genuinely tab-separated

    handle_line(spark, rw, f"select count(*) as n from TAB('{out}')")
    assert str(spark.table("containers").count()) in capsys.readouterr().out


def test_from_csv_file_source(spark, rw, tmp_path, capsys):
    from ksql_spark.repl import handle_line

    out = tmp_path / "src_csv"
    handle_line(spark, rw, f"select uid, image from containers INTO CSV('{out}')")
    capsys.readouterr()
    handle_line(
        spark, rw,
        f"select image, count(*) as n from CSV('{out}') group by image order by n desc",
    )
    assert "mysql" in capsys.readouterr().out


def test_from_file_not_matched_in_string_literal(spark, rw, capsys):
    """A literal containing FROM CSV('x') must not trigger a file read."""
    from ksql_spark.repl import handle_line

    handle_line(spark, rw, "select 'FROM CSV(''nope'')' as s from pods limit 1")
    got = capsys.readouterr()
    assert "error" not in got.err


def test_xlsx_roundtrip_through_repl(spark, rw, tmp_path, capsys):
    """INTO XLSX writes a real spreadsheet; FROM XLSX reads it back — the
    full AlaSQL file-format row, stdlib-only (sources/xlsx.py)."""
    from ksql_spark.repl import handle_line

    out = str(tmp_path / "book.xlsx")
    handle_line(
        spark, rw,
        f"select uid, restarts from containers order by uid limit 5 INTO XLSX('{out}')",
    )
    assert "wrote xlsx" in capsys.readouterr().out
    handle_line(
        spark, rw,
        f"select count(*) as n, min(restarts) as mn from XLSX('{out}')",
    )
    shown = capsys.readouterr().out
    assert "5" in shown and "error" not in shown


def test_xlsx_reader_handles_shared_strings(spark, rw, tmp_path):
    """Files written by other tools use a shared-string table (not inline
    strings) — the reader resolves both, plus numeric/bool/blank cells."""
    import zipfile

    from ksql_spark.sources.xlsx import _STATIC_PARTS, read_xlsx

    p = str(tmp_path / "ext.xlsx")
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    with zipfile.ZipFile(p, "w") as zf:
        for name, content in _STATIC_PARTS.items():
            zf.writestr(name, content)
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<?xml version="1.0"?><sst {ns}><si><t>name</t></si>'
            "<si><t>score</t></si><si><t>ann</t></si></sst>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>2.5</v></c></row>'
            '<row r="3"><c r="A3" t="b"><v>1</v></c></row>'
            "</sheetData></worksheet>",
        )
    header, rows = read_xlsx(p)
    assert header == ["name", "score"]
    assert rows[0] == ["ann", 2.5]
    assert rows[1] == [True, None]  # boolean cell + padded blank


def test_file_source_views_are_dropped(spark, rw, tmp_path, capsys):
    """The per-query _file_src_N views must not outlive their query."""
    out = str(tmp_path / "t.csv")
    handle_line(spark, rw, f"select uid from containers INTO CSV('{out}')")
    handle_line(spark, rw, f"select count(*) as n from CSV('{out}')")
    capsys.readouterr()
    assert not [
        v.name for v in spark.catalog.listTables() if v.name.startswith("_file_src_")
    ]


def test_handle_line_explain_command(spark, rw, capsys):
    """.explain prints the formatted physical plan (through the compat
    rewrite) instead of executing the query."""
    for stmt in (
        "select count(*) from containers",
        "select top 3 image from containers",
    ):
        handle_line(spark, rw, f".explain {stmt}")
        assert "Physical Plan" in capsys.readouterr().out, stmt
    handle_line(spark, rw, ".explain")
    assert "usage: .explain" in capsys.readouterr().out


def test_http_explain_endpoint(spark, rw):
    """GET /explain returns the formatted physical plan (read-only, mirrors
    the REPL's .explain); missing query → 400."""
    import threading
    import urllib.request
    from http.server import ThreadingHTTPServer

    from ksql_spark.http_api import make_handler

    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(spark, rw))
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/explain?query="
            "select%20count(*)%20from%20containers"
        ) as resp:
            body = resp.read().decode()
        assert "Physical Plan" in body
        import urllib.error

        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/explain")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_orc_roundtrip_through_repl(spark, rw, tmp_path, capsys):
    """ORC both directions (r5b): INTO ORC writes columnar ORC via Spark's
    native writer; FROM ORC() reads it back as a table source — the second
    columnar interchange format beside parquet."""
    from ksql_spark.repl import handle_line

    out = tmp_path / "export_orc"
    handle_line(spark, rw, f"select uid, image from containers INTO ORC('{out}')")
    assert "wrote orc" in capsys.readouterr().out
    assert spark.read.orc(str(out)).count() == spark.table("containers").count()

    handle_line(spark, rw, f"select count(*) as n from ORC('{out}')")
    assert str(spark.table("containers").count()) in capsys.readouterr().out


def test_qualify_through_repl_chain(spark, rw, tmp_path, capsys):
    """QUALIFY must work end-to-end through handle_line's rewrite chain
    (rewriter -> USING -> TOP -> QUALIFY), not just as a bare function."""
    from ksql_spark.repl import handle_line

    handle_line(
        spark,
        rw,
        "select uid, image from containers "
        "QUALIFY row_number() OVER (PARTITION BY uid ORDER BY image) = 1",
    )
    out = capsys.readouterr().out
    assert "error" not in out.lower()
    # one row per distinct pod uid survives the filter
    n_uids = spark.table("containers").select("uid").distinct().count()
    import re

    assert len(re.findall(r"\n\|", out)) - 1 == n_uids  # header row + n rows


def test_copy_to_sharded_roundtrip(spark, rw, tmp_path, capsys):
    """VERDICT r7 item 5: COPY <table> TO 'path' (SHARD BY k) at the REPL
    drives operators/layout.write_sharded — hive shard_id=N directories,
    full row fidelity on readback, and the layout matches shard_expr."""
    from ksql_spark.operators.layout import shard_expr

    out = str(tmp_path / "pods_sharded")
    handle_line(
        spark, rw,
        f"COPY (select uid, cast(hash(uid) as bigint) as k from pods) "
        f"TO '{out}' (SHARD BY k, SHARDS 4)",
    )
    assert "wrote hash-sharded layout (4 shards by k)" in capsys.readouterr().out
    back = spark.read.parquet(out)
    src = spark.sql("select uid, cast(hash(uid) as bigint) as k from pods")
    assert back.count() == src.count()
    # every row's directory matches the portable shard expression
    mismatch = back.where(
        back["shard_id"].cast("long") != shard_expr("k", 4)
    ).count()
    assert mismatch == 0


def test_copy_to_zordered_roundtrip(spark, rw, tmp_path, capsys):
    out = str(tmp_path / "z_layout")
    handle_line(
        spark, rw,
        f"COPY (select cast(hash(uid) % 1000 as bigint) as x, "
        f"cast(hash(image) % 1000 as bigint) as y from containers) "
        f"TO '{out}' (ZORDER BY x, y, FILES 2, BITS 6)",
    )
    assert "wrote z-ordered layout (x,y x 2 files)" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.columns == ["x", "y"]
    assert back.count() == spark.table("containers").count()


def test_copy_malformed_is_loud_but_nonfatal(spark, rw, capsys):
    handle_line(spark, rw, "COPY pods TO '/tmp/x' (FROB BY k)")
    err = capsys.readouterr().err
    assert "error:" in err and "SHARD BY" in err


def test_copy_commented_out_never_writes(spark, rw, tmp_path, capsys):
    out = tmp_path / "never"
    handle_line(spark, rw, f"-- COPY pods TO '{out}' (SHARD BY uid)")
    # not a COPY (comment guard) → falls through to SQL and errors there,
    # but must NOT create the path
    assert not out.exists()


def test_copy_rejected_over_http(spark, rw, tmp_path):
    """COPY is a REPL-only surface (same server-path-write rationale as
    INTO-file): over the HTTP API it must ERROR — Spark has no COPY
    statement — and must never create the target path."""
    from ksql_spark.http_api import run_query

    out = tmp_path / "http_never"
    with pytest.raises(Exception):
        run_query(spark, rw, f"COPY pods TO '{out}' (SHARD BY uid)")
    assert not out.exists()


def test_copy_refuses_existing_nonempty_target(spark, rw, tmp_path, capsys):
    """ADVICE r9: the layout writers overwrite internally, so a typo'd COPY
    path must not silently delete an existing directory — refuse unless the
    statement carries an explicit OVERWRITE option."""
    out = tmp_path / "precious"
    out.mkdir()
    (out / "data.txt").write_text("do not clobber")
    src = "(select uid, cast(hash(uid) as bigint) as k from pods)"
    handle_line(spark, rw, f"COPY {src} TO '{out}' (SHARD BY k)")
    err = capsys.readouterr().err
    assert "error:" in err and "OVERWRITE" in err
    assert (out / "data.txt").read_text() == "do not clobber"
    # with OVERWRITE the same statement replaces the directory
    handle_line(spark, rw, f"COPY {src} TO '{out}' (SHARD BY k, OVERWRITE)")
    assert "wrote hash-sharded layout" in capsys.readouterr().out
    assert not (out / "data.txt").exists()
    assert spark.read.parquet(str(out)).count() == spark.table("pods").count()
