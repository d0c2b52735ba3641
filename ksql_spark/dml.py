"""SURVEY §2 A13 — row-level UPDATE / DELETE via copy-on-write over parquet
catalog tables.

The reference never uses row DML (AlaSQL provides it [D]; unused in
ksql.js), and plain parquet is a v1 source — Spark's native `UPDATE`/`DELETE`
SQL needs a v2 ACID format (Delta/Iceberg). This module provides the
snapshot-model equivalent: read → transform → atomically swap, the same
copy-on-write shape those formats perform per file, done here at table
granularity.

Guarantees and limits (documented, tested):
  * snapshot swap: the new snapshot is written to a side directory first, the
    table is repointed with ALTER TABLE SET LOCATION, then the old directory
    is dropped — a reader never sees a MIX of old and new rows, but a query
    that planned its scan against the old location before the repoint can
    fail with file-not-found once the old directory is removed (a v2 format's
    retained snapshots fix that too);
  * single-writer: no commit protocol arbitrates concurrent writers (that is
    exactly what Delta/Iceberg add); concurrent update_table calls can lose
    one writer's changes;
  * full-table rewrite: at 100 TB you partition the table and rewrite only
    affected partitions, or use a v2 format — this is the small-catalog /
    test-scale path, matching the reference's in-memory snapshot model.
"""

from __future__ import annotations

import re as _re
import shutil
import threading
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def _describe(spark: SparkSession, table: str) -> list:
    return spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()


def _table_location(spark: SparkSession, table: str) -> Path:
    desc = {r["col_name"]: r["data_type"] for r in _describe(spark, table)}
    loc = desc.get("Location")
    if not loc:
        raise ValueError(f"table {table} has no filesystem location")
    return Path(loc.removeprefix("file:"))


def _partition_cols(spark: SparkSession, table: str) -> list[str]:
    """Partition columns from DESCRIBE's '# Partition Information' section."""
    rows = _describe(spark, table)
    out, in_section = [], False
    for r in rows:
        name = (r["col_name"] or "").strip()
        if name == "# Partition Information":
            in_section = True
            continue
        if in_section:
            if name.startswith("#") or not name:
                if name == "# col_name":
                    continue
                break
            out.append(name)
    return out


_COW_TAG = _re.compile(r"__cow_[0-9a-f]{8}$")


def _swap_snapshot(spark: SparkSession, table: str, new_df: DataFrame) -> None:
    """Write new_df beside the current location, repoint, drop the old dir.
    Partitioned tables keep their layout: the new snapshot is written
    partitionBy(...) and MSCK SYNC re-derives partition metadata under the
    new root (stale entries pointing into the old root are dropped)."""
    old = _table_location(spark, table)
    # Replace the previous write's tag rather than appending to it, so the
    # directory name stays the same length however many writes a table takes.
    base = _COW_TAG.sub("", old.name)
    new = old.with_name(f"{base}__cow_{uuid.uuid4().hex[:8]}")
    pcols = _partition_cols(spark, table)
    writer = new_df.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(str(new))
    spark.sql(f"ALTER TABLE {table} SET LOCATION '{new}'")
    if pcols:
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    spark.sql(f"REFRESH TABLE {table}")
    shutil.rmtree(old, ignore_errors=True)


def _affected_partitions(
    spark: SparkSession, table: str, cond: Column, pcols: list[str]
) -> list:
    """Distinct partition-value rows holding rows matched by `cond`. The
    COLLECTED result is partition-metadata sized; finding it scans the data
    unless `cond` itself prunes on partition columns (put partition columns
    in the WHERE to bound the read as well as the write)."""
    return spark.table(table).where(cond).select(*pcols).distinct().collect()


def _pred_from_partition_vals(pcols: list[str], vals: list) -> Column:
    pred = None
    for r in vals:
        term = None
        for c in pcols:
            eq = F.col(c).eqNullSafe(F.lit(r[c]))
            term = eq if term is None else (term & eq)
        pred = term if pred is None else (pred | term)
    return pred


def update_table(
    spark: SparkSession,
    table: str,
    assignments: dict[str, Column | str],
    where: Column | str | None = None,
) -> int:
    """UPDATE `table` SET col=expr[, ...] [WHERE cond] — copy-on-write.

    `assignments` maps column name → Column or SQL expression string; `where`
    bounds the affected rows (None = all). Returns the number of rows updated.

    Partitioned tables take the SCALE path: only partitions containing
    matched rows are rewritten, via dynamic partition overwrite (static
    partition pruning bounds the read; untouched partitions' files are never
    rewritten). Unpartitioned tables do the full snapshot swap.
    """
    df = spark.table(table)
    unknown = set(assignments) - set(df.columns)
    if unknown:
        raise ValueError(
            f"UPDATE {table}: unknown column(s) {sorted(unknown)} "
            f"(table has {df.columns})"
        )
    cond = F.expr(where) if isinstance(where, str) else where
    if cond is None:
        cond = F.lit(True)
    n = df.where(cond).count()

    def updated(frame):
        cols = []
        for name in frame.columns:
            if name in assignments:
                expr = assignments[name]
                col = F.expr(expr) if isinstance(expr, str) else expr
                cols.append(F.when(cond, col).otherwise(F.col(name)).alias(name))
            else:
                cols.append(F.col(name))
        return frame.select(*cols)

    pcols = _partition_cols(spark, table)
    if pcols and set(pcols).isdisjoint(assignments):
        # updates never remove rows, so every affected partition stays present
        # in the rewritten output (dynamic overwrite requires that)
        vals = _affected_partitions(spark, table, cond, pcols)
        if not vals:
            return 0
        pred = _pred_from_partition_vals(pcols, vals)
        _overwrite_partitions(spark, table, updated(df.where(pred)))
        return n
    _swap_snapshot(spark, table, updated(df))
    return n


def _overwrite_partitions(spark: SparkSession, table: str, scoped: DataFrame) -> None:
    """Dynamic partition overwrite: only partitions present in `scoped` are
    replaced; every other partition's files stay untouched."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        scoped.write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.sql(f"REFRESH TABLE {table}")


def _sql_literal(v) -> str:
    import datetime as dt

    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, dt.date):
        # unquoted 2024-01-02 parses as arithmetic in a PARTITION spec
        return f"DATE '{v.isoformat()}'"
    return str(v)


def delete_from(
    spark: SparkSession, table: str, where: Column | str
) -> int:
    """DELETE FROM `table` WHERE cond — copy-on-write. Returns rows deleted.

    Partitioned tables rewrite only affected partitions; a partition whose
    rows are ALL deleted is dropped via ALTER TABLE DROP PARTITION (dynamic
    overwrite cannot touch a partition absent from the written output).
    """
    df = spark.table(table)
    cond = F.expr(where) if isinstance(where, str) else where
    n = df.where(cond).count()
    keep_cond = ~cond | cond.isNull()

    pcols = _partition_cols(spark, table)
    if pcols:
        vals = _affected_partitions(spark, table, cond, pcols)
        if not vals:
            return 0
        pred = _pred_from_partition_vals(pcols, vals)
        keep = df.where(pred).where(keep_cond)
        surviving = {
            tuple(r[c] for c in pcols)
            for r in keep.select(*pcols).distinct().collect()
        }
        if surviving:
            _overwrite_partitions(spark, table, keep)
        for r in vals:
            if tuple(r[c] for c in pcols) not in surviving:
                spec = ", ".join(
                    f"{c} = {_sql_literal(r[c])}" for c in pcols
                )
                # resolve the partition dir BEFORE dropping: DROP PARTITION on
                # an external table removes catalog metadata but keeps files
                part_loc = None
                for row in spark.sql(
                    f"DESCRIBE FORMATTED {table} PARTITION ({spec})"
                ).collect():
                    if (row["col_name"] or "").strip() == "Location":
                        part_loc = row["data_type"].removeprefix("file:")
                        break
                spark.sql(f"ALTER TABLE {table} DROP PARTITION ({spec})")
                if part_loc:
                    shutil.rmtree(part_loc, ignore_errors=True)
        spark.sql(f"REFRESH TABLE {table}")
        return n
    _swap_snapshot(spark, table, df.where(keep_cond))
    return n


def merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Column | str] | None = None,
    when_not_matched_insert: bool = True,
) -> tuple[int, int]:
    """MERGE INTO `table` USING `source` ON key columns — copy-on-write upsert.

    * matched target rows get `when_matched_update` assignments; string
      expressions may use plain target column names and `src.<col>` for
      source columns (both resolve unambiguously); None keeps matches as-is;
    * unmatched source rows are appended when `when_not_matched_insert`
      (source must then carry every target column);
    * unmatched target rows are kept as-is;
    * duplicate source keys raise (ANSI MERGE 'multiple source rows matched')
      — a fan-out would silently duplicate target rows.
    Returns (rows_updated, rows_inserted).

    Partitioned tables (when updates don't touch partition columns) rewrite
    only the partitions holding matched target rows; inserted rows land in
    their own (possibly new) partitions via dynamic overwrite. Same
    single-writer limit as update_table (a v2 ACID format does this per file).
    """
    target = spark.table(table)
    if when_matched_update:
        unknown = set(when_matched_update) - set(target.columns)
        if unknown:
            raise ValueError(
                f"MERGE INTO {table}: unknown SET column(s) {sorted(unknown)} "
                f"(table has {target.columns})"
            )
    # several actions below re-read the source (dup check, counts, partition
    # collects, final write) — persist once so a streaming-aggregation or
    # otherwise expensive source is computed once per merge
    source = source.persist()
    dup = source.groupBy(*on).count().where(F.col("count") > 1)
    if dup.limit(1).count():
        source.unpersist()
        raise ValueError(
            f"merge_into: source has duplicate keys on {on} — each target row "
            "must match at most one source row"
        )
    # prefix source columns so the joined frame has no duplicate names:
    # target columns stay plain, `src.<col>` in expressions becomes `src_<col>`
    src = source.select(
        *[F.col(c).alias(f"src_{c}") for c in source.columns]
    )
    cond = None
    for k in on:
        c = F.col(k) == F.col(f"src_{k}")
        cond = c if cond is None else (cond & c)

    joined = target.join(src, cond, "left")
    matched = F.col(f"src_{on[0]}").isNotNull()
    cols = []
    for name in target.columns:
        if when_matched_update and name in when_matched_update:
            expr = when_matched_update[name]
            if isinstance(expr, str):
                col = F.expr(_sub_src_cols(expr))
            else:
                col = expr
            cols.append(F.when(matched, col).otherwise(F.col(name)).alias(name))
        else:
            cols.append(F.col(name))
    updated = joined.select(*cols)
    n_updated = (
        joined.where(matched).count() if when_matched_update else 0
    )

    try:
        if when_not_matched_insert:
            inserts = source.join(target, on, "left_anti").select(*target.columns)
            n_inserted = inserts.count()
        else:
            inserts = None
            n_inserted = 0

        pcols = _partition_cols(spark, table)
        if pcols and (
            when_matched_update is None
            or set(pcols).isdisjoint(when_matched_update)
        ):
            # scale path: rewrite only partitions that change — matched-row
            # partitions (only when an update clause can change them) plus
            # insert-row partitions. An insert into an EXISTING partition
            # forces that whole partition's rewrite (dynamic overwrite
            # replaces whole partitions, so its existing rows must be present
            # in the output or they would be lost).
            vals = set()
            if when_matched_update:
                vals |= {
                    tuple(r[c] for c in pcols)
                    for r in joined.where(matched).select(*pcols)
                    .distinct().collect()
                }
            if inserts is not None and n_inserted:
                vals |= {
                    tuple(r[c] for c in pcols)
                    for r in inserts.select(*pcols).distinct().collect()
                }
            if not vals:
                return n_updated, n_inserted
            pred = _pred_from_partition_vals(
                pcols, [dict(zip(pcols, v)) for v in vals]
            )
            scoped = updated.where(pred)
            if inserts is not None and n_inserted:
                scoped = scoped.unionByName(inserts)
            _overwrite_partitions(spark, table, scoped)
            return n_updated, n_inserted

        new_df = updated if inserts is None else updated.unionByName(inserts)
        _swap_snapshot(spark, table, new_df)
        return n_updated, n_inserted
    finally:
        source.unpersist()


# --- SQL statement front-end (REPL/HTTP surface, AlaSQL DML parity) --------

_UPDATE_RE = _re.compile(
    r"^\s*UPDATE\s+(?P<table>[A-Za-z_][\w.]*)\s+SET\s+(?P<body>.+)$",
    _re.IGNORECASE | _re.DOTALL,
)
_DELETE_RE = _re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[A-Za-z_][\w.]*)"
    r"(?:\s+WHERE\s+(?P<where>.+))?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)


def _skip_quoted(s: str, i: int) -> int:
    """s[i] opens a ' or " string literal; return the index just past its
    closing quote. A doubled quote ('' or "") escapes inside either form
    (Spark accepts both literal styles)."""
    q = s[i]
    i += 1
    n = len(s)
    while i < n:
        if s[i] == q:
            if s[i:i + 2] == q + q:
                i += 2
                continue
            return i + 1
        i += 1
    return n  # unterminated: treat rest as literal


def _top_level_positions(s: str):
    """Yield (index, char) for characters OUTSIDE string literals, with the
    running paren depth — the one scanner both splitters share."""
    depth, i = 0, 0
    n = len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            i = _skip_quoted(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        yield i, ch, depth
        i += 1


def _sub_src_cols(expr: str) -> str:
    """Rewrite `src.<col>` → `src_<col>` only OUTSIDE string literals, so a
    literal like 'src.note' survives verbatim (quote-aware — same escape
    rules as the SET/WHERE splitters via _skip_quoted)."""
    out: list[str] = []
    i = seg_start = 0
    n = len(expr)
    while i < n:
        if expr[i] in "'\"":
            out.append(_re.sub(r"\bsrc\.(\w+)", r"src_\1", expr[seg_start:i]))
            j = _skip_quoted(expr, i)
            out.append(expr[i:j])  # literal: verbatim
            i = seg_start = j
        else:
            i += 1
    out.append(_re.sub(r"\bsrc\.(\w+)", r"src_\1", expr[seg_start:]))
    return "".join(out)


def _split_set_where(body: str) -> tuple[str, str | None]:
    """Split `a=1, b=2 WHERE c` on the LAST top-level WHERE keyword, quote- and
    paren-aware (a WHERE inside quotes or a subquery must not split)."""
    n = len(body)
    where_at = None
    for i, ch, depth in _top_level_positions(body):
        if depth == 0 and body[i:i + 5].upper() == "WHERE" and (
            i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")
        ) and (i + 5 == n or not (body[i + 5].isalnum() or body[i + 5] == "_")):
            where_at = i
    if where_at is None:
        return body, None
    return body[:where_at], body[where_at + 5:]


def _split_assignments(setlist: str) -> dict[str, str]:
    """Split `a = expr, b = expr` on top-level commas (quote/paren aware)."""
    cuts = [
        i for i, ch, depth in _top_level_positions(setlist)
        if ch == "," and depth == 0
    ]
    parts, prev = [], 0
    for c in cuts:
        parts.append(setlist[prev:c])
        prev = c + 1
    parts.append(setlist[prev:])
    out = {}
    for p in parts:
        if "=" not in p:
            raise ValueError(f"malformed SET assignment: {p.strip()!r}")
        name, expr = p.split("=", 1)
        out[name.strip()] = expr.strip()
    return out


_MERGE_RE = _re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<table>[A-Za-z_][\w.]*)\s+"
    r"USING\s+(?P<source>[A-Za-z_][\w.]*)\s+"
    r"ON\s+(?P<on>.+?)\s+"
    r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(?P<set>.+?)"
    r"(?P<insert>\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*\*?)?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)


def _parse_merge_on(on: str) -> list[str]:
    """Key columns from an ON clause: `(k1, k2)`, `k`, or equality chains
    `t.k = s.k AND ...` where both sides name the same column."""
    on = on.strip()
    if on.startswith("(") and on.endswith(")"):
        return [c.strip() for c in on[1:-1].split(",")]
    terms = _re.split(r"\s+AND\s+", on, flags=_re.IGNORECASE)
    keys = []
    for t in terms:
        if "=" in t:
            left, right = (s.strip().rsplit(".", 1)[-1] for s in t.split("=", 1))
            if left != right:
                raise ValueError(
                    f"MERGE ON term {t.strip()!r}: both sides must name the "
                    "same column (equi-key merge only)"
                )
            keys.append(left)
        else:
            keys.append(t.strip())
    return keys


# Serializes in-process writers: the HTTP server is threaded, and the
# copy-on-write swap (write-aside + ALTER LOCATION repoint) is not safe under
# concurrent DML on the same table. Cross-process writers still race — that
# boundary is documented in the module docstring (a v2 ACID format fixes it).
_DML_LOCK = threading.Lock()


def is_dml(sql: str) -> bool:
    """True if `sql` is an UPDATE/DELETE/MERGE statement this module executes
    (used by front-ends to gate writes behind an explicit opt-in)."""
    stmt = sql.strip().rstrip(";")
    return any(
        r.match(stmt) for r in (_UPDATE_RE, _DELETE_RE, _MERGE_RE)
    )


def run_dml(spark: SparkSession, sql: str) -> int | None:
    """Execute an UPDATE/DELETE/MERGE statement via copy-on-write; None if
    `sql` is not DML (caller falls through to spark.sql). Used by the
    REPL/HTTP layer so the delegated AlaSQL DML surface works at the console.
    In-process DML is serialized by _DML_LOCK (single-writer semantics)."""
    if not is_dml(sql):
        return None
    with _DML_LOCK:
        return _run_dml_locked(spark, sql)


def _run_dml_locked(spark: SparkSession, sql: str) -> int | None:
    stmt = sql.strip().rstrip(";")
    m = _UPDATE_RE.match(stmt)
    if m:
        setlist, where = _split_set_where(m.group("body"))
        return update_table(
            spark, m.group("table"), _split_assignments(setlist), where
        )
    m = _DELETE_RE.match(stmt)
    if m:
        where = m.group("where")
        if where is None:
            where = "true"  # DELETE FROM t — remove all rows
        return delete_from(spark, m.group("table"), where)
    m = _MERGE_RE.match(stmt)
    if m:
        insert = m.group("insert") is not None
        n_up, n_ins = merge_into(
            spark,
            m.group("table"),
            spark.table(m.group("source")),
            on=_parse_merge_on(m.group("on")),
            when_matched_update=_split_assignments(m.group("set")),
            when_not_matched_insert=insert,
        )
        return n_up + n_ins
    return None
