"""`->` SQL rewriter: AlaSQL nested access → ANSI Spark SQL (SURVEY §4.3).

The reference exposes AlaSQL's `->` operator for nested object access
(README.md:30 `pods.metadata->name`, README.md:34
`pods.metadata->annotations->email`; array index form `a->(0)` and dynamic
keys are AlaSQL-documented [D]). Spark SQL has no `->`; this module rewrites
query text BEFORE spark.sql() — a pure string-level pass, no custom Catalyst
rule needed.

Mapping is schema-aware (per SURVEY §1.4's data model):
  struct field       → dotted path            a->b        ⇒ a.b
  map<string,_> key  → element_at(a, 'b')
  string column      → get_json_object(a, '$.b.c[0]') — the raw-JSON escape
                       hatch; all remaining segments fold into the JSON path
  array + (i) index  → a[i]  (0-based, matching JS semantics)

Optional JS-truthiness compat (README.md:34 `... and not pods.metadata->
annotations->email`): `NOT <chain>` over a string-typed result becomes
`(<expr> IS NULL OR <expr> = '')` — ANSI semantics stay the default
(SURVEY §2 B7).

The tokenizer is quote- and comment-aware: `->` inside '...', "...", `...`
or -- / /* */ comments is never touched.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterator, Mapping

from pyspark.sql.types import ArrayType, DataType, MapType, StringType, StructType

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^']|'')*')
    | (?P<dq>"(?:[^"]|"")*")
    | (?P<bq>`(?:[^`]|``)*`)
    | (?P<arrow>->)
    | (?P<num>\d+(?:\.\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<punct>.)
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(sql: str) -> list[_Tok]:
    out = []
    for m in _TOKEN_RE.finditer(sql):
        kind = m.lastgroup or "punct"
        out.append(_Tok(kind, m.group()))
    return out


class RewriteError(ValueError):
    pass


class Rewriter:
    """Rewrites `->` chains using the schemas of the registered views.

    `schemas` maps view name → StructType (e.g. {"pods": pods_df.schema}).
    """

    def __init__(self, schemas: Mapping[str, StructType], truthiness_compat: bool = False):
        self.schemas = {k.lower(): v for k, v in schemas.items()}
        self.truthiness_compat = truthiness_compat

    @classmethod
    def from_session(cls, spark, views: list[str], truthiness_compat: bool = False
                     ) -> "Rewriter":
        return cls(
            {v: spark.table(v).schema for v in views},
            truthiness_compat=truthiness_compat,
        )

    # -- schema walking -----------------------------------------------------

    def _base_type(
        self, path: list[str], scope: frozenset[str]
    ) -> tuple[str, DataType] | None:
        """Resolve the leading identifier path to (sql_prefix, datatype).

        Tries `view.column[.field…]` first, then bare `column[.field…]`
        searched across all views. When several views have it, only the
        views named after FROM/JOIN in the statement (`scope`) count, as
        AlaSQL resolves an unqualified column against its FROM clause; the
        result must be unambiguous.
        """
        first = path[0].lower()
        if first in self.schemas and len(path) >= 2:
            dt = self._walk_struct(self.schemas[first], path[1:])
            if dt is not None:
                return ".".join(path), dt
        hits = {}
        for view, schema in self.schemas.items():
            dt = self._walk_struct(schema, path)
            if dt is not None:
                hits[view] = dt
        if len(hits) > 1:
            hits = {v: dt for v, dt in hits.items() if v in scope} or hits
        if len(hits) == 1:
            return ".".join(path), next(iter(hits.values()))
        if len(hits) > 1:
            raise RewriteError(
                f"ambiguous column path {'.'.join(path)!r}: qualify it with "
                f"one of {', '.join(sorted(hits))}"
            )
        # unknown first id → treat it as a table ALIAS: resolve the rest of the
        # path, keep the alias prefix verbatim (`p.metadata->name` with p an
        # alias of pods ⇒ p.metadata.name). Multiple views may share the field
        # (pods/nodes/services all have `metadata`): the alias pins the table,
        # so as long as every candidate agrees on the TYPE the rewrite is safe.
        if len(path) >= 2:
            alias_hits = []
            for schema in self.schemas.values():
                dt = self._walk_struct(schema, path[1:])
                if dt is not None:
                    alias_hits.append(dt)
            if alias_hits and all(h == alias_hits[0] for h in alias_hits):
                return ".".join(path), alias_hits[0]
            if len(alias_hits) > 1:
                raise RewriteError(
                    f"alias path {'.'.join(path)!r} matches views with "
                    "conflicting types"
                )
        return None

    @staticmethod
    def _walk_struct(dt: DataType, fields: list[str]) -> DataType | None:
        cur = dt
        for f in fields:
            if not isinstance(cur, StructType):
                return None
            match = next(
                (sf for sf in cur.fields if sf.name.lower() == f.lower()), None
            )
            if match is None:
                return None
            cur = match.dataType
        return cur

    # -- chain rewriting ----------------------------------------------------

    def _rewrite_chain(
        self, base_path: list[str], segments: list, scope: frozenset[str]
    ) -> tuple[str, DataType] | None:
        """segments: list of ("key", name) | ("index", int).

        None when the base path is no column of any registered view (e.g.
        the parameter of a Spark SQL lambda `x -> x*2`). Once it is one, a
        chain that cannot be rewritten raises: passed through, Spark would
        parse its `->` as a lambda."""
        resolved = self._base_type(base_path, scope)
        if resolved is None:
            return None
        expr, dt = resolved
        i = 0
        while i < len(segments):
            kind, val = segments[i]
            if isinstance(dt, StructType) and kind == "key":
                nxt = next(
                    (sf for sf in dt.fields if sf.name.lower() == str(val).lower()), None
                )
                if nxt is None:
                    raise RewriteError(f"no field {val!r} in struct {expr}")
                expr, dt = f"{expr}.{nxt.name}", nxt.dataType
            elif isinstance(dt, MapType) and kind == "key":
                lit = str(val).replace("'", "''")  # re-escape for the SQL literal
                expr, dt = f"element_at({expr}, '{lit}')", dt.valueType
            elif isinstance(dt, ArrayType) and kind == "index":
                expr, dt = f"{expr}[{val}]", dt.elementType
            elif isinstance(dt, StringType):
                # raw-JSON escape hatch: fold ALL remaining segments into a path
                parts = []
                for k, v in segments[i:]:
                    parts.append(f"[{v}]" if k == "index" else f".{v}")
                path = "".join(parts).replace("'", "''")  # re-escape for SQL literal
                expr, dt = f"get_json_object({expr}, '${path}')", StringType()
                i = len(segments)
                break
            else:
                raise RewriteError(
                    f"cannot apply ->{val!r} to type {dt.simpleString()} (expr {expr})"
                )
            i += 1
        return expr, dt

    # -- main pass ----------------------------------------------------------

    def rewrite(self, sql: str) -> str:
        toks = _tokenize(sql)
        scope = _from_views(toks)
        out: list[str] = []
        i = 0
        n = len(toks)

        def peek_nonws(j: int) -> int:
            while j < n and toks[j].kind in ("ws", "comment"):
                j += 1
            return j

        while i < n:
            t = toks[i]
            if t.kind != "ident":
                out.append(t.text)
                i += 1
                continue
            # collect dotted identifier path
            path = [t.text]
            j = i + 1
            while (
                j + 1 < n
                and toks[j].kind == "punct"
                and toks[j].text == "."
                and toks[j + 1].kind == "ident"
            ):
                path.append(toks[j + 1].text)
                j += 2
            k = peek_nonws(j)
            if k < n and toks[k].kind == "arrow":
                span_start = i  # for verbatim fallback on unresolvable chains
                segments = []
                while k < n and toks[k].kind == "arrow":
                    k = peek_nonws(k + 1)
                    if k < n and toks[k].kind == "ident":
                        segments.append(("key", toks[k].text))
                        k_next = k + 1
                    elif (
                        k + 2 < n
                        and toks[k].text == "("
                        and toks[k + 1].kind == "num"
                        and toks[k + 2].text == ")"
                    ):
                        segments.append(("index", int(toks[k + 1].text)))
                        k_next = k + 3
                    elif (
                        k + 2 < n
                        and toks[k].text == "("
                        and toks[k + 1].kind == "str"
                        and toks[k + 2].text == ")"
                    ):
                        # dynamic string key: a->('k') (AlaSQL-documented [D])
                        segments.append(("key", toks[k + 1].text[1:-1].replace("''", "'")))
                        k_next = k + 3
                    else:
                        raise RewriteError(
                            f"expected identifier or (index) after -> near token {k}"
                        )
                    k = peek_nonws(k_next)
                rewritten = self._rewrite_chain(path, segments, scope)
                if rewritten is None:
                    # not a data path we know (a lambda, or a typo the engine
                    # will diagnose) → pass through verbatim
                    out.append("".join(t2.text for t2 in toks[span_start:k_next]))
                    i = k_next
                    continue
                expr, dt = rewritten
                if self.truthiness_compat and isinstance(dt, StringType):
                    # only when the chain is the WHOLE boolean operand — a
                    # following comparison operator means NOT governs the larger
                    # predicate, which we must not rewrite
                    nxt = peek_nonws(k_next)
                    operand_ends = nxt >= n or (
                        toks[nxt].kind == "ident"
                        and toks[nxt].text.upper()
                        in ("AND", "OR", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION")
                    ) or (toks[nxt].kind == "punct" and toks[nxt].text in ");,")
                    prev = len(out) - 1
                    while prev >= 0 and out[prev].strip() == "":
                        prev -= 1
                    if operand_ends and prev >= 0 and out[prev].upper() == "NOT":
                        out[prev] = ""
                        expr = f"({expr} IS NULL OR {expr} = '')"
                out.append(expr)
                # resume at the token after the chain (k_next may have skipped ws)
                i = k_next
                continue
            out.append(t.text)
            i += 1
        return "".join(out)


def _from_views(toks: list[_Tok]) -> frozenset[str]:
    """Lower-cased identifiers that follow FROM or JOIN anywhere in the
    statement: the views a bare column path may resolve against."""
    names = set()
    prev = ""
    for t in toks:
        if t.kind in ("ws", "comment"):
            continue
        if t.kind == "ident" and prev in ("FROM", "JOIN"):
            names.add(t.text.lower())
        prev = t.text.upper() if t.kind == "ident" else ""
    return frozenset(names)


def rewrite(sql: str, schemas: Mapping[str, StructType],
            truthiness_compat: bool = False) -> str:
    """One-shot convenience: rewrite `->` chains in `sql` against `schemas`."""
    return Rewriter(schemas, truthiness_compat=truthiness_compat).rewrite(sql)


def compat_sql(rewriter: Rewriter, sql: str) -> str:
    """The full reference-dialect rewrite of a query statement: `->` chains,
    then `JOIN … USING col`, `SELECT TOP n` and `QUALIFY`. Every surface
    that hands a query to spark.sql (REPL, `.explain`, COPY, HTTP `/api`
    and `/explain`) goes through this one chain."""
    return compat_qualify(compat_top(compat_using(rewriter.rewrite(sql))))


def compat_top(sql: str) -> str:
    """AlaSQL/T-SQL `SELECT TOP n …` sugar (SURVEY §2 F4) → `… LIMIT n`.

    Handles statements whose FIRST keyword is SELECT only — a TOP inside a CTE
    or subquery is left untouched (it then fails loudly at parse time rather
    than silently applying the LIMIT at the wrong scope). The appended LIMIT
    goes on its own line so a trailing `--` comment cannot swallow it.
    """
    toks = _tokenize(sql)
    if _first_keyword(toks) != "SELECT":
        return sql
    # an existing LIMIT/OFFSET would conflict with the appended LIMIT (two
    # LIMIT clauses) → leave untouched so the parse error shows the user's own
    # text, not a rewritten query they never wrote
    depth = 0
    for t in toks:
        if t.kind == "punct":
            depth += (t.text == "(") - (t.text == ")")
        elif (
            depth == 0
            and t.kind == "ident"
            and t.text.upper() in ("LIMIT", "OFFSET")
        ):
            return sql
    # a top-level set operation would mis-scope the appended LIMIT (TOP binds
    # to the first SELECT, LIMIT to the union) → leave untouched, fail loudly
    if any(
        t.kind == "ident" and t.text.upper() in ("UNION", "INTERSECT", "EXCEPT")
        for t in toks
    ):
        return sql
    for i, t in enumerate(toks):
        if t.kind == "ident" and t.text.upper() == "SELECT":
            j = i + 1
            while j < len(toks) and toks[j].kind in ("ws", "comment"):
                j += 1
            if (
                j < len(toks)
                and toks[j].kind == "ident"
                and toks[j].text.upper() == "TOP"
            ):
                k = j + 1
                while k < len(toks) and toks[k].kind in ("ws", "comment"):
                    k += 1
                if k < len(toks) and toks[k].kind == "num":
                    n = toks[k].text
                    rest = (
                        "".join(tok.text for tok in toks[: j])
                        + "".join(tok.text for tok in toks[k + 1:])
                    )
                    # newline terminates a trailing `--` comment before LIMIT
                    return rest.rstrip().rstrip(";") + f"\nLIMIT {n}"
            break
    return sql


_INTO_FILE_RE = re.compile(
    r"\s+INTO\s+(?P<fmt>CSV|JSONL|JSON|PARQUET|TAB|XLSX|ORC)\s*\(\s*"
    r"'(?P<path>(?:[^']|'')+)'\s*\)\s*$",
    re.IGNORECASE,
)


def split_into_file(sql: str) -> tuple[str, str | None, str | None]:
    """AlaSQL `SELECT … INTO CSV('f')` / `INTO JSON('f')` sugar (SURVEY §2
    A10): returns (query_without_suffix, format, path) — (sql, None, None)
    when no INTO-file suffix is present. PARQUET accepted as an extension.
    The suffix must be at the very end (trailing `;` tolerated), path in
    single quotes ('' escapes). A statement containing any SQL comment is
    left untouched: a commented-out `-- INTO CSV('x')` must never trigger an
    overwrite file write."""
    stripped = sql.rstrip().rstrip(";")
    if any(t.kind == "comment" for t in _tokenize(stripped)):
        return sql, None, None
    m = _INTO_FILE_RE.search(stripped)
    if not m:
        return sql, None, None
    return (
        stripped[: m.start()],
        m.group("fmt").lower(),
        m.group("path").replace("''", "'"),
    )


#: AlaSQL table-source file formats (package.json:5 tier). XLSX reads via the
#: stdlib zip+XML reader (sources/xlsx.py) on the driver — an .xlsx is not
#: splittable and AlaSQL's use case is small interchange files. JSONL is the
#: round-6 addition (training corpora ship as JSON Lines); JSON sniffs
#: whole-document arrays (AlaSQL semantics) vs line-delimited — see
#: repl._read_json_source.
_FILE_SRC_FMTS = frozenset(
    {"CSV", "JSON", "JSONL", "PARQUET", "TAB", "XLSX", "ORC"}
)


def extract_from_files(sql: str) -> tuple[str, list[tuple[str, str, str]]]:
    """AlaSQL `FROM CSV('f')` / `JOIN TAB('f')` table-source sugar (SURVEY §2
    A6 [D] tier): each file source is replaced by a generated view name and
    returned as (view_name, fmt, path) for the caller to register
    (`spark.read.<fmt>` / sources.xlsx → temp view) before executing.
    Token-aware — FROM/JOIN inside string literals or comments never match;
    path in single quotes ('' escapes)."""
    toks = _tokenize(sql)
    out: list[str] = []
    sources: list[tuple[str, str, str]] = []

    def _next_code(j: int) -> int:
        while j < len(toks) and toks[j].kind in ("ws", "comment"):
            j += 1
        return j

    i = 0
    while i < len(toks):
        t = toks[i]
        out.append(t.text)
        if t.kind == "ident" and t.text.upper() in ("FROM", "JOIN"):
            j = _next_code(i + 1)
            if (
                j < len(toks)
                and toks[j].kind == "ident"
                and toks[j].text.upper() in _FILE_SRC_FMTS
            ):
                fmt = toks[j].text.upper()
                k = _next_code(j + 1)
                if k < len(toks) and toks[k].text == "(":
                    p = _next_code(k + 1)
                    if p < len(toks) and toks[p].kind == "str":
                        q = _next_code(p + 1)
                        if q < len(toks) and toks[q].text == ")":
                            path = toks[p].text[1:-1].replace("''", "'")
                            name = f"_file_src_{len(sources)}"
                            sources.append((name, fmt.lower(), path))
                            out.append(" " + name)
                            i = q + 1
                            continue
        i += 1
    return "".join(out), sources


def _first_keyword(toks: list[_Tok]) -> str:
    for t in toks:
        if t.kind == "ident":
            return t.text.upper()
        if t.kind not in ("ws", "comment"):
            return ""
    return ""


def compat_using(sql: str) -> str:
    """AlaSQL allows `JOIN t USING col` (README.md:30,34); ANSI/Spark require
    parentheses. Wraps bare single-column USING clauses, quote-aware.

    Applied to SELECT statements only: DDL's `USING PARQUET` provider clause
    (CREATE TABLE …) must pass through untouched.
    """
    toks = _tokenize(sql)
    if _first_keyword(toks) not in ("SELECT", "WITH"):
        return sql
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "ident" and t.text.upper() == "USING":
            j = i + 1
            while j < len(toks) and toks[j].kind in ("ws", "comment"):
                j += 1
            if j < len(toks) and toks[j].kind == "ident":
                out.append(t.text)
                out.append(" (")
                out.append(toks[j].text)
                out.append(")")
                i = j + 1
                continue
        out.append(t.text)
        i += 1
    return "".join(out)


def compat_qualify(sql: str) -> str:
    """DuckDB/Snowflake/BigQuery `QUALIFY <pred>` — filter applied AFTER
    window evaluation, which Spark SQL lacks — rewritten to a subquery:

      * predicate without a window call (references select-list aliases):
          SELECT ... QUALIFY p [tail]
        → SELECT * FROM (SELECT ...) __q WHERE p [tail]
      * predicate with an inline OVER(...):
          SELECT <sel> FROM <rest> QUALIFY p [tail]
        → SELECT * EXCEPT (__qualify) FROM (
              SELECT <sel>, (p) AS __qualify FROM <rest>) __q
          WHERE __qualify [tail]

    `tail` = trailing top-level ORDER BY / LIMIT / OFFSET, re-applied on the
    outer query (they sort/limit the filtered result, matching QUALIFY
    semantics). Scope is conservative, matching compat_top: top-level
    statements whose first keyword is SELECT, no top-level set operation,
    no SELECT DISTINCT (appending the hidden column would change the
    distinct key), and — since `qualify` is NOT a reserved word in Spark —
    the token is treated as the clause keyword only in clause position: a
    top-level FROM precedes it, the previous code token ends an expression
    (identifier / number / string / `)`), and the next token can begin a
    predicate. `SELECT a, qualify FROM t` and `WHERE qualify = 1` pass
    through untouched. Aliases referenced inside an OVER() in the
    predicate (legal in DuckDB, LATERAL_COLUMN_ALIAS_IN_WINDOW in Spark)
    also pass through, so the user sees Spark's parse error on THEIR text,
    never an error naming rewrite internals.
    """
    toks = _tokenize(sql)
    if _first_keyword(toks) != "SELECT":
        return sql
    _CLAUSE_PRED = frozenset(
        {
            "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "BY", "ON", "AS",
            "JOIN", "HAVING", "CASE", "WHEN", "THEN", "ELSE", "IN", "LIKE",
            "BETWEEN", "IS", "ORDER", "GROUP", "LIMIT", "OFFSET", "USING",
        }
    )
    # keywords that can legally FOLLOW a table alias named `qualify` but can
    # never BEGIN a predicate — includes every join-clause starter and ON,
    # so `FROM t qualify JOIN u ON ...` (qualify as a bare alias, valid
    # Spark SQL since the word is unreserved) passes through untouched
    _BAD_NEXT_KW = frozenset(
        {
            "FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING",
            "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "NATURAL",
            "SEMI", "ANTI", "LATERAL", "ON", "USING", "WINDOW", "UNION",
            "INTERSECT", "EXCEPT", "AND", "OR",
        }
    )
    depth = 0
    q_idx = None
    from_seen = False
    prev_code = None  # last non-ws/comment token at any depth
    for i, t in enumerate(toks):
        if t.kind == "punct":
            depth += (t.text == "(") - (t.text == ")")
        elif depth == 0 and t.kind == "ident":
            u = t.text.upper()
            if u in ("UNION", "INTERSECT", "EXCEPT"):
                return sql
            if u == "FROM":
                from_seen = True
            if u == "QUALIFY" and q_idx is None and from_seen:
                # clause position: previous code token ends an expression...
                prev_ok = prev_code is not None and (
                    prev_code.kind in ("num", "str", "bq")
                    or (prev_code.kind == "punct" and prev_code.text == ")")
                    or (
                        prev_code.kind == "ident"
                        and prev_code.text.upper() not in _CLAUSE_PRED
                    )
                )
                # ...and the next code token can begin a predicate
                k = i + 1
                while k < len(toks) and toks[k].kind in ("ws", "comment"):
                    k += 1
                nxt = toks[k] if k < len(toks) else None
                bad_kw = (
                    nxt is not None
                    and nxt.kind == "ident"
                    and nxt.text.upper() in _BAD_NEXT_KW
                )
                # LEFT/RIGHT are also Spark string functions; `qualify
                # LEFT(...)` with an immediate `(` is a predicate, while
                # `qualify LEFT JOIN ...` is a join clause after an alias
                if bad_kw and nxt.text.upper() in ("LEFT", "RIGHT"):
                    m = k + 1
                    while m < len(toks) and toks[m].kind in ("ws", "comment"):
                        m += 1
                    if m < len(toks) and toks[m].kind == "punct" and toks[m].text == "(":
                        bad_kw = False
                next_ok = nxt is not None and not (
                    bad_kw
                    or (
                        nxt.kind == "punct"
                        and nxt.text in (",", ")", "=", "<", ">", "+", "*",
                                          "/", "%", ";")
                    )
                )
                if prev_ok and next_ok:
                    q_idx = i
        if t.kind not in ("ws", "comment"):
            prev_code = t
    if q_idx is None:
        return sql
    # SELECT DISTINCT guard
    j = 1
    while j < len(toks) and toks[j].kind in ("ws", "comment"):
        j += 1
    if j < len(toks) and toks[j].kind == "ident" and toks[j].text.upper() == "DISTINCT":
        return sql
    # split: inner | predicate | tail (top-level ORDER BY / LIMIT / OFFSET)
    depth = 0
    tail_idx = len(toks)
    for i in range(q_idx + 1, len(toks)):
        t = toks[i]
        if t.kind == "punct":
            depth += (t.text == "(") - (t.text == ")")
        elif (
            depth == 0
            and t.kind == "ident"
            and t.text.upper() in ("ORDER", "LIMIT", "OFFSET")
        ):
            tail_idx = i
            break
    inner = "".join(t.text for t in toks[:q_idx]).strip()
    pred = "".join(t.text for t in toks[q_idx + 1 : tail_idx]).strip()
    tail = "".join(t.text for t in toks[tail_idx:]).strip().rstrip(";")
    pred = pred.rstrip(";").strip()
    if not pred:
        return sql
    pred_toks = _tokenize(pred)
    pred_has_window = any(
        t.kind == "ident" and t.text.upper() == "OVER" for t in pred_toks
    )
    # every splice point below starts a NEW LINE so a trailing `--` comment
    # in the user's text can never swallow the spliced SQL (the same defence
    # compat_top documents for its appended LIMIT)
    if not pred_has_window:
        out = f"SELECT * FROM ({inner}\n) __q WHERE {pred}"
        return out + (f"\n{tail}" if tail else "")
    # hoist the whole predicate as a hidden boolean window column: find the
    # inner query's top-level FROM and splice the column into its select list
    inner_toks = _tokenize(inner)
    depth = 0
    from_idx = None
    for i, t in enumerate(inner_toks):
        if t.kind == "punct":
            depth += (t.text == "(") - (t.text == ")")
        elif depth == 0 and t.kind == "ident" and t.text.upper() == "FROM":
            from_idx = i
            break
    if from_idx is None:
        return sql
    sel_part = "".join(t.text for t in inner_toks[:from_idx]).rstrip()
    # select-list aliases referenced inside the windowed predicate hit
    # Spark's LATERAL_COLUMN_ALIAS_IN_WINDOW after the rewrite — pass
    # through so the user sees a parse error on THEIR text instead of an
    # error naming __qualify (see docstring)
    sel_toks = _tokenize(sel_part)
    aliases = set()
    d2 = 0
    prev_sel = None  # last non-ws/comment token at any depth in sel_part
    for i, t in enumerate(sel_toks):
        if t.kind == "punct":
            d2 += (t.text == "(") - (t.text == ")")
        elif d2 == 0 and t.kind == "ident":
            u = t.text.upper()
            if u == "AS":
                k = i + 1
                while k < len(sel_toks) and sel_toks[k].kind in ("ws", "comment"):
                    k += 1
                if k < len(sel_toks) and sel_toks[k].kind == "ident":
                    aliases.add(sel_toks[k].text.upper())
            elif u not in _CLAUSE_PRED:
                # BARE alias (no AS): identifier in alias position — the
                # previous code token ends an expression and the next code
                # token is `,` or the end of the select list. Collecting
                # these (conservatively, possibly over-collecting words
                # like END) makes the alias-in-windowed-predicate guard
                # pass through, per the docstring's promise.
                prev_ok = prev_sel is not None and (
                    prev_sel.kind in ("num", "str", "bq")
                    or (prev_sel.kind == "punct" and prev_sel.text == ")")
                    or (
                        prev_sel.kind == "ident"
                        and prev_sel.text.upper() not in _CLAUSE_PRED
                        and prev_sel.text.upper() != "DISTINCT"
                    )
                )
                if prev_ok:
                    k = i + 1
                    while k < len(sel_toks) and sel_toks[k].kind in ("ws", "comment"):
                        k += 1
                    at_end = k >= len(sel_toks)
                    if at_end or (
                        sel_toks[k].kind == "punct" and sel_toks[k].text == ","
                    ):
                        aliases.add(u)
        if t.kind not in ("ws", "comment"):
            prev_sel = t
    if any(t.kind == "ident" and t.text.upper() in aliases for t in pred_toks):
        return sql
    rest_part = "".join(t.text for t in inner_toks[from_idx:])
    inner2 = f"{sel_part}\n, ({pred}\n) AS __qualify {rest_part}"
    out = (
        f"SELECT * EXCEPT (__qualify) FROM ({inner2}\n) __q WHERE __qualify"
    )
    return out + (f"\n{tail}" if tail else "")


_COPY_OPTS_RE = re.compile(
    r"""^\s*(?:
        SHARD\s+BY\s+(?P<skey>[A-Za-z_][A-Za-z0-9_]*)
            (?:\s*,\s*SHARDS\s+(?P<nshards>\d+))?
            (?:\s*,\s*(?P<sovr>OVERWRITE))?
      | ZORDER\s+BY\s+(?P<zx>[A-Za-z_][A-Za-z0-9_]*)\s*,\s*
            (?P<zy>[A-Za-z_][A-Za-z0-9_]*)
            (?:\s*,\s*FILES\s+(?P<nfiles>\d+))?
            (?:\s*,\s*BITS\s+(?P<bits>\d+))?
            (?:\s*,\s*(?P<zovr>OVERWRITE))?
    )\s*$""",
    re.IGNORECASE | re.VERBOSE,
)


def parse_copy_to(sql: str) -> tuple[str, str, dict] | None:
    """`COPY <table|(query)> TO '<path>' (SHARD BY k [, SHARDS n]
    [, OVERWRITE] | ZORDER BY x, y [, FILES n] [, BITS n] [, OVERWRITE])` —
    the REPL surface for the operators/layout.py training-data writers
    (VERDICT r7 item 5). Without OVERWRITE the REPL refuses an existing
    non-empty target (the writers overwrite internally; ADVICE r9).

    Returns (source_sql, path, spec) where spec is
    {"mode": "shard", "key": k, "n_shards": n} or
    {"mode": "zorder", "dim_x": x, "dim_y": y, "n_files": n, "bits": b};
    None when the statement is not a COPY (caller falls through to SQL).
    A malformed COPY raises ValueError (loud, instead of handing Spark a
    statement it will misreport). Same comment guard as split_into_file: a
    statement containing any SQL comment is not treated as COPY, so a
    commented-out COPY can never trigger an overwrite write. Token-aware:
    TO inside string literals or a parenthesized source never matches."""
    stripped = sql.rstrip().rstrip(";")
    toks = _tokenize(stripped)
    code = [t for t in toks if t.kind not in ("ws",)]
    if not code or code[0].kind != "ident" or code[0].text.upper() != "COPY":
        return None
    if any(t.kind == "comment" for t in toks):
        return None
    # locate the depth-0 TO keyword
    depth, to_idx = 0, None
    pos = 0
    spans = []  # (tok, start_offset) for reslicing the original text
    for t in toks:
        spans.append((t, pos))
        pos += len(t.text)
    for i, (t, off) in enumerate(spans):
        if t.kind == "punct":
            depth += (t.text == "(") - (t.text == ")")
        elif depth == 0 and t.kind == "ident" and t.text.upper() == "TO":
            to_idx = i
            break
    if to_idx is None:
        raise ValueError("COPY: expected TO '<path>' (...)")
    # source = text between COPY and TO (skip the leading COPY token)
    first_code = next(i for i, (t, _) in enumerate(spans) if t.kind != "ws")
    src_start = spans[first_code][1] + len(spans[first_code][0].text)
    source = stripped[src_start: spans[to_idx][1]].strip()
    if not source:
        raise ValueError("COPY: missing source table or (query)")
    # after TO: one string literal path, then the parenthesized options
    j = to_idx + 1
    while j < len(spans) and spans[j][0].kind in ("ws", "comment"):
        j += 1
    if j >= len(spans) or spans[j][0].kind != "str":
        raise ValueError("COPY: path must be a single-quoted string")
    path = spans[j][0].text[1:-1].replace("''", "'")
    k = j + 1
    while k < len(spans) and spans[k][0].kind in ("ws", "comment"):
        k += 1
    if k >= len(spans) or spans[k][0].text != "(":
        raise ValueError("COPY: expected (SHARD BY ... | ZORDER BY ...)")
    opts_text = stripped[spans[k][1] + 1:]
    if not opts_text.rstrip().endswith(")"):
        raise ValueError("COPY: options must close with )")
    opts_text = opts_text.rstrip()[:-1]
    m = _COPY_OPTS_RE.match(opts_text)
    if not m:
        raise ValueError(
            "COPY: options must be SHARD BY <col> [, SHARDS <n>] or "
            "ZORDER BY <x>, <y> [, FILES <n>] [, BITS <n>]"
        )
    if source.startswith("(") and source.endswith(")"):
        source_sql = source[1:-1].strip()
    elif re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", source):
        source_sql = f"SELECT * FROM {source}"
    else:
        raise ValueError("COPY: source must be a table name or (query)")
    if m.group("skey"):
        spec = {
            "mode": "shard",
            "key": m.group("skey"),
            "n_shards": int(m.group("nshards") or 16),
            "overwrite": bool(m.group("sovr")),
        }
    else:
        spec = {
            "mode": "zorder",
            "dim_x": m.group("zx"),
            "dim_y": m.group("zy"),
            "n_files": int(m.group("nfiles") or 64),
            "bits": int(m.group("bits") or 12),
            "overwrite": bool(m.group("zovr")),
        }
    return source_sql, path, spec
