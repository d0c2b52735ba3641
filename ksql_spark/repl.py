"""Interactive SQL REPL — parity with the reference console (ksql.js:156-187).

Pipeline per line (SURVEY §3.1): stdin → compat rewrite (`->` chains, bare
USING, optional JS-truthiness) → spark.sql → show() as an ASCII table.
Errors are caught and printed, the loop continues (ksql.js:172-174); EOF prints
"shutting down" and exits 0 (ksql.js:184-187); empty results print []
(ksql.js:160-162). Non-TTY stdin is processed line-by-line the same way
(ksql.js:275-278).

Usage: python -m ksql_spark.repl [--testdata DIR] [--no-k8s] [--compat-truthiness]
"""

from __future__ import annotations

import argparse
import sys

from ksql_spark.compat.rewriter import Rewriter, compat_sql


def resolve_live_client(live: bool, kubeconfig: str | None):
    """connect() parity (ksql.js:87-126): kubeconfig current-context, else
    prompt for a server URL in TTY mode. None when not in live mode."""
    if not live:
        return None
    from ksql_spark.sources.kubeconfig import resolve_client

    client = resolve_client(kubeconfig, prompt=sys.stdin.isatty())
    print(f'Connecting to "{client.server}"')
    return client


def build_session(testdata: str | None, with_k8s: bool = True, client=None):
    from ksql_spark.session import get_spark
    from ksql_spark.tables import register_views

    spark = get_spark(app_name="ksql-spark-repl")
    if testdata:
        register_views(spark, testdata)
    if with_k8s:
        from ksql_spark.sources.k8s import register_k8s_views

        register_k8s_views(spark, client=client)
    return spark


def make_rewriter(spark, truthiness: bool) -> Rewriter:
    views = [row["viewName"] for row in spark.sql("SHOW VIEWS").collect()]
    return Rewriter.from_session(spark, views, truthiness_compat=truthiness)


MAX_SHOW_ROWS = 1000


def _read_json_source(spark, path: str):
    """`FROM JSON('f')` reader: AlaSQL's JSON() reads a whole-document JSON
    ARRAY; Spark's native reader reads JSON LINES. Sniff the first non-space
    byte of a single file — `[` means array-document (multiLine mode, one
    row per element, reference parity), anything else means JSONL. A
    directory (e.g. a Spark-written json dataset) is always JSONL."""
    import os

    head = b""
    if os.path.isfile(path):
        with open(path, "rb") as f:
            head = f.read(64).lstrip()
    if head[:1] == b"[":
        return spark.read.option("multiLine", "true").json(path)
    return spark.read.json(path)
HISTORY_FILE = "~/.ksql_spark_history"
HISTORY_MAX = 1000


def _load_history() -> str | None:
    """Persistent readline history — parity with the reference's
    readline-history (ksql.js:27-31, /tmp/ksql-answer path at :70). Returns the
    history path, or None when readline is unavailable (non-POSIX)."""
    try:
        import readline
    except ImportError:
        return None
    import os

    path = os.path.expanduser(HISTORY_FILE)
    readline.set_history_length(HISTORY_MAX)
    try:
        readline.read_history_file(path)
    except (FileNotFoundError, PermissionError, OSError):
        pass
    return path


def _save_history(path: str | None) -> None:
    if not path:
        return
    try:
        import readline

        readline.write_history_file(path)
    except (ImportError, PermissionError, OSError):
        pass


_SQL_KEYWORDS = (
    "SELECT FROM WHERE GROUP BY ORDER HAVING LIMIT JOIN LEFT RIGHT FULL "
    "INNER OUTER CROSS ON USING AS AND OR NOT IN IS NULL LIKE BETWEEN "
    "UNION ALL INTERSECT EXCEPT DISTINCT CASE WHEN THEN ELSE END "
    "INSERT INTO VALUES UPDATE SET DELETE MERGE MATCHED COUNT SUM AVG "
    "MIN MAX TOP"
).split()


def install_completer(spark) -> None:
    """Tab completion over SQL keywords + registered view/column names.
    Completions are gathered once at install (the snapshot model: views don't
    change mid-session except via the refresh loop, which keeps names)."""
    try:
        import readline
    except ImportError:
        return
    words = set(_SQL_KEYWORDS)
    try:
        for row in spark.sql("SHOW VIEWS").collect():
            view = row["viewName"]
            words.add(view)
            for f in spark.table(view).schema.fields:
                words.add(f.name)
    except Exception:
        pass  # completion is best-effort; the REPL must come up regardless
    ordered = sorted(words)

    def complete(text: str, state: int):
        lower = text.lower()
        matches = [w for w in ordered if w.lower().startswith(lower)]
        return matches[state] if state < len(matches) else None

    readline.set_completer(complete)
    readline.set_completer_delims(" \t\n,()=<>'\"")
    readline.parse_and_bind("tab: complete")


def _render(columns: list[str], rows: list, truncated: bool) -> str:
    """ASCII table over ALREADY-COLLECTED rows (cli-table2 analog,
    ksql.js:164-171) — the query runs exactly once."""
    cells = [[("NULL" if v is None else str(v)) for v in row] for row in rows]
    widths = [
        max(len(columns[i]), *(len(r[i]) for r in cells)) if cells else len(columns[i])
        for i in range(len(columns))
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "|" + "|".join(f" {columns[i]:<{widths[i]}} " for i in range(len(columns))) + "|", sep]
    for r in cells:
        out.append("|" + "|".join(f" {r[i]:<{widths[i]}} " for i in range(len(columns))) + "|")
    out.append(sep)
    if truncated:
        out.append(f"(showing first {MAX_SHOW_ROWS} rows)")
    return "\n".join(out)


def handle_line(spark, rewriter: Rewriter, line: str) -> None:
    """One query: rewrite → execute ONCE → render (ksql.js:156-176 semantics)."""
    line = line.strip()
    if not line:
        return
    try:
        from ksql_spark.compat.rewriter import extract_from_files, split_into_file
        from ksql_spark.dml import is_dml, run_dml

        if line.lower().startswith(".explain"):
            # engine-native plan visibility (no reference analog — AlaSQL
            # has no EXPLAIN): `.explain SELECT ...` prints the formatted
            # physical plan after the compat rewrite, so users can check
            # pushdown/broadcast/exchange shape from the console.
            # `.explain analyze SELECT ...` EXECUTES the query (noop sink,
            # no driver collect) and prints the AQE FINAL executed plan —
            # the runtime-re-planned shape, with actual join strategies.
            sql = line[len(".explain"):].strip()
            analyze = sql.lower().startswith("analyze ")
            if analyze:
                sql = sql[len("analyze "):].strip()
            if not sql:
                print("usage: .explain [analyze] <query>")
                return
            df = spark.sql(compat_sql(rewriter, sql))
            if analyze:
                df.write.mode("overwrite").format("noop").save()
                plan = df._jdf.queryExecution().executedPlan().toString()
                # AQE toString carries "== Final Plan ==" + "== Initial
                # Plan ==" sections; the final one is what actually ran
                print(plan.split("== Initial Plan ==")[0].rstrip())
            else:
                df.explain("formatted")
            return

        from ksql_spark.compat.rewriter import parse_copy_to

        copy_spec = parse_copy_to(line)
        if copy_spec is not None:
            # REPL-ONLY surface like INTO-file (the HTTP API rejects
            # server-path writes — same traversal rationale as below).
            from ksql_spark.operators import layout

            source_sql, out_path, spec = copy_spec
            # The layout writers use mode("overwrite") internally (sharded
            # layouts cannot be appended to), so a typo'd path would silently
            # delete whatever directory it names. Refuse an existing
            # non-empty target unless the statement says OVERWRITE (ADVICE
            # r8) — loud-by-default, matching the rest of the COPY parser.
            import os

            if (
                not spec.get("overwrite")
                and os.path.isdir(out_path)
                and os.listdir(out_path)
            ):
                raise ValueError(
                    f"COPY: target {out_path!r} exists and is non-empty; "
                    "add OVERWRITE to the options to replace it, e.g. "
                    "(SHARD BY k, OVERWRITE)"
                )
            src_df = spark.sql(compat_sql(rewriter, source_sql))
            if spec["mode"] == "shard":
                layout.write_sharded(
                    src_df, out_path, key_col=spec["key"],
                    n_shards=spec["n_shards"],
                )
                print(
                    f"wrote hash-sharded layout ({spec['n_shards']} shards "
                    f"by {spec['key']}) to {out_path}"
                )
            else:
                layout.write_zordered(
                    src_df, out_path, spec["dim_x"], spec["dim_y"],
                    n_files=spec["n_files"], bits=spec["bits"],
                )
                print(
                    f"wrote z-ordered layout ({spec['dim_x']},{spec['dim_y']}"
                    f" x {spec['n_files']} files) to {out_path}"
                )
            return

        if is_dml(line):
            # DML goes through the compat rewriter too, so reference-dialect
            # sugar (-> accessor, truthiness) works in SET/WHERE like SELECTs
            n = run_dml(spark, rewriter.rewrite(line))
            if n is None:  # rewrite broke the statement shape — be loud
                raise ValueError("DML statement failed to parse after rewrite")
            print(f"{n} row(s) affected")
            return
        # FROM/INTO file sugar is a REPL-ONLY surface by design: the HTTP API
        # deliberately rejects it — serving arbitrary server-path reads/writes
        # to HTTP clients would reopen the path-traversal class the API's
        # static-file guard closes (ksql.js:321-325 parity).
        line, fmt, path = split_into_file(line)  # SELECT … INTO CSV('f')
        line, file_srcs = extract_from_files(line)  # SELECT … FROM CSV('f')
        created: list[str] = []
        try:
            for view, src_fmt, src_path in file_srcs:
                reader = spark.read
                if src_fmt == "csv":
                    src = reader.options(header="true", inferSchema="true").csv(src_path)
                elif src_fmt == "tab":
                    src = reader.options(header="true", inferSchema="true", sep="\t").csv(
                        src_path
                    )
                elif src_fmt == "json":
                    src = _read_json_source(spark, src_path)
                elif src_fmt == "jsonl":
                    # explicit JSON Lines (training-corpus interchange):
                    # Spark's native line-delimited reader, splittable
                    src = reader.json(src_path)
                elif src_fmt == "orc":
                    src = reader.orc(src_path)
                elif src_fmt == "xlsx":
                    from ksql_spark.sources.xlsx import read_xlsx

                    header, data = read_xlsx(src_path)
                    src = spark.createDataFrame(
                        [tuple(r) for r in data] or [], schema=header
                    )
                else:
                    src = reader.parquet(src_path)
                src.createOrReplaceTempView(view)
                created.append(view)
            df = spark.sql(compat_sql(rewriter, line))
            if fmt:
                if fmt == "xlsx":
                    # single-sheet interchange file: collected on the driver
                    # (bounded by MAX_SHOW_ROWS-scale REPL usage, like AlaSQL)
                    from ksql_spark.sources.xlsx import write_xlsx

                    write_xlsx(
                        df.columns, [list(r) for r in df.collect()], path
                    )
                    print(f"wrote {fmt} to {path}")
                    return
                writer = df.write.mode("overwrite")
                method = fmt
                if fmt == "csv":
                    writer = writer.option("header", "true")
                elif fmt == "tab":  # AlaSQL TAB() = TSV: csv writer, tab separator
                    writer = writer.options(header="true", sep="\t")
                    method = "csv"
                elif fmt == "jsonl":  # Spark's json writer IS JSON Lines
                    method = "json"
                getattr(writer, method)(path)
                print(f"wrote {fmt} to {path}")
                return
            rows = df.take(MAX_SHOW_ROWS + 1)
        finally:
            # drop the per-query file views so they can't shadow catalog
            # tables or serve stale data to a later unrelated query
            for view in created:
                spark.catalog.dropTempView(view)
        if not rows:
            print("[]")  # ksql.js:160-162
        else:
            truncated = len(rows) > MAX_SHOW_ROWS
            print(_render(df.columns, rows[:MAX_SHOW_ROWS], truncated))
    except Exception as exc:  # keep the REPL alive, like ksql.js:172-174
        print(f"error: {exc}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--testdata", default=None, help="register driver parquet views")
    ap.add_argument("--no-k8s", action="store_true", help="skip k8s fixture views")
    ap.add_argument(
        "--compat-truthiness",
        action="store_true",
        help="JS-truthiness NOT on string paths (README.md:34 semantics)",
    )
    ap.add_argument(
        "--refresh",
        metavar="SECONDS",
        type=int,
        default=0,
        help="periodically re-snapshot the k8s views (the reference arms a "
        "one-shot 10s reload in TTY mode — ksql.js:280; this is the intended "
        "periodic version)",
    )
    ap.add_argument(
        "--live",
        action="store_true",
        help="read pods/nodes/services from a real API server: kubeconfig "
        "current-context (x509/token), else prompt for a URL (ksql.js:87-126)",
    )
    ap.add_argument("--kubeconfig", default=None, help="kubeconfig path "
                    "(default $KUBECONFIG or ~/.kube/config)")
    args = ap.parse_args(argv)
    client = resolve_live_client(args.live, args.kubeconfig)
    spark = build_session(args.testdata, with_k8s=not args.no_k8s, client=client)
    rewriter = make_rewriter(spark, args.compat_truthiness)
    history = _load_history() if sys.stdin.isatty() else None
    if sys.stdin.isatty():
        install_completer(spark)
    refresh_q = None
    if args.refresh and not args.no_k8s:
        from ksql_spark.streaming.jobs import snapshot_refresh

        # client forwarded: a live session must refresh from the live server,
        # not silently fall back to fixture views
        refresh_q = snapshot_refresh(
            spark, interval=f"{args.refresh} seconds", client=client
        )
    try:
        while True:
            try:
                line = input("> " if sys.stdin.isatty() else "")
            except EOFError:
                break
            handle_line(spark, rewriter, line)
    finally:
        print("shutting down")  # ksql.js:184-187
        _save_history(history)
        if refresh_q is not None:
            refresh_q.stop()
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
