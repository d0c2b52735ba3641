"""HTTP query API — parity with the reference's web mode (ksql.js:294-361).

GET /api?query=<sql> → 200 {"headers": [...], "data": [[...], ...]}
(the exact shape process_result produces at ksql.js:299-305); missing query
→ 400 (ksql.js:310-313); execution error → 500 "error: ..." (ksql.js:306-309).
Same SparkSession serves every request (the reference shares one in-process DB
between REPL and HTTP — ksql.js:128).

Usage: python -m ksql_spark.http_api [--port 8090] [--testdata DIR]
"""

from __future__ import annotations

import argparse
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

from ksql_spark.compat.rewriter import Rewriter, compat_sql
from ksql_spark.repl import build_session, make_rewriter

MAX_ROWS = 10_000  # don't collect unbounded results into the driver


def run_query(
    spark, rewriter: Rewriter, query: str, allow_dml: bool = False
) -> dict:
    from ksql_spark.dml import is_dml, run_dml

    if is_dml(query):
        # UPDATE/DELETE/MERGE → copy-on-write (SURVEY A13). Writes over HTTP
        # are an explicit opt-in (--allow-dml); the default server is
        # read-only. In-process writers are serialized by dml._DML_LOCK, so
        # concurrent posts on the threaded server can't interleave the
        # copy-on-write swap.
        if not allow_dml:
            raise PermissionError(
                "DML over HTTP is disabled; start the server with --allow-dml"
            )
        n = run_dml(spark, rewriter.rewrite(query))
        if n is None:  # rewrite broke the statement shape — be loud
            raise ValueError("DML statement failed to parse after rewrite")
        return {"headers": ["rows_affected"], "data": [[n]]}
    df = spark.sql(compat_sql(rewriter, query)).limit(MAX_ROWS)
    rows = df.collect()
    # positional access: Row[name] returns the FIRST field with that name, so
    # name-based lookup silently duplicates values when a join projects two
    # columns with the same name (headers are already in positional order)
    return {"headers": df.columns, "data": [list(row) for row in rows]}


WWW_DIR = Path(__file__).parent / "www"
_CONTENT_TYPES = {".html": "text/html", ".css": "text/css", ".js": "text/javascript"}


def make_handler(spark, rewriter: Rewriter, allow_dml: bool = False):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _serve_static(self, path: str) -> None:
            # traversal guard, parity with ksql.js:316-353 ('..' rejected :321-325)
            if ".." in path:
                self.send_response(403)
                self.end_headers()
                self.wfile.write(b"forbidden")
                return
            rel = "index.html" if path in ("/", "") else path.lstrip("/")
            target = (WWW_DIR / rel).resolve()
            if not str(target).startswith(str(WWW_DIR.resolve())) or not target.is_file():
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b"not found")
                return
            body = target.read_bytes()
            self.send_response(200)
            self.send_header(
                "Content-Type", _CONTENT_TYPES.get(target.suffix, "application/octet-stream")
            )
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (http.server API)
            url = urlparse(self.path)
            if url.path == "/explain":
                # read-only plan introspection (mirror of the REPL's
                # .explain): formatted physical plan for the rewritten query
                params = parse_qs(url.query)
                if "query" not in params:
                    self.send_response(400)
                    self.end_headers()
                    self.wfile.write(b"Query parameter is required.")
                    return
                try:
                    plan = (
                        spark.sql(compat_sql(rewriter, params["query"][0]))
                        ._jdf.queryExecution()
                        .explainString(
                            spark._jvm.org.apache.spark.sql.execution
                            .ExplainMode.fromString("formatted")
                        )
                    )
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain")
                    self.end_headers()
                    self.wfile.write(plan.encode())
                except Exception as exc:
                    self.send_response(500)
                    self.end_headers()
                    self.wfile.write(f"error: {exc}".encode())
                return
            if url.path != "/api":
                self._serve_static(url.path)
                return
            params = parse_qs(url.query)
            if "query" not in params:  # ksql.js:310-313
                self.send_response(400)
                self.end_headers()
                self.wfile.write(b"Query parameter is required.")
                return
            try:
                result = run_query(spark, rewriter, params["query"][0], allow_dml)
                body = json.dumps(result, default=str).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)
            except Exception as exc:  # ksql.js:306-309
                self.send_response(500)
                self.end_headers()
                self.wfile.write(f"error: {exc}".encode())

    return Handler


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port", type=int, default=8090)  # ksql.js:358
    ap.add_argument(
        "--host",
        default="127.0.0.1",
        help="bind address; the endpoint executes arbitrary SQL, so exposing "
        "it beyond localhost is an explicit opt-in",
    )
    ap.add_argument("--testdata", default=None)
    ap.add_argument("--no-k8s", action="store_true")
    ap.add_argument("--compat-truthiness", action="store_true")
    ap.add_argument(
        "--allow-dml",
        action="store_true",
        help="accept UPDATE/DELETE/MERGE over HTTP (default: read-only)",
    )
    args = ap.parse_args(argv)
    spark = build_session(args.testdata, with_k8s=not args.no_k8s)
    rewriter = make_rewriter(spark, args.compat_truthiness)
    server = ThreadingHTTPServer(
        (args.host, args.port), make_handler(spark, rewriter, args.allow_dml)
    )
    print(f"listening on {args.host}:{args.port}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
