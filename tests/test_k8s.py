"""k8s DataSource + containers view + the four README golden queries.

Goldens (reference README.md:19-35) run VERBATIM through the compat layer
(`->` rewrite, bare USING, truthiness NOT) and are checked against an
independent pure-Python evaluation of the same fixture JSON — a differential
test with no shared code path.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import pathlib

import pytest

from ksql_spark.compat.rewriter import Rewriter, compat_using
from ksql_spark.sources.fixtures import build_pods, ensure_fixtures
from ksql_spark.sources.k8s import register_k8s_views


@pytest.fixture(scope="module")
def k8s(spark):
    ensure_fixtures()
    register_k8s_views(spark)
    views = ["pods", "nodes", "services", "containers"]
    return Rewriter.from_session(spark, views, truthiness_compat=True)


def run(spark, rw, sql):
    return spark.sql(compat_using(rw.rewrite(sql))).collect()


# -- pure-Python reimplementation over the same fixture dicts ---------------


def py_containers():
    out = []
    for pod in build_pods()["items"]:
        statuses = pod["status"].get("containerStatuses", [])
        for i, c in enumerate(pod["spec"]["containers"]):
            restarts = statuses[i].get("restartCount", 0) if i < len(statuses) else 0
            out.append(
                {"image": c["image"], "uid": pod["metadata"]["uid"], "restarts": restarts}
            )
    return out


def test_source_counts(spark, k8s):
    assert spark.table("pods").count() == 20
    assert spark.table("nodes").count() == 3
    assert spark.table("services").count() == 5
    assert spark.table("containers").count() == len(py_containers())


def test_missing_restart_count_coalesced(spark, k8s):
    # pod 7 container 0 has no restartCount (reference bug ksql.js:204-211);
    # our ingest coalesces to 0 (SURVEY §1.4).
    rows = spark.sql(
        "select restarts from containers where uid = 'pod-uid-0007'"
    ).collect()
    assert 0 in [r.restarts for r in rows]


def test_golden_1_count_like(spark, k8s):
    # README.md:21
    rows = run(
        spark, k8s,
        "select count(*) from containers where containers.image like 'mysql%'",
    )
    expected = sum(1 for c in py_containers() if c["image"].startswith("mysql"))
    assert rows[0][0] == expected


def test_golden_2_group_by_image(spark, k8s):
    # README.md:26
    rows = run(
        spark, k8s,
        "select count(*),image from containers where containers.image like 'mysql%'"
        " group by image",
    )
    expected: dict[str, int] = {}
    for c in py_containers():
        if c["image"].startswith("mysql"):
            expected[c["image"]] = expected.get(c["image"], 0) + 1
    assert {(r[1], r[0]) for r in rows} == set(expected.items())


def test_golden_3_join_using_nested(spark, k8s):
    # README.md:30
    rows = run(
        spark, k8s,
        "select pods.metadata->name,pods.metadata->annotations->email,image"
        " from pods join containers using uid where image like 'mysql:5.5%'",
    )
    pods = {p["metadata"]["uid"]: p for p in build_pods()["items"]}
    expected = set()
    for c in py_containers():
        if c["image"].startswith("mysql:5.5"):
            meta = pods[c["uid"]]["metadata"]
            expected.add(
                (meta["name"], meta.get("annotations", {}).get("email"), c["image"])
            )
    assert {tuple(r) for r in rows} == expected


def test_golden_4_left_join_truthiness(spark, k8s):
    # README.md:34 — JS truthiness: keep pods whose annotations.email is absent/empty
    rows = run(
        spark, k8s,
        "select pods.metadata->name,image from pods left join containers using uid"
        " where image like 'mysql%' and not pods.metadata->annotations->email",
    )
    pods = {p["metadata"]["uid"]: p for p in build_pods()["items"]}
    expected = set()
    for c in py_containers():
        if c["image"].startswith("mysql"):
            meta = pods[c["uid"]]["metadata"]
            if not meta.get("annotations", {}).get("email"):
                expected.add((meta["name"], c["image"]))
    assert {tuple(r) for r in rows} == expected


def test_raw_json_escape_hatch(spark, k8s):
    # anything not in the typed schema is reachable via raw-> (SURVEY §1.4)
    rows = run(
        spark, k8s,
        "select pods.raw->status->phase, uid from pods",
    )
    for phase, uid in rows:
        assert phase in ("Running", "Pending", "Succeeded")


def test_fixture_shape_matches_k8s_list_response():
    d = ensure_fixtures()
    data = json.loads((d / "pods.json").read_text())
    assert "items" in data and len(data["items"]) == 20  # ksql.js:198 contract


def test_label_selector_fixture_mode(spark):
    from ksql_spark.sources.k8s import load_k8s

    web = load_k8s(spark, "pods", label_selector="tier=web").collect()
    assert web and all(r.metadata.labels["tier"] == "web" for r in web)
    not_web = load_k8s(spark, "pods", label_selector="tier!=web").collect()
    assert not_web and all(r.metadata.labels["tier"] != "web" for r in not_web)
    assert len(web) + len(not_web) == len(load_k8s(spark, "pods").collect())


def test_label_selector_exists_grammar(spark):
    from ksql_spark.sources.k8s import load_k8s

    assert load_k8s(spark, "pods", label_selector="app").count() == 20
    assert load_k8s(spark, "pods", label_selector="!app").count() == 0
    assert load_k8s(spark, "pods", label_selector="app=app-0,tier=web").count() >= 1


def test_field_selector_option(spark):
    """Explicit fieldSelector option (kubectl parity) — evaluated server-side
    in live mode, locally in fixture mode. This replaces pushFilters-based
    pushdown, which Spark 4.1 makes unsafe on shared views (cached mutated
    reader — see the note in sources/k8s.py)."""
    from ksql_spark.sources.k8s import load_k8s

    rows = load_k8s(spark, "pods", field_selector="spec.nodeName=node-0").collect()
    assert rows and all(r.node == "node-0" for r in rows)


def test_view_reuse_not_poisoned_by_filtered_query(spark):
    """Regression: a filtered query on the pods view must NOT change what a
    later unfiltered query on the same view returns (the pushFilters-caching
    hazard this source deliberately avoids)."""
    from ksql_spark.sources.k8s import load_k8s, register_k8s_views

    register_k8s_views(spark)
    total = spark.sql("select count(*) c from pods").collect()[0].c
    assert spark.sql("select uid from pods where uid = 'nope'").count() == 0
    assert spark.sql("select count(*) c from pods").collect()[0].c == total


@contextlib.contextmanager
def _api_server(fixture_dir):
    """A stub API server that serves the fixture JSON lists and records the
    path of every GET."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    seen = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802
            seen.append(self.path)
            kind = self.path.split("?")[0].rsplit("/", 1)[-1]
            body = (pathlib.Path(fixture_dir) / f"{kind}.json").read_bytes()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

    httpd = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{httpd.server_address[1]}", seen
    finally:
        httpd.shutdown()


def test_live_mode_sends_selectors(spark):
    """End-to-end: selector OPTIONS must reach the API server as query params
    (exercises __init__ option parsing AND _items' URL assembly against a real
    HTTP stub — the server does the filtering in live mode)."""
    from ksql_spark.sources.k8s import load_k8s

    with _api_server(ensure_fixtures()) as (url, seen):
        load_k8s(spark, "pods", server=url, label_selector="tier=web",
                 field_selector="spec.nodeName!=node-0").collect()
        assert len(seen) == 1
        assert "labelSelector=tier%3Dweb" in seen[0]
        assert "fieldSelector=spec.nodeName%21%3Dnode-0" in seen[0]


def _gets_per_kind(seen):
    return collections.Counter(p.split("?")[0].rsplit("/", 1)[-1] for p in seen)


def _count(spark, sql):
    return spark.sql(sql).collect()[0][0]


_JOIN = "select count(*) from pods p join containers c on p.uid = c.uid"


def test_snapshot_one_list_call_per_kind_per_refresh(spark):
    """The views are one snapshot: every statement — containers and the
    pods⋈containers join included — reads the one pods list, and a refresh
    makes exactly one new list call per kind that is read."""
    try:
        with _api_server(ensure_fixtures()) as (url, seen):
            register_k8s_views(spark, server=url)
            assert _count(spark, "select count(*) from pods") == 20
            assert _count(spark, "select count(*) from containers") == 39
            assert _count(spark, _JOIN) == 39
            assert _count(spark, "select count(*) from nodes") == 3
            assert _count(spark, "select count(*) from services") == 5
            assert _count(spark, "select count(*) from pods") == 20
            assert _gets_per_kind(seen) == {"pods": 1, "nodes": 1, "services": 1}

            register_k8s_views(spark, server=url)
            assert _count(spark, _JOIN) == 39
            assert _count(spark, "select count(*) from pods") == 20
            assert _count(spark, "select count(*) from nodes") == 3
            assert _gets_per_kind(seen) == {"pods": 2, "nodes": 2, "services": 1}
    finally:
        register_k8s_views(spark)


def test_snapshot_refresh_swaps_and_drops_old(spark, tmp_path):
    """A snapshot does not see the source change; re-registering does, and
    leaves the previous snapshot uncached."""
    from pyspark import StorageLevel

    ensure_fixtures(tmp_path)
    try:
        register_k8s_views(spark, fixtures=str(tmp_path))
        assert _count(spark, "select count(*) from pods") == 20
        assert _count(spark, "select count(*) from containers") == 39
        doc = json.loads((tmp_path / "pods.json").read_text())
        doc["items"] = doc["items"][:5]
        (tmp_path / "pods.json").write_text(json.dumps(doc))
        assert _count(spark, "select count(*) from pods") == 20
        old = spark.table("pods")
        assert old.storageLevel != StorageLevel.NONE

        register_k8s_views(spark, fixtures=str(tmp_path))
        assert _count(spark, "select count(*) from pods") == 5
        n_containers = sum(len(p["spec"]["containers"]) for p in doc["items"])
        assert _count(spark, "select count(*) from containers") == n_containers
        assert old.storageLevel == StorageLevel.NONE
    finally:
        register_k8s_views(spark)


def test_register_puts_package_on_worker_pythonpath(spark):
    """Spark's Python workers must import the DataSource's module without an
    external PYTHONPATH; a value already set is kept."""
    import ksql_spark
    from ksql_spark.sources.k8s import register

    env = spark.sparkContext.environment
    before = env.get("PYTHONPATH")
    root = str(pathlib.Path(ksql_spark.__file__).resolve().parents[1])
    try:
        env["PYTHONPATH"] = "vendor"
        register(spark)
        assert env["PYTHONPATH"].split(os.pathsep) == ["vendor", root]
        register(spark)
        assert env["PYTHONPATH"].split(os.pathsep) == ["vendor", root]
    finally:
        if before is None:
            env.pop("PYTHONPATH", None)
        else:
            env["PYTHONPATH"] = before
        register(spark)


def test_field_selector_not_equals_fixture_mode(spark):
    from ksql_spark.sources.k8s import load_k8s

    eq = load_k8s(spark, "pods", field_selector="spec.nodeName=node-0").collect()
    ne = load_k8s(spark, "pods", field_selector="spec.nodeName!=node-0").collect()
    assert eq and ne
    assert all(r.node != "node-0" for r in ne)
    assert len(eq) + len(ne) == 20


def test_field_selector_invalid_term_fails_fast(spark):
    import pytest as _pytest

    from ksql_spark.sources.k8s import _parse_field_selector

    with _pytest.raises(ValueError, match="invalid fieldSelector"):
        _parse_field_selector("metadata.name")


def test_field_selector_off_whitelist_rejected(spark):
    # ADVICE r02: a real API server only accepts a per-resource whitelist of
    # field selector paths (400 otherwise). Fixture mode must reject the same
    # paths driver-side, loudly, so fixture-green queries can't 400 only in
    # --live mode.
    import pytest

    from ksql_spark.sources.k8s import load_k8s

    with pytest.raises(Exception, match="not supported"):
        load_k8s(spark, "pods", field_selector="metadata.name.x=1").count()


def test_field_selector_whitelist_paths_accepted(spark):
    from ksql_spark.sources.k8s import load_k8s

    df = load_k8s(spark, "pods", field_selector="status.phase=Running")
    assert df.count() > 0


def test_nodes_services_golden_file_oracle(spark):
    """A2/A3 golden-file check (same technique as scan_k8s_pods' r7 oracle):
    DuckDB parses the SAME committed fixture JSON independently and must
    agree row-for-row with the k8s DataSource's projection — pinning the
    source's schema mapping for nodes and services, not just pods."""
    import duckdb
    from pyspark.sql import functions as F

    from ksql_spark.sources.fixtures import FIXTURE_DIR
    from ksql_spark.sources.k8s import load_k8s

    ensure_fixtures()

    nodes = {
        (r["uid"], r["name"], r["cpu"])
        for r in load_k8s(spark, "nodes")
        .select(
            "uid",
            F.col("metadata.name").alias("name"),
            F.col("status.capacity.cpu").alias("cpu"),
        )
        .collect()
    }
    want_nodes = {
        tuple(r)
        for r in duckdb.sql(
            f"""
            SELECT it.metadata.uid, it.metadata.name, it.status.capacity.cpu
            FROM (SELECT unnest(items) AS it
                  FROM read_json('{(FIXTURE_DIR / "nodes.json").as_posix()}'))
            """
        ).fetchall()
    }
    assert nodes == want_nodes and len(nodes) == 3

    svcs = {
        (r["uid"], r["name"], r["stype"], r["n_ports"])
        for r in load_k8s(spark, "services")
        .select(
            "uid",
            F.col("metadata.name").alias("name"),
            F.col("spec.type").alias("stype"),
            F.size("spec.ports").alias("n_ports"),
        )
        .collect()
    }
    want_svcs = {
        tuple(r)
        for r in duckdb.sql(
            f"""
            SELECT it.metadata.uid, it.metadata.name, it.spec.type,
                   CAST(len(it.spec.ports) AS INTEGER)
            FROM (SELECT unnest(items) AS it
                  FROM read_json('{(FIXTURE_DIR / "services.json").as_posix()}'))
            """
        ).fetchall()
    }
    assert svcs == want_svcs and len(svcs) == 5
