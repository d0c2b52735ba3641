"""Workload plans: what each run sends and what each reply must be.

Plans are built in the parent process before the program starts, so the
expected results (DuckDB over the same parquet, and plain Python over the
generated Kubernetes snapshot) never share a code path with the program and
never run inside a timed region.
"""

from __future__ import annotations

import random
from pathlib import Path

#: The four reference README queries (tests/test_k8s.py goldens 1-4), verbatim.
GOLDENS = {
    "g1_count_like":
        "select count(*) from containers where containers.image like 'mysql%'",
    "g2_group_by_image":
        "select count(*),image from containers where containers.image like 'mysql%'"
        " group by image",
    "g3_join_using_nested":
        "select pods.metadata->name,pods.metadata->annotations->email,image"
        " from pods join containers using uid where image like 'mysql:5.5%'",
    "g4_left_join_truthiness":
        "select pods.metadata->name,image from pods left join containers using uid"
        " where image like 'mysql%' and not pods.metadata->annotations->email",
}

#: The reference's bare-path form. With pods, nodes and services registered,
#: `metadata` is ambiguous and the statement fails today; it stays in the
#: mix as a known failure so a fix shows up in success_rate.
BARE_PATH = "select metadata->name from pods"

ITERATIVE_ENTRIES = (
    "graph_pagerank", "graph_components", "graph_bfs", "graph_kcore",
    "graph_sssp_weighted",
)

DML_TABLE = "bench_cow"


def _containers(snapshot: dict) -> list[dict]:
    out = []
    for pod in snapshot["pods"]["items"]:
        meta = pod["metadata"]
        for c in pod["spec"]["containers"]:
            out.append({"image": c["image"], "name": meta["name"],
                        "email": meta.get("annotations", {}).get("email")})
    return out


def k8s_expected(snapshot: dict) -> dict:
    """Rows each golden must return, evaluated in plain Python over the
    snapshot JSON (one row per matching container, as the SQL join gives)."""
    cs = _containers(snapshot)
    mysql = [c for c in cs if c["image"].startswith("mysql")]
    by_image: dict = {}
    for c in mysql:
        by_image[c["image"]] = by_image.get(c["image"], 0) + 1
    return {
        "g1_count_like": [[len(mysql)]],
        "g2_group_by_image": [[n, image] for image, n in by_image.items()],
        "g3_join_using_nested": [
            [c["name"], c["email"], c["image"]]
            for c in cs if c["image"].startswith("mysql:5.5")
        ],
        "g4_left_join_truthiness": [
            [c["name"], c["image"]] for c in mysql if not c["email"]
        ],
        "bare_path": [[p["metadata"]["name"]] for p in snapshot["pods"]["items"]],
    }


def parquet_statements(rng: random.Random) -> dict:
    """Ad-hoc statements over the sf0.01 views, one per layer: a filtered
    scan, an aggregate, a join and the reference's `TOP n` spelling. The
    literals come from the workload seed. Each entry is (console spelling,
    DuckDB spelling); they differ only in `TOP n`."""
    q = rng.randint(10, 40)
    d1 = rng.randint(1, 5) / 100
    ship = f"{rng.randint(1996, 2000)}-{rng.randint(1, 12):02d}-01"
    lq = rng.randint(30, 49)
    bal = rng.randint(0, 8000)
    same = {
        "p_scan_filter_count":
            f"select count(*) as n from lineitem where l_quantity > {q}"
            f" and l_discount between {d1:.2f} and {d1 + 0.03:.2f}",
        "p_aggregate_returnflag":
            f"select l_returnflag, l_linestatus, sum(l_quantity) as qty, count(*) as n"
            f" from lineitem where l_shipdate < date '{ship}'"
            f" group by l_returnflag, l_linestatus",
        "p_join_status":
            f"select o_orderstatus, count(*) as n from lineitem join orders"
            f" on l_orderkey = o_orderkey where l_quantity >= {lq} group by o_orderstatus",
    }
    top = (f" n_name, count(*) as n from customer join nation on c_nationkey = n_nationkey"
           f" where c_acctbal > {bal} group by n_name order by n desc, n_name")
    out = {k: (v, v) for k, v in same.items()}
    out["p_top_nations"] = (f"select top 5{top}", f"select{top} limit 5")
    return out


def console_plan(seed: int, sf_dir: Path, scratch: Path, snapshot: dict) -> dict:
    import duckdb

    rng = random.Random(seed)
    con = duckdb.connect()
    try:
        for t in ("customer", "nation", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        statements = []
        expect_dir = scratch / "expect"
        expect_dir.mkdir(parents=True, exist_ok=True)
        golden_rows = k8s_expected(snapshot)
        for sid, sql in GOLDENS.items():
            statements.append({"id": sid, "kind": "k8s", "sql": sql, "expect": golden_rows[sid]})
        statements.append({"id": "bare_path", "kind": "bare", "sql": BARE_PATH,
                           "expect": golden_rows["bare_path"], "known_failure": True})
        for sid, (sql, duck_sql) in parquet_statements(rng).items():
            path = expect_dir / f"{sid}.parquet"
            con.execute(duck_sql).df().to_parquet(path)
            statements.append({"id": sid, "kind": "parquet", "sql": sql, "expect": str(path)})
        mod = rng.randint(3, 9)
        rem = rng.randint(0, mod - 1)
        where = f"k % {mod} = {rem}"
        n_rows, sum_k = con.execute(
            f"SELECT count(*), sum(o_orderkey) FROM orders WHERE o_orderkey % {mod} = {rem}"
        ).fetchone()
        for sid, op in (("dml_plus", "+"), ("dml_minus", "-")):
            statements.append({"id": sid, "kind": "dml",
                               "sql": f"UPDATE {DML_TABLE} SET v = v {op} 1 WHERE {where}",
                               "expect": [[n_rows]]})
        n, s, kv = (int(x) for x in con.execute(
            "SELECT count(*), sum(o_custkey), sum(o_orderkey * o_custkey) FROM orders"
        ).fetchone())
    finally:
        con.close()
    return {
        "statements": statements,
        "dml": {
            "table": DML_TABLE,
            "location": str(scratch / "catalog" / DML_TABLE),
            "create": f"CREATE TABLE {DML_TABLE} USING PARQUET LOCATION '{{location}}' AS"
                      " SELECT o_orderkey AS k, o_custkey AS v, o_orderstatus AS tag"
                      " FROM orders",
            "check_sql": f"SELECT count(*) AS n, sum(v) AS s, sum(k * v) AS kv"
                         f" FROM {DML_TABLE}",
            # after `+1` every matched row is 1 higher; after `-1` the table
            # is back to what it was
            "check_expect": {"dml_plus": [n, s + n_rows, kv + int(sum_k)],
                             "dml_minus": [n, s, kv]},
        },
    }


def iterative_plan(sf_dir: Path) -> dict:
    """Registry oracles for the graph entries, evaluated by DuckDB. A result
    depends only on the tables and the oracle's text, so it is kept beside
    the tables under a hash of that text and evaluated once."""
    import hashlib

    from ksql_spark.registry import all_specs

    specs = all_specs()
    expect_dir = sf_dir / "oracle"
    expect_dir.mkdir(exist_ok=True)
    expect = {}
    con = None
    try:
        for name in ITERATIVE_ENTRIES:
            digest = hashlib.sha1(specs[name].oracle.encode()).hexdigest()[:12]
            path = expect_dir / f"{name}-{digest}.parquet"
            if not path.exists():
                if con is None:
                    import duckdb

                    from ksql_spark.tables import TABLES

                    con = duckdb.connect()
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM"
                                    f" read_parquet('{sf_dir}/{t}.parquet')")
                tmp = path.with_suffix(".tmp")
                con.execute(specs[name].oracle).df().to_parquet(tmp)
                tmp.rename(path)
            expect[name] = str(path)
    finally:
        if con is not None:
            con.close()
    return {"entries": list(ITERATIVE_ENTRIES), "expect": expect}
