"""Deterministic inputs for the benchmark.

Two kinds of input are generated here, never read from outside the checkout:

* the ten driver tables (TPC-H-like star schema plus events, documents and
  embeddings) as single-row-group parquet files, with the column names and
  types the program's loaders expect. They are built from a fixed generator
  seed, so every run and every workload seed sees the same tables and a
  cached copy can be reused between runs;
* a Kubernetes snapshot in the list shape of `ksql_spark/sources/fixtures.py`
  (`{"kind": ..., "items": [...]}` per kind). Its content comes from the
  workload seed; its size does not, so timings do not depend on the seed.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever the generated tables change, so stale caches are rebuilt.
TABLES_VERSION = "1"
TABLES_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
_NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the data query table row column key value scan filter join hash sort "
    "merge window batch spark part line order agg big small fast slow big"
).split()


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(path: Path, columns: dict) -> None:
    table = pa.table(columns)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def build_tables(out: Path, sf: float) -> None:
    """Write the ten driver tables at scale factor `sf` into `out`."""
    rng = np.random.default_rng(TABLES_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(int(50_000 * sf), 500)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out / "region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    _write(out / "nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out / "customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out / "supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
    })
    colors = rng.integers(0, len(_COLORS), n_part)
    nouns = rng.integers(0, len(_NOUNS), n_part)
    _write(out / "part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_COLORS[c]} {_NOUNS[n]}" for c, n in zip(colors, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[t] for t in rng.integers(0, len(_PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
    })
    _write(out / "orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2400), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out / "lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2500), pa.timestamp("us")),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(out / "events.parquet", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev), i64),
        "event_type": [_EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(40.0, n_ev) + 0.01, 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(8, 90)))
        for _ in range(n_doc)
    ]
    _write(out / "documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    _write(out / "embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })


def ensure_tables(cache: Path, sf: float) -> Path:
    """Return the directory holding the tables at `sf`, generating it once.
    The directory is built beside its final name and renamed into place, so
    an interrupted run never leaves a half-written table set behind."""
    target = cache / f"tables-v{TABLES_VERSION}-sf{sf}"
    if (target / "_SUCCESS").exists():
        return target
    tmp = cache / f"{target.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build_tables(tmp, sf)
    (tmp / "_SUCCESS").write_text("")
    shutil.rmtree(target, ignore_errors=True)
    tmp.rename(target)
    return target


# -- Kubernetes snapshot ------------------------------------------------------

_IMAGES = ["mysql:5.5", "mysql:5.6", "mysql:8.0", "nginx:1.25", "redis:7.2",
           "app:v3", "postgres:16"]
N_NODES, N_PODS, N_SERVICES = 5, 60, 12


def _ts(rng: random.Random) -> str:
    return (f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z")


def build_snapshot(seed: int) -> dict:
    """pods/nodes/services lists for one workload seed. Every seed gives the
    same object counts and the same edge cases (pods with and without an
    `annotations.email`, a container status without `restartCount`); the
    seed picks names, images, placement and which pods carry each case."""
    rng = random.Random(seed)
    nodes = []
    for i in range(N_NODES):
        nodes.append({
            "metadata": {
                "name": f"node-{i}", "namespace": "", "uid": f"node-uid-{seed}-{i:04d}",
                "creationTimestamp": _ts(rng), "labels": {"zone": f"zone-{i % 2}"},
            },
            "spec": {"podCIDR": f"10.{i}.0.0/24", "unschedulable": rng.random() < 0.2},
            "status": {
                "capacity": {"cpu": str(rng.choice([4, 8, 16])),
                             "memory": f"{rng.choice([16, 32, 64])}Gi"},
                "conditions": [{"type": "Ready",
                                "status": rng.choice(["True", "True", "False"])}],
            },
        })
    email_pods = set(rng.sample(range(N_PODS), N_PODS // 3))
    no_restart = rng.randrange(N_PODS)
    pods = []
    for i in range(N_PODS):
        containers, statuses = [], []
        for j in range(rng.randint(1, 3)):
            containers.append({"name": f"c{j}", "image": rng.choice(_IMAGES)})
            status: dict = {"name": f"c{j}"}
            if not (i == no_restart and j == 0):
                status["restartCount"] = rng.randint(0, 9)
            statuses.append(status)
        annotations = {"team": f"team-{rng.randint(0, 5)}"}
        if i in email_pods:
            annotations["email"] = f"owner{rng.randint(0, 999)}@example.com"
        pods.append({
            "metadata": {
                "name": f"pod-{seed}-{i}",
                "namespace": rng.choice(["default", "default", "kube-system", "web"]),
                "uid": f"pod-uid-{seed}-{i:04d}",
                "creationTimestamp": _ts(rng),
                "labels": {"app": f"app-{rng.randint(0, 7)}",
                           "tier": rng.choice(["web", "db", "cache"])},
                "annotations": annotations,
            },
            "spec": {"nodeName": f"node-{rng.randrange(N_NODES)}", "containers": containers},
            "status": {"phase": rng.choice(["Running", "Running", "Pending", "Succeeded"]),
                       "containerStatuses": statuses},
        })
    services = []
    for i in range(N_SERVICES):
        services.append({
            "metadata": {
                "name": f"svc-{i}", "namespace": "default", "uid": f"svc-uid-{seed}-{i:04d}",
                "creationTimestamp": _ts(rng), "labels": {"app": f"app-{i % 8}"},
            },
            "spec": {"clusterIP": f"10.96.0.{i + 1}",
                     "type": rng.choice(["ClusterIP", "NodePort"]),
                     "ports": [{"port": 80 + i, "protocol": "TCP"}]},
            "status": {},
        })
    return {
        "pods": {"kind": "PodList", "items": pods},
        "nodes": {"kind": "NodeList", "items": nodes},
        "services": {"kind": "ServiceList", "items": services},
    }


def write_snapshot(snapshot: dict, out: Path) -> Path:
    out.mkdir(parents=True, exist_ok=True)
    for kind, payload in snapshot.items():
        (out / f"{kind}.json").write_text(json.dumps(payload, indent=1, sort_keys=True))
    return out
