"""`k8s` Python DataSource — snapshot reads of Kubernetes object lists.

Spark-first re-expression of the reference's ingest path (ksql.js:190-255):
the reference GETs pods/nodes/services from the API server and assigns the raw
arrays into AlaSQL tables (ksql.js:215-216,235), stamping denormalized scalars
(uid/node/name — ksql.js:200-201,230-234). Here the same snapshot becomes a
PySpark DataSource (`spark.read.format("k8s").option("kind","pods")`) with an
explicit typed schema (SURVEY §1.4): hot fields as structs, labels/annotations
as maps, plus a `raw` JSON column so "query anything in the object" survives.

Modes:
  * fixture (default, tests/CI): option("fixtures", dir) reads the JSON list
    files from ksql_spark/sources/fixtures.py — no cluster needed.
  * live: option("server", "https://host:6443") [+ option("token", ...)] GETs
    /api/v1/{kind} like the reference's Client (ksql.js:43-65,118-121).

The derived `containers` view (one row per container per pod, parent uid
carried — ksql.js:197-213) is containers_view(); it fixes the reference's
missing-restartCount bug with coalesce(restartCount, 0) (SURVEY §1.4).

register_k8s_views() makes the four views a point-in-time snapshot, as the
reference's in-memory tables are (ksql.js:249-257; SURVEY §1.1): one list call
per kind per refresh, held as a cached in-JVM relation that the first query
fills, with `containers` derived from the cached pods. Statements then read
the cache — no Python worker, no re-read of the fixture or the API server —
and a pods⋈containers join sees one pods list. Re-registering (the periodic
refresh) drops the previous snapshot. Direct load_k8s() reads stay live.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_META = StructType(
    [
        StructField("name", StringType()),
        StructField("namespace", StringType()),
        StructField("uid", StringType()),
        StructField("creationTimestamp", TimestampType()),
        StructField("labels", MapType(StringType(), StringType())),
        StructField("annotations", MapType(StringType(), StringType())),
    ]
)

POD_SCHEMA = StructType(
    [
        StructField("uid", StringType()),
        StructField("node", StringType()),
        StructField("metadata", _META),
        StructField(
            "spec",
            StructType(
                [
                    StructField("nodeName", StringType()),
                    StructField(
                        "containers",
                        ArrayType(
                            StructType(
                                [
                                    StructField("name", StringType()),
                                    StructField("image", StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField(
            "status",
            StructType(
                [
                    StructField("phase", StringType()),
                    StructField(
                        "containerStatuses",
                        ArrayType(
                            StructType(
                                [
                                    StructField("name", StringType()),
                                    StructField("restartCount", IntegerType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField("raw", StringType()),
    ]
)

NODE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("uid", StringType()),
        StructField("metadata", _META),
        StructField(
            "spec",
            StructType(
                [
                    StructField("podCIDR", StringType()),
                    StructField("unschedulable", BooleanType()),
                ]
            ),
        ),
        StructField(
            "status",
            StructType(
                [
                    StructField("capacity", MapType(StringType(), StringType())),
                    StructField(
                        "conditions",
                        ArrayType(
                            StructType(
                                [
                                    StructField("type", StringType()),
                                    StructField("status", StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField("raw", StringType()),
    ]
)

SERVICE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("uid", StringType()),
        StructField("metadata", _META),
        StructField(
            "spec",
            StructType(
                [
                    StructField("clusterIP", StringType()),
                    StructField("type", StringType()),
                    StructField(
                        "ports",
                        ArrayType(
                            StructType(
                                [
                                    StructField("port", IntegerType()),
                                    StructField("protocol", StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        StructField("raw", StringType()),
    ]
)

SCHEMAS = {"pods": POD_SCHEMA, "nodes": NODE_SCHEMA, "services": SERVICE_SCHEMA}


def _parse_ts(value):
    if not value:
        return None
    return datetime.fromisoformat(value.replace("Z", "+00:00")).astimezone(
        timezone.utc
    ).replace(tzinfo=None)


def _meta_tuple(meta: dict):
    return (
        meta.get("name"),
        meta.get("namespace"),
        meta.get("uid"),
        _parse_ts(meta.get("creationTimestamp")),
        meta.get("labels"),
        meta.get("annotations"),
    )


class K8sDataSource(DataSource):
    """spark.read.format("k8s").option("kind", "pods"|"nodes"|"services")."""

    @classmethod
    def name(cls) -> str:
        return "k8s"

    def schema(self):
        return SCHEMAS[self.options.get("kind", "pods")]

    def reader(self, schema):
        return _K8sReader(self.options)


# The real API server accepts only a small per-resource whitelist of field
# selector paths (a 400 otherwise); fixture mode could evaluate ANY dotted
# path, so a selector that only works on fixtures would fail first in --live
# mode (ADVICE r02). Validate against the server's whitelist in BOTH backends
# so fixture-green queries stay live-green. Source: k8s core/v1
# AddFieldLabelConversionFunc registrations (public apimachinery conversions).
_FIELD_SELECTOR_WHITELIST = {
    "pods": {
        "metadata.name", "metadata.namespace", "spec.nodeName",
        "spec.restartPolicy", "spec.schedulerName", "spec.serviceAccountName",
        "spec.hostNetwork", "status.phase", "status.podIP", "status.podIPs",
        "status.nominatedNodeName",
    },
    "nodes": {"metadata.name", "spec.unschedulable"},
    "services": {"metadata.name", "metadata.namespace"},
}


def _parse_field_selector(
    selector: str, kind: str | None = None
) -> list[tuple[str, str, str]]:
    """Parse a comma-AND field selector (kubectl grammar: `path=v`, `path==v`,
    `path!=v`) into (path, op, value) triples; op is '=' or '!='. An invalid
    term or a path the API server would reject fails HERE (driver-side, clear
    message) instead of inside a task / with a live-mode-only 400."""
    out = []
    for term in filter(None, (t.strip() for t in (selector or "").split(","))):
        if "!=" in term:
            k, v = term.split("!=", 1)
            out.append((k.strip(), "!=", v.strip()))
        elif "=" in term:
            k, v = term.replace("==", "=", 1).split("=", 1)
            out.append((k.strip(), "=", v.strip()))
        else:
            raise ValueError(
                f"invalid fieldSelector term {term!r}: expected path=value, "
                "path==value or path!=value"
            )
    allowed = _FIELD_SELECTOR_WHITELIST.get(kind or "")
    if allowed is not None:
        for path, _op, _v in out:
            if path not in allowed:
                raise ValueError(
                    f"fieldSelector path {path!r} is not supported for "
                    f"{kind} (the API server would 400); supported: "
                    f"{sorted(allowed)}"
                )
    return out


def _match_label_selector(selector: str, labels: dict) -> bool:
    """Evaluate a comma-AND label selector (kubectl subset grammar):
    `k=v`, `k==v`, `k!=v`, bare `k` (exists), `!k` (not exists)."""
    labels = labels or {}
    for term in filter(None, (t.strip() for t in selector.split(","))):
        if "!=" in term:
            k, v = term.split("!=", 1)
            if labels.get(k.strip()) == v.strip():
                return False
        elif "==" in term or "=" in term:
            k, v = term.replace("==", "=").split("=", 1)
            if labels.get(k.strip()) != v.strip():
                return False
        elif term.startswith("!"):
            if term[1:].strip() in labels:
                return False
        elif term not in labels:
            return False
    return True


def _get_path(obj, dotted: str):
    """Resolve a dotted path; None (= no match) when any step is missing or
    the intermediate is not an object — an odd path must not crash the scan."""
    for part in dotted.split("."):
        if not isinstance(obj, dict):
            return None
        obj = obj.get(part)
    return obj


class _K8sReader(DataSourceReader):
    def __init__(self, options):
        self.kind = options.get("kind", "pods")
        self.fixtures = options.get("fixtures")
        self.server = options.get("server")
        self.token = options.get("token")
        #: explicit selector options (kubectl parity); immutable per relation
        self.label_selector = options.get("labelSelector")
        self.field_selectors = _parse_field_selector(
            options.get("fieldSelector"), self.kind
        )
        # mTLS material arrives as base64 PEM option strings — resolved once
        # on the driver from kubeconfig (sources/kubeconfig.py), so executors
        # never need ~/.kube/config on their filesystem
        import base64

        self.ca_pem = base64.b64decode(options["ca_b64"]) if options.get("ca_b64") else None
        self.cert_pem = (
            base64.b64decode(options["cert_b64"]) if options.get("cert_b64") else None
        )
        self.key_pem = (
            base64.b64decode(options["key_b64"]) if options.get("key_b64") else None
        )

    # NOTE deliberately NO pushFilters override. Spark 4.1's Python DataSource
    # pushdown calls pushFilters/partitions ONCE per relation and caches the
    # mutated reader: a temp view (or any reused DataFrame) then serves every
    # later query from the first query's pushed-filter state — verified by
    # probe: after `SELECT ... WHERE v='zz'` on a view, a filterless
    # `SELECT *` on the same view returns the FILTERED rows (silent data
    # loss). Until Spark re-plans per query, the only safe server-side
    # filtering is the explicit, per-relation, immutable `labelSelector` /
    # `fieldSelector` options (the natural pushFilters translations would
    # have been uid→metadata.uid, node→spec.nodeName, name→metadata.name —
    # revisit when Spark fixes the caching).

    def partitions(self):
        # One list call = one partition (a cluster snapshot is small; the big
        # data lives in the driver tables, not here).
        return [InputPartition(0)]

    def _items(self) -> list[dict]:
        if self.server:
            import urllib.parse
            import urllib.request

            from ksql_spark.sources.kubeconfig import ClientConfig

            cfg = ClientConfig(
                server=self.server,
                ca_pem=self.ca_pem,
                cert_pem=self.cert_pem,
                key_pem=self.key_pem,
                token=self.token,
            )
            params = {}
            if self.label_selector:
                params["labelSelector"] = self.label_selector
            if self.field_selectors:
                params["fieldSelector"] = ",".join(
                    f"{k}{op}{v}" for k, op, v in self.field_selectors
                )
            qs = "?" + urllib.parse.urlencode(params) if params else ""
            req = urllib.request.Request(
                f"{self.server}/api/v1/{self.kind}{qs}"
            )
            if self.token:
                req.add_header("Authorization", f"Bearer {self.token}")
            with urllib.request.urlopen(  # noqa: S310 (explicit opt-in)
                req, context=cfg.ssl_context()
            ) as resp:
                return json.loads(resp.read())["items"]
        if not self.fixtures:
            from ksql_spark.sources.fixtures import ensure_fixtures

            self.fixtures = str(ensure_fixtures())
        with open(f"{self.fixtures}/{self.kind}.json") as f:
            items = json.load(f)["items"]
        # fixture mode evaluates the selectors locally — pushed filters MUST
        # be fully honored by the source, whichever backend serves the list
        if self.label_selector:
            items = [
                i for i in items
                if _match_label_selector(
                    self.label_selector, i.get("metadata", {}).get("labels")
                )
            ]
        for path, op, want in self.field_selectors:
            if op == "=":
                items = [i for i in items if _get_path(i, path) == want]
            else:  # '!=' — k8s matches objects whose field differs
                items = [i for i in items if _get_path(i, path) != want]
        return items

    def read(self, partition):
        items = self._items()
        if self.kind == "pods":
            for pod in items:
                meta, spec, status = pod["metadata"], pod["spec"], pod["status"]
                yield (
                    meta.get("uid"),  # stamp: ksql.js:200
                    spec.get("nodeName"),  # stamp: ksql.js:201
                    _meta_tuple(meta),
                    (
                        spec.get("nodeName"),
                        [(c.get("name"), c.get("image")) for c in spec.get("containers", [])],
                    ),
                    (
                        status.get("phase"),
                        [
                            (s.get("name"), s.get("restartCount"))
                            for s in status.get("containerStatuses", [])
                        ],
                    ),
                    json.dumps(pod, sort_keys=True),
                )
        elif self.kind == "nodes":
            for obj in items:
                meta, spec, status = obj["metadata"], obj["spec"], obj["status"]
                yield (
                    meta.get("name"),  # stamp: ksql.js:232-233
                    meta.get("uid"),
                    _meta_tuple(meta),
                    (spec.get("podCIDR"), spec.get("unschedulable")),
                    (
                        status.get("capacity"),
                        [
                            (c.get("type"), c.get("status"))
                            for c in status.get("conditions", [])
                        ],
                    ),
                    json.dumps(obj, sort_keys=True),
                )
        else:  # services
            for obj in items:
                meta, spec = obj["metadata"], obj["spec"]
                yield (
                    meta.get("name"),
                    meta.get("uid"),
                    _meta_tuple(meta),
                    (
                        spec.get("clusterIP"),
                        spec.get("type"),
                        [(p.get("port"), p.get("protocol")) for p in spec.get("ports", [])],
                    ),
                    json.dumps(obj, sort_keys=True),
                )


def containers_view(pods: DataFrame) -> DataFrame:
    """Flatten pods → containers: (image, uid, restarts), parent uid carried
    (ksql.js:197-213).

    Statuses are matched to containers BY NAME, not by array position — the
    kubelet does not guarantee containerStatuses order matches spec.containers
    (the reference's positional zip at ksql.js:204-211 has both that bug and
    the undefined-restartCount bug; coalesce(...,0) fixes the latter)."""
    return (
        pods.select(
            F.col("metadata.uid").alias("uid"),
            F.col("status.containerStatuses").alias("ss"),
            F.explode("spec.containers").alias("c"),
        )
        .select(
            F.col("c.image").alias("image"),
            "uid",
            F.coalesce(
                F.element_at(
                    F.filter(F.col("ss"), lambda s: s["name"] == F.col("c.name")), 1
                )["restartCount"],
                F.lit(0),
            ).alias("restarts"),
        )
    )


def register(spark: SparkSession) -> None:
    """Register the DataSource class with the session (idempotent).

    Spark's Python workers import this module to plan and read the source,
    and their environment is captured when the source is registered. So the
    package's parent directory is added to their PYTHONPATH first (a value
    already set is kept); without it a session started outside the
    repository fails with `No module named 'ksql_spark'`."""
    env = spark.sparkContext.environment
    root = str(Path(__file__).resolve().parents[2])
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [root])
    try:
        spark.dataSource.register(K8sDataSource)
    except Exception as exc:
        # re-registration is fine; anything else (missing Python DataSource
        # API, classpath trouble) must surface HERE, not as a confusing
        # "source not found" at read time
        if "already" not in str(exc).lower() and "exists" not in str(exc).lower():
            raise


def load_k8s(spark: SparkSession, kind: str, fixtures: str | None = None,
             server: str | None = None, token: str | None = None,
             client=None, label_selector: str | None = None,
             field_selector: str | None = None) -> DataFrame:
    """`client` is a kubeconfig.ClientConfig — its resolved server/token/PEMs
    are serialized into DataSource options (base64) so executors need no
    kubeconfig file. Explicit server/token arguments override it."""
    import base64

    register(spark)
    # an explicit schema spares load() the Python round trip that would
    # otherwise ask the DataSource for it
    r = spark.read.format("k8s").schema(SCHEMAS[kind]).option("kind", kind)
    if fixtures:
        r = r.option("fixtures", fixtures)
    if label_selector:
        r = r.option("labelSelector", label_selector)
    if field_selector:
        r = r.option("fieldSelector", field_selector)
    if client is not None:
        r = r.option("server", server or client.server)
        if token or client.token:
            r = r.option("token", token or client.token)
        for opt, pem in (
            ("ca_b64", client.ca_pem),
            ("cert_b64", client.cert_pem),
            ("key_b64", client.key_pem),
        ):
            if pem:
                r = r.option(opt, base64.b64encode(pem).decode())
        return r.load()
    if server:
        r = r.option("server", server)
    if token:
        r = r.option("token", token)
    return r.load()


def register_k8s_views(spark: SparkSession, fixtures: str | None = None,
                       server: str | None = None, token: str | None = None,
                       client=None) -> None:
    """Create the reference's four tables as temp views (ksql.js:128-135):
    pods, nodes, services + the derived containers — one snapshot.

    Each kind is read once per call: the DataSource relation is cached and
    filled by the first query that touches it (filling here would plan the
    Python scan at set-up), and `containers` derives from the cached pods.
    The previous call's snapshot is unpersisted without blocking, so a query
    still running on it recomputes from the source instead of failing."""
    for kind in SCHEMAS:
        if spark.catalog.tableExists(kind):
            spark.table(kind).unpersist(blocking=False)
    snap = {
        kind: load_k8s(spark, kind, fixtures, server, token, client).cache()
        for kind in SCHEMAS
    }
    for kind, df in snap.items():
        df.createOrReplaceTempView(kind)
    containers_view(snap["pods"]).createOrReplaceTempView("containers")

