"""Spans and Spark counters for the traced run (`--trace 1`).

Spans are kept in memory and written out when the run ends. Each span has a
name, start, end, parent and the id of the statement (or registry entry) it
belongs to. They are recorded from the benchmark's own files: shims wrap the
public functions the program calls at each layer boundary, and the program
itself is not edited. Spark's own counters (jobs, stages, tasks, shuffle and
input volumes) are read through job groups and the status store at the same
statement boundaries, outside the statement's timed span.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: Layers whose Spark calls are part of their own time: a `spark.sql` or
#: `collect` made inside them is not reported as a separate layer.
OPAQUE = frozenset({"dml.run_dml", "registry.build", "scale.pin"})


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stmt: str | None = None  # statement in flight (one client)
        self.root: dict | None = None  # its root span, parent for other threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def opaque(self) -> bool:
        """True inside a layer that owns the Spark calls it makes."""
        return any(s["name"] in OPAQUE for s in self._stack())

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "stmt": self.stmt,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        if root:
            self.root = rec
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if root:
                self.root = None
            with self._lock:
                self.spans.append(rec)

    def layer_totals(self, stmts: set) -> dict:
        """Per span name over the given statements: total milliseconds and
        number of spans. A span nested in a span of the same name (a pin
        inside `pin_invariant`) is not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict = {}
        for s in self.spans:
            if s["stmt"] not in stmts:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != s["name"]:
                p = by_id.get(p["parent"])
            if p is None:
                t = out.setdefault(s["name"], {"ms": 0.0, "n": 0})
                t["ms"] += (s["end"] - s["start"]) * 1e3
                t["n"] += 1
        return out

    def dump(self, path: Path, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": spans}))


def install_shims(tracer: Tracer) -> None:
    """Wrap the program's public layer boundaries with spans. Must run before
    `ksql_spark.queries` is imported: query modules bind `pin` and
    `pin_invariant` by name at import time."""
    from pyspark.sql import SparkSession

    try:  # Spark 4 splits DataFrame into an API class and the classic one
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    import ksql_spark.dml as dml
    import ksql_spark.http_api as http_api
    import ksql_spark.operators.scale as scale
    from ksql_spark.compat.rewriter import Rewriter

    def wrap(fn, name, skip_opaque=False):
        def traced(*args, **kwargs):
            if tracer.stmt is None or (skip_opaque and tracer.opaque()):
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    Rewriter.rewrite = wrap(Rewriter.rewrite, "compat.rewrite")
    SparkSession.sql = wrap(SparkSession.sql, "spark.analyze", skip_opaque=True)
    dml.run_dml = wrap(dml.run_dml, "dml.run_dml")
    scale.pin = wrap(scale.pin, "scale.pin")
    scale.pin_invariant = wrap(scale.pin_invariant, "scale.pin")

    collect = DataFrame.collect

    def traced_collect(self):
        if tracer.stmt is None or tracer.opaque():
            return collect(self)
        with tracer.span("spark.plan"):
            self._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            return collect(self)

    DataFrame.collect = traced_collect

    run_query = http_api.run_query

    def traced_run_query(spark, rewriter, query, allow_dml=False):
        # runs on the server's request thread: tag its jobs with the
        # statement id so the counters can find them afterwards
        sc = spark.sparkContext
        sc.setJobGroup(tracer.stmt or "untraced", "perfbench")
        try:
            with tracer.span("http_api.run_query"):
                return run_query(spark, rewriter, query, allow_dml)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    http_api.run_query = traced_run_query


def spark_counters(spark, group: str) -> dict:
    """Jobs, executed stages, tasks and I/O volumes of one job group, from
    Spark's status store once its listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0,
           "scan_rows": 0, "output_bytes": 0}
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
        out["scan_rows"] += sd.inputRecords()
        out["output_bytes"] += sd.outputBytes()
    return out


def gc_ms(spark) -> int:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)
