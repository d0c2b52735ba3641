"""One benchmark run: one process, one workload, one closed-loop client.

Started by `run.py` with the session pinned to the host through the
environment. It reads the plan `run.py` wrote (statements, entries and their
expected results), sets the program up through its public functions, runs a
cold pass, warm-up passes and then the plan's number of measured passes,
checks every result, and writes its measurements to the result
file. Usage (from `run.py` only): worker.py PLAN RESULT LAUNCH_WALL_TIME
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class SetupTimer:
    """Times the set-up calls; in a traced run each is also a span."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.times: dict = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        if self.tracer is None:
            yield
        else:
            self.tracer.stmt = "setup"
            try:
                with self.tracer.span(name):
                    yield
            finally:
                self.tracer.stmt = None
        self.times[name] = time.perf_counter() - t0


def _rows_key(rows) -> list:
    return sorted(json.dumps(r, default=str) for r in rows)


class Console:
    """The reference's own traffic over the HTTP API (`make_handler` on a
    `ThreadingHTTPServer`, truthiness compat on, DML allowed)."""

    read_kinds = ("k8s", "parquet")

    def __init__(self, plan: dict, tracer) -> None:
        self.plan = plan
        self.tracer = tracer
        self.items = plan["statements"]
        self.expected: dict = {}
        #: per pass: the DML table dir's name length before and after its pair
        self.location_chars: list[list[int]] = []

    def setup(self, timer: SetupTimer) -> None:
        from http.server import ThreadingHTTPServer

        from ksql_spark.http_api import make_handler
        from ksql_spark.repl import make_rewriter
        from ksql_spark.session import get_spark
        from ksql_spark.sources.k8s import register_k8s_views
        from ksql_spark.tables import register_views

        with timer("session.get_spark_s"):
            self.spark = get_spark(app_name="perfbench-console")
        with timer("tables.register_views_s"):
            register_views(self.spark, self.plan["sf_dir"])
        with timer("sources.k8s.register_s"):
            register_k8s_views(self.spark, fixtures=self.plan["k8s_dir"])
        with timer("repl.make_rewriter_s"):
            rewriter = make_rewriter(self.spark, True)
        with timer("http_api.start_s"):
            self.server = ThreadingHTTPServer(
                ("127.0.0.1", 0), make_handler(self.spark, rewriter, allow_dml=True)
            )
            self.thread = threading.Thread(target=self.server.serve_forever,
                                           kwargs={"poll_interval": 0.05}, daemon=True)
            self.thread.start()

    def prepare(self) -> None:
        """Untimed scaffolding: the catalog table the DML statements rewrite
        and the expected results."""
        import pandas as pd

        for st in self.items:
            if st["kind"] == "parquet":
                self.expected[st["id"]] = pd.read_parquet(st["expect"])

    def before_pass(self, index: int) -> None:
        """Untimed: a fresh copy of the DML table for every pass. Each
        copy-on-write UPDATE appends 14 characters to the table directory's
        name, so one table takes only 17 updates before the name passes
        NAME_MAX (255) and the next write fails; `dml_location` in the report
        measures that growth on every run."""
        dml = self.plan["dml"]
        location = Path(f"{dml['location']}_p{index}")
        self.spark.sql(f"DROP TABLE IF EXISTS {dml['table']}")
        self.spark.sql(dml["create"].format(location=location))
        self.location_chars.append([len(location.name)])

    def teardown(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()
        self.spark.stop()

    def _send(self, sql: str) -> tuple[int, bytes]:
        import http.client
        from urllib.parse import quote

        conn = http.client.HTTPConnection("127.0.0.1", self.server.server_address[1])
        try:
            conn.request("GET", "/api?query=" + quote(sql))
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def check(self, st: dict, reply: tuple[int, bytes]) -> str | None:
        """None when the reply is correct, else why not."""
        status, body = reply
        if status != 200:
            return f"HTTP {status}: {body[:300].decode(errors='replace')}"
        doc = json.loads(body)
        if st["kind"] == "parquet":
            import pandas as pd
            from driver_sim import canon, frames_equal

            got = pd.DataFrame(doc["data"], columns=doc["headers"])
            ok, why = frames_equal(canon(got), canon(self.expected[st["id"]]))
            return None if ok else why
        if _rows_key(doc["data"]) != _rows_key(st["expect"]):
            return f"rows {doc['data'][:5]} != expected {st['expect'][:5]}"
        return self._check_table(st["id"]) if st["kind"] == "dml" else None

    def _check_table(self, sid: str) -> str | None:
        """The DML table's count and checksums after `sid`. `dml_plus` must
        have added 1 to every matched row (the reply's row count alone does
        not show that the write happened); `dml_minus` must have restored
        the table."""
        dml = self.plan["dml"]
        want = dml["check_expect"][sid]
        got = [list(r) for r in self.spark.sql(dml["check_sql"]).collect()]
        if sid == "dml_minus":
            desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {dml['table']}").collect()
            location = next(r["data_type"] for r in desc if r["col_name"] == "Location")
            self.location_chars[-1].append(len(Path(location.removeprefix("file:")).name))
        return None if got == [want] else (
            f"{dml['table']} count/sum/checksum after {sid}: {got} != {want}")

    def run_item(self, st: dict, stmt_id: str) -> tuple[int, bytes]:
        tracer = self.tracer
        if tracer is None:
            return self._send(st["sql"])
        tracer.stmt = stmt_id
        try:
            with tracer.span("http.request", root=True):
                return self._send(st["sql"])
        finally:
            tracer.stmt = None


class Iterative:
    """Graph fixpoints built with the registry's builders and collected
    through Arrow, each checked against the registry's DuckDB oracle."""

    read_kinds = ("entry",)

    def __init__(self, plan: dict, tracer) -> None:
        self.plan = plan
        self.tracer = tracer
        self.items = [{"id": n, "kind": "entry"} for n in plan["entries"]]
        self.expected: dict = {}

    def setup(self, timer: SetupTimer) -> None:
        from ksql_spark.repl import make_rewriter
        from ksql_spark.session import get_spark
        from ksql_spark.tables import register_views

        with timer("session.get_spark_s"):
            self.spark = get_spark(app_name="perfbench-iterative")
        with timer("tables.register_views_s"):
            register_views(self.spark, self.plan["sf_dir"])
        with timer("repl.make_rewriter_s"):
            make_rewriter(self.spark, False)
        with timer("registry.load_s"):
            from ksql_spark.registry import all_specs

            self.specs = all_specs()

    def prepare(self) -> None:
        import pandas as pd

        for name in self.plan["entries"]:
            self.expected[name] = pd.read_parquet(self.plan["expect"][name])

    def before_pass(self, index: int) -> None:
        pass

    def teardown(self) -> None:
        self.spark.stop()

    def run_item(self, st: dict, stmt_id: str):
        spec = self.specs[st["id"]]
        sf_dir = self.plan["sf_dir"]
        tracer = self.tracer
        if tracer is None:
            return spec.builder(self.spark, sf_dir).toPandas()
        sc = self.spark.sparkContext
        sc.setJobGroup(stmt_id, "perfbench")
        tracer.stmt = stmt_id
        try:
            with tracer.span("entry", root=True):
                with tracer.span("registry.build"):
                    df = spec.builder(self.spark, sf_dir)
                with tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.exec"):
                    return df.toPandas()
        finally:
            tracer.stmt = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    def check(self, st: dict, got) -> str | None:
        from driver_sim import canon, frames_equal

        ok, why = frames_equal(canon(got), canon(self.expected[st["id"]]))
        return None if ok else why


WORKLOADS = {"console": Console, "iterative": Iterative}


def _proc_kb(pid: int, field: str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    return 0


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of `root` and all its descendants: the
    worker, the driver JVM and Spark's Python workers, with the children
    they have reaped. Time the host steals from the VM is not in it."""
    parent: dict = {}
    cpu: dict = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        pid = int(entry.name)
        parent[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    children: dict = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


_TICK = os.sysconf("SC_CLK_TCK")


def _quantile(values: list, q: float) -> float:
    """Nearest-rank quantile of a non-empty sample."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Run:
    def __init__(self, plan: dict, launch_wall: float) -> None:
        self.plan = plan
        self.launch_wall = launch_wall
        self.tracer = None
        if plan["trace"]:
            from perfbench.trace import Tracer, install_shims

            self.tracer = Tracer()
            install_shims(self.tracer)
        self.wl = WORKLOADS[plan["workload"]](plan, self.tracer)
        self.passes: list[list[dict]] = []
        self.counters: dict = {}
        self.gc: list[int] = []
        self.heap_mb: list[float] = []  # live heap before each pass

    def order(self, index: int) -> list[dict]:
        """The pass's statement order, drawn from the workload seed. The
        paired DML statements stay adjacent, `+1` before `-1`."""
        rng = random.Random(f"{self.plan['seed']}:{index}")
        singles = [st for st in self.wl.items if st["id"] not in ("dml_plus", "dml_minus")]
        pair = [st for st in self.wl.items if st["id"] in ("dml_plus", "dml_minus")]
        rng.shuffle(singles)
        at = rng.randint(0, len(singles))
        return singles[:at] + pair + singles[at:]

    def run_pass(self, index: int) -> list[dict]:
        from perfbench.trace import gc_ms, spark_counters

        spark = self.wl.spark
        self.wl.before_pass(index)
        # untimed: every pass starts from a collected heap, and the live heap
        # left by the previous pass is the memory sample
        jvm = spark._jvm
        jvm.java.lang.System.gc()
        self.heap_mb.append(
            jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed() / 2**20)
        gc0 = gc_ms(spark) if self.tracer else 0
        out = []
        me = os.getpid()
        for st in self.order(index):
            stmt_id = f"p{index}.{st['id']}"
            cpu0 = tree_cpu_s(me)
            t0 = time.perf_counter()
            try:
                reply, why = self.wl.run_item(st, stmt_id), None
            except Exception as exc:  # a failed statement is counted, not fatal
                why = f"{type(exc).__name__}: {str(exc)[:300]}"
            ms = (time.perf_counter() - t0) * 1e3
            cpu = tree_cpu_s(me) - cpu0
            if why is None:  # untimed
                try:
                    why = self.wl.check(st, reply)
                except Exception as exc:
                    why = f"check: {type(exc).__name__}: {str(exc)[:300]}"
            if self.tracer is not None:
                self.tracer.stmt = None
                self.counters[stmt_id] = spark_counters(spark, stmt_id)
            out.append({"id": st["id"], "kind": st["kind"], "stmt": stmt_id,
                        "ms": ms, "cpu_s": cpu, "why": why,
                        "known": st.get("known_failure", False)})
        if self.tracer is not None:
            self.gc.append(gc_ms(spark) - gc0)
        self.passes.append(out)
        return out

    def measure(self) -> dict:
        plan = self.plan
        self.run_pass(0)  # cold
        for i in range(1, 1 + plan["warmup_passes"]):
            self.run_pass(i)
        first_measured = len(self.passes)
        deadline = self.launch_wall + plan["max_wall_s"]
        t0 = time.perf_counter()
        for i in range(plan["measured_passes"]):
            if i and time.time() > deadline:
                break  # the run limit wins; `measured_passes` shows the cut
            self.run_pass(len(self.passes))
        return {"first_measured": first_measured, "window_s": time.perf_counter() - t0}

    def rss_mb(self, first_measured: int) -> dict:
        jvm = self.wl.spark._jvm
        jvm.java.lang.System.gc()
        heap = self.heap_mb[first_measured:] + [
            jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed() / 2**20]
        jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        me = os.getpid()
        return {
            "jvm_live_heap_mb": statistics.median(heap),
            "jvm_rss_mb": _proc_kb(jvm_pid, "VmRSS") / 1024,
            "jvm_hwm_mb": _proc_kb(jvm_pid, "VmHWM") / 1024,
            "py_rss_mb": _proc_kb(me, "VmRSS") / 1024,
            "py_hwm_mb": _proc_kb(me, "VmHWM") / 1024,
        }


def summarize(run: Run, window: dict, setup: dict, setup_layers: dict, mem: dict) -> dict:
    measured = run.passes[window["first_measured"]:]
    read_kinds = run.wl.read_kinds

    def pass_s(p):
        return sum(r["ms"] for r in p) / 1e3

    def pass_cpu_s(p):
        return sum(r["cpu_s"] for r in p)

    all_items = [r for p in run.passes for r in p]
    ok = [r for r in all_items if r["why"] is None]
    unexpected = [r for r in all_items if r["why"] is not None and not r["known"]]
    reads = [r["ms"] for p in measured for r in p
             if r["kind"] in read_kinds and r["why"] is None]
    writes = [r["ms"] for p in measured for r in p if r["kind"] == "dml" and r["why"] is None]
    warm = [pass_s(p) for p in measured]
    warm_cpu = [pass_cpu_s(p) for p in measured]
    half = len(warm_cpu) // 2
    early = statistics.median(warm_cpu[:half]) if half else warm_cpu[0]
    late = statistics.median(warm_cpu[-half:]) if half else warm_cpu[-1]
    metrics = {
        "setup_s": setup["wall_s"],
        "setup_cpu_s": setup["cpu_s"],
        "first_pass_s": pass_s(run.passes[0]),
        "first_pass_cpu_s": pass_cpu_s(run.passes[0]),
        "pass_s": statistics.median(warm),
        "pass_cpu_s": statistics.median(warm_cpu),
        "read_p50_ms": statistics.median(reads) if reads else float("nan"),
        "success_rate": len(ok) / len(all_items),
        "rss_mb": mem["jvm_live_heap_mb"] + mem["py_rss_mb"],
    }
    failures: dict = {}
    for r in all_items:
        if r["why"] is not None:
            f = failures.setdefault(r["id"], {"count": 0, "known_failure": r["known"],
                                              "why": r["why"]})
            f["count"] += 1
    info = {
        "setup_layers_s": setup_layers,
        "memory_mb": mem,
        "passes": len(run.passes),
        "warmup_passes": run.plan["warmup_passes"],
        "measured_passes": len(measured),
        "window_s": window["window_s"],
        "warm_passes_s": warm,
        "warm_passes_cpu_s": warm_cpu,
        "read_samples": len(reads),
        # a percentile is given only with at least ten samples beyond it
        "read_p75_ms": _quantile(reads, 0.75) if len(reads) >= 40 else None,
        "read_p90_ms": _quantile(reads, 0.9) if len(reads) >= 100 else None,
        "write_samples": len(writes),
        "write_p50_ms": statistics.median(writes) if writes else None,
        "drift": {"early_pass_cpu_s": early, "late_pass_cpu_s": late,
                  "change": late / early - 1.0,
                  "flag": abs(late / early - 1.0) > run.plan["pass_bound"]},
        "failures": failures,
        "all_passes_s": [pass_s(p) for p in run.passes],
        "item_p50_ms": {
            i["id"]: statistics.median(r["ms"] for p in measured for r in p
                                       if r["id"] == i["id"])
            for i in run.wl.items
        },
        "item_cpu_p50_s": {
            i["id"]: statistics.median(r["cpu_s"] for p in measured for r in p
                                       if r["id"] == i["id"])
            for i in run.wl.items
        },
    }
    chars = [c for c in getattr(run.wl, "location_chars", []) if len(c) == 2]
    if chars:
        start, after = chars[0]
        per_update = (after - start) / 2
        info["dml_location"] = {
            "name_chars_before_pair": start,
            "name_chars_after_pair": after,
            "chars_per_update": per_update,
            "updates_before_name_max": (255 - start) // per_update if per_update else None,
        }
    if run.tracer is not None:
        metrics.update(layer_metrics(run, measured, setup_layers))
    return {
        "metrics": metrics,
        "attempted": len(all_items),
        "failed": len(unexpected),
        "correct": not unexpected,
        "info": info,
    }


def layer_metrics(run: Run, measured: list, setup_layers: dict) -> dict:
    tracer = run.tracer
    per_pass: list[dict] = []
    for p in measured:
        stmts = {r["stmt"] for r in p}
        k8s = {r["stmt"] for r in p if r["kind"] in ("k8s", "bare")}
        dml = {r["stmt"] for r in p if r["kind"] == "dml"}
        totals = tracer.layer_totals(stmts)

        def ms(name, t=totals):
            return t.get(name, {}).get("ms", 0.0)

        c = [run.counters[s] for s in stmts]
        cd = [run.counters[s] for s in dml]
        per_pass.append({
            "compat.rewrite_ms": ms("compat.rewrite"),
            "spark.analyze_ms": ms("spark.analyze"),
            "spark.plan_ms": ms("spark.plan"),
            "spark.exec_ms": ms("spark.exec"),
            "sources.k8s.exec_ms": ms("spark.exec", tracer.layer_totals(k8s)),
            "http_api.overhead_ms": ms("http.request") - ms("http_api.run_query"),
            "dml.run_dml_ms": ms("dml.run_dml"),
            "registry.build_ms": ms("registry.build"),
            "scale.pin_ms": ms("scale.pin"),
            "scale.pins": totals.get("scale.pin", {}).get("n", 0),
            "spark.jobs": sum(x["jobs"] for x in c),
            "spark.stages": sum(x["stages"] for x in c),
            "spark.tasks": sum(x["tasks"] for x in c),
            "exec.shuffle_bytes": sum(x["shuffle_bytes"] for x in c),
            "exec.scan_rows": sum(x["scan_rows"] for x in c),
            "dml.jobs": sum(x["jobs"] for x in cd),
            "dml.bytes_rewritten": sum(x["output_bytes"] for x in cd),
            "trace.pass_s": sum(r["ms"] for r in p) / 1e3,
        })
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["jvm.gc_ms"] = statistics.median(run.gc[len(run.gc) - len(measured):])
    for name in ("session.get_spark_s", "tables.register_views_s",
                 "sources.k8s.register_s", "repl.make_rewriter_s", "registry.load_s"):
        out[name] = setup_layers.get(name, 0.0)
    return out


def main(argv: list[str]) -> int:
    plan_path, result_path, launch_wall = argv[1], Path(argv[2]), float(argv[3])
    plan = json.loads(Path(plan_path).read_text())
    sys.path.insert(0, plan["tools_dir"])  # driver_sim's frame comparison
    run = Run(plan, launch_wall)
    timer = SetupTimer(run.tracer)
    run.wl.setup(timer)
    # the cold set-up, from the moment run.py started this process
    setup = {"wall_s": time.time() - launch_wall, "cpu_s": tree_cpu_s(os.getpid())}
    run.wl.prepare()
    timeline = {"setup_done": time.time() - launch_wall}
    window = run.measure()
    timeline["window_done"] = time.time() - launch_wall
    mem = run.rss_mb(window["first_measured"])
    run.wl.teardown()
    result = summarize(run, window, setup, timer.times, mem)
    result["info"]["timeline_s"] = timeline
    if run.tracer is not None:
        trace_path = Path(plan["trace_path"])
        run.tracer.dump(trace_path, {"workload": plan["workload"], "seed": plan["seed"],
                                     "counters": run.counters})
        result["info"]["trace_file"] = str(trace_path)
    result_path.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
