"""Benchmark entry point.

    python3 perfbench/run.py --workload console --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

One run builds its inputs from the seed (tables are generated once and
cached under `.bench_build/perfbench`), pins the session to the host through
the settings the program reads (`SPARK_GRAFT_CPUS`, `KSQL_SPARK_DRIVER_MEM`,
`SPARK_LOCAL_DIRS`, `PYTHONPATH`), starts `worker.py` in its own process
group, waits for it, removes the run's scratch directory and prints two
lines: a `perfbench-report` line with everything measured (host, sizing,
failures, drift check) and, last, the result object with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`) named in
BENCHMARK.json. `--smoke` runs every workload briefly in both modes and
checks that output, not the program's speed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170  # the whole run, set-up and clean-up included

#: warmup_passes: warm passes run and discarded before the measured window.
#: nominal_pass_s: a warm pass's wall time on a quiet 4-vCPU host. The window
#: holds round(--seconds / nominal_pass_s) passes, at least min_passes, so a
#: run does the same work however busy the host is, and measures about
#: --seconds there. (The program keeps warming up for minutes: a window cut
#: by the clock would hold fewer, colder passes on a slower host.)
SETTINGS = {
    "console": {"warmup_passes": 1, "nominal_pass_s": 3.0, "min_passes": 3},
    "iterative": {"warmup_passes": 0, "nominal_pass_s": 8.5, "min_passes": 3},
}
SF = 0.01


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of the box, between 1 and 4 GiB: the machine is shared
    driver_mb = min(4096, max(1024, mem_kb // 1024 // 8))
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "driver_mem": f"{driver_mb}m"}


def worker_env(sizing: dict, scratch: Path) -> dict:
    env = dict(os.environ)
    # program knobs the benchmark does not set must not leak in from outside
    for key in ("KSQL_SPARK_SHUFFLE_PARTITIONS", "KSQL_SPARK_CHECKPOINT_DIR",
                "SPARK_GRAFT_SF_DIR"):
        env.pop(key, None)
    path = env.get("PYTHONPATH")
    env.update({
        "SPARK_GRAFT_CPUS": str(sizing["cpus"]),
        "KSQL_SPARK_DRIVER_MEM": sizing["driver_mem"],
        "SPARK_LOCAL_DIRS": str(scratch / "spark-local"),
        # Spark's Python workers unpickle the k8s DataSource by module path
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "KSQL_SPARK_EXTRA_CONF": "spark.ui.showConsoleProgress=false",
    })
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left in the worker's process group (the JVM exits on
    its own once the worker is gone) and wait until the group is empty."""
    pgid = proc.pid
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is None:
                time.sleep(0.1)
                continue
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def build_plan(workload: str, seed: int, seconds: int, trace: int, smoke: bool,
               scratch: Path, started: float) -> dict:
    sys.path.insert(0, str(ROOT))
    from perfbench import datagen, workloads

    sf_dir = datagen.ensure_tables(CACHE / "data", SF)
    spec = _spec()
    pass_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "pass_cpu_s")
    settings = SETTINGS[workload]
    plan = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "sf_dir": str(sf_dir),
        "tools_dir": str(ROOT / "tools"),
        "warmup_passes": 0 if smoke else settings["warmup_passes"],
        "measured_passes": 1 if smoke else max(
            settings["min_passes"], round(seconds / settings["nominal_pass_s"])),
        "pass_bound": pass_bound,
        # the measured window stops early rather than overrun the run limit
        "max_wall_s": RUN_LIMIT_S - 45 - (time.time() - started),
        "trace_path": str(CACHE / "traces" / f"{workload}-seed{seed}.json"),
    }
    if workload == "console":
        snapshot = datagen.build_snapshot(seed)
        plan["k8s_dir"] = str(datagen.write_snapshot(snapshot, scratch / "k8s"))
        plan.update(workloads.console_plan(seed, sf_dir, scratch, snapshot))
    else:
        plan.update(workloads.iterative_plan(sf_dir))
    return plan


def run_once(workload: str, seed: int, seconds: int, trace: int,
             smoke: bool = False) -> tuple[dict, dict]:
    """Run one workload in a fresh worker process; returns (result line,
    report). Raises RuntimeError when the run produced no result."""
    started = time.time()
    if not (ROOT / "ksql_spark").is_dir():
        raise RuntimeError(f"no program to benchmark: {ROOT / 'ksql_spark'} is missing")
    sizing = host_sizing()
    scratch = CACHE / f"run-{workload}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    load0, cpu0 = os.getloadavg()[0], _cpu_times()
    try:
        plan = build_plan(workload, seed, seconds, trace, smoke, scratch, started)
        plan_path = scratch / "plan.json"
        plan_path.write_text(json.dumps(plan))
        result_path = scratch / "result.json"
        log_path = scratch / "worker.log"
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.worker", str(plan_path),
                 str(result_path), repr(time.time())],
                cwd=scratch, env=worker_env(sizing, scratch), stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                pass
            finally:
                _stop_group(proc)
        if proc.returncode != 0 or not result_path.exists():
            tail = log_path.read_text(errors="replace")[-4000:]
            raise RuntimeError(f"worker exited with {proc.returncode}:\n{tail}")
        result = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    cpu1 = _cpu_times()
    tick = os.sysconf("SC_CLK_TCK")
    steal = (cpu1[7] - cpu0[7]) / tick
    busy = sum(cpu1) - sum(cpu0)
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "sizing": {**sizing, "master": f"local[{sizing['cpus']}]", "sf": SF},
        "host": {"loadavg_1m_start": load0, "loadavg_1m_end": os.getloadavg()[0],
                 "steal_s": steal, "steal_pct": 100.0 * (cpu1[7] - cpu0[7]) / max(busy, 1)},
        "wall_s": time.time() - started,
        "metrics_all": result["metrics"],
        **result["info"],
    }
    spec = _spec()
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        value = result["metrics"].get(m["name"])
        if value is None or not math.isfinite(value):
            raise RuntimeError(f"metric {m['name']} missing or not finite: {value}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    line = {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}
    last = CACHE / "last" / f"{workload}.json"
    if trace:
        # wall and CPU: the wall figure also moves with the host's load
        report["trace_overhead_pct"] = report["trace_overhead_cpu_pct"] = None
        if last.exists():
            untraced = json.loads(last.read_text())
            report["trace_overhead_pct"] = 100.0 * (
                result["metrics"]["trace.pass_s"] / untraced["pass_s"] - 1.0)
            report["trace_overhead_cpu_pct"] = 100.0 * (
                result["metrics"]["pass_cpu_s"] / untraced["pass_cpu_s"] - 1.0)
    elif not smoke:
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps({"seed": seed, **{
            k: result["metrics"][k] for k in ("pass_s", "pass_cpu_s")}}))
    return line, report


def smoke() -> int:
    """Run each workload with a tiny window in both modes and check the
    output: every metric by name with its unit, finite values and a
    correctness verdict."""
    spec = _spec()
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            try:
                line, _ = run_once(w["name"], 1, 1, trace, smoke=True)
            except RuntimeError as exc:
                problems.append(f"{w['name']} trace={trace}: {exc}")
                continue
            want = spec["per_layer"] if trace else spec["end_to_end"]
            if set(line) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w['name']} trace={trace}: keys {sorted(line)}")
            if set(line["metrics"]) != {m["name"] for m in want}:
                problems.append(f"{w['name']} trace={trace}: metric names differ")
            for m in want:
                got = line["metrics"].get(m["name"], {})
                if got.get("unit") != m["unit"]:
                    problems.append(f"{w['name']} trace={trace}: {m['name']} unit")
            if line["correct"] is not True or line["attempted"] < 1:
                problems.append(f"{w['name']} trace={trace}: correct={line['correct']} "
                                f"attempted={line['attempted']} failed={line['failed']}")
            print(f"smoke {w['name']} trace={trace}: {json.dumps(line)}", flush=True)
    for p in problems:
        print(f"smoke FAIL {p}", file=sys.stderr)
    print("smoke ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    # a TERM unwinds through run_once's clean-up: the worker's process group
    # is stopped and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        return smoke()
    if args.workload not in SETTINGS:
        ap.error(f"--workload must be one of {sorted(SETTINGS)}")
    try:
        line, report = run_once(args.workload, args.seed, args.seconds, args.trace)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print("perfbench-report " + json.dumps(report))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
