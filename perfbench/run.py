#!/usr/bin/env python3
"""quackspark benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload dataprep_pipeline --seed 1 --seconds 18 --trace 0

Run from the repository root. The first run generates the seeded input
tables under ``.bench_build/perfbench/data`` (a few seconds). Every run
then starts a ``local[nproc]`` session with the program's own defaults,
builds the derived storage layout afresh where the workload reads it,
seeds the write tables, runs untimed warm-up passes and then passes of
the workload's statements for ``--seconds``. ``--seed`` orders the
statements; the tables and statements are the same for every seed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics (see README.md). The
line before it records the run's environment and per-statement detail.
A wrong output is counted in ``failed`` and printed to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOAD_NAMES = ("olap_headline", "dataprep_pipeline", "sql_session")

E2E = {"setup_s": "s", "pass_s": "s", "stmt_p50_ms": "ms", "stmt_p90_ms": "ms"}


def _sandbox() -> str:
    """Keep every file Spark and the JVM write inside the checkout, and
    give each run a fresh working directory (warehouse, metastore);
    returns that directory."""
    tmp = os.path.join(WORK, "tmp")
    run = os.path.join(WORK, "run", str(os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    for d in (tmp, run):
        os.makedirs(d, exist_ok=True)
    # Python workers start in the run directory and import the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(run)
    return run


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _environment(spark) -> dict:
    import duckdb
    import pyspark

    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "jvm_max_heap_mb": round(rt.maxMemory() / 2**20),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_start": os.getloadavg(),
    }


def _invalidate_layout(sf_dir: str) -> None:
    """Bump the inputs' mtimes so the derived layout rebuilds: set-up then
    costs the same on every run, not only on a checkout's first."""
    now = time.time()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            os.utime(os.path.join(sf_dir, f), (now, now))


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import datagen
    from layers import absolute, per_layer
    from tracer import Tracer
    from workloads import WORKLOADS

    cls = WORKLOADS[workload]
    sf_dir = os.path.join(WORK, "data", f"sf{cls.sf}")
    datagen.write(sf_dir, cls.sf)
    run_dir = _sandbox()
    _invalidate_layout(sf_dir)

    # ---- set-up: session start, derived-layout build, write-table seeding
    t0 = time.perf_counter()
    from bench import _ensure_layout

    from quackspark.session import get_session

    spark = get_session("perfbench")
    t_layout = time.perf_counter()
    if cls.uses_layout:
        _ensure_layout(spark, sf_dir)
    layout_s = time.perf_counter() - t_layout
    tracer = Tracer(spark, trace)
    wl = cls(spark, sf_dir, seed, tracer)
    wl.seed_tables()
    setup_s = time.perf_counter() - t0
    env = _environment(spark)

    t_warm = time.perf_counter()
    wl.prepare()
    # untimed (but checked) passes first: the first run of each query
    # pays one-off costs (Python workers, JIT, codegen) whose size depends
    # on statement order
    for _ in range(cls.warmup_passes):
        for item in wl.pass_order():
            wl.execute(item)
        wl.end_pass()
    warmup_s = time.perf_counter() - t_warm
    wl.start_window()
    tracer.install()
    t_start = time.perf_counter()
    passes = 0
    done = False
    while not done:
        for item in wl.pass_order():
            wl.execute(item)
            if time.perf_counter() - t_start >= seconds and wl.covered():
                done = True
                break
        else:
            passes += 1
        wl.end_pass()
    window_s = time.perf_counter() - t_start
    tracer.uninstall()

    p50, p90 = wl.p50_p90_ms()
    pass_s = wl.pass_s()
    e2e = {"setup_s": setup_s, "pass_s": pass_s, "stmt_p50_ms": p50, "stmt_p90_ms": p90}
    extra = {
        "peak_rss_mb": _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(spark._jvm.ProcessHandle.current().pid()),
        "sources.layout_build_s": layout_s,
        "read_p50_ms": p50,
        "read_p90_ms": p90,
        "write_p50_ms": 0.0,
        "write_p90_ms": 0.0,
        "failed_ratio": len(wl.failures) / max(wl.attempted, 1),
        "duckdb_ratio": 0.0,
        "commitlog.files_per_snapshot": 0.0,
        "commitlog.bytes_written_per_user_byte": 0.0,
        **wl.workload_metrics(pass_s),
    }
    env["loadavg_end"] = os.getloadavg()
    tracer.totals["output_rows"] = wl.output_rows
    layers = absolute(tracer.totals, wl.passes(), pass_s, workload == "sql_session") if trace else {}
    detail = {
        "workload": workload,
        "seed": seed,
        "sf": cls.sf,
        "env": env,
        "warmup_s": warmup_s,
        "passes_completed": passes,
        "window_s": window_s,
        "statements": len(wl.samples),
        "e2e": e2e,
        "extra": extra,
        "layers": layers,
        "slot_ms": _slot_ms(wl.samples),
        "failures": wl.failures,
    }
    _shutdown(spark)
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    if trace:
        metrics = per_layer(layers, extra)
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    return {
        "correct": not wl.failures and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": metrics,
    }


def _slot_ms(samples) -> dict[str, list[float]]:
    """Every latency of the run by statement slot, in run order."""
    by: dict[str, list[float]] = {}
    for slot, _, s in samples:
        by.setdefault(slot, []).append(round(s * 1e3, 2))
    return by


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("quackspark", "bench.py", "tools") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
