"""Measure the "single-JVM floors partition away on executors" claim
(VERDICT r11 next #1 — the assertion every one of the 8 perf-weak grades
rests on, never tested through r11).

The 8 named sf10 floor queries — q1/q3 (pure scan floors, <25 KB
shuffle), q5/q9 (scan + multi-way probe), q13 (zero-Exchange co-located
pipeline), q6 + json ×2 (sub-second absolutes) — run under THREE
masters with identical data, configs, and warm-median protocol:

  local[32]                 the bench baseline: one JVM, 32 threads
  local-cluster[2,16,<mb>]  2 worker JVMs × 16 cores — same 32 total
  local-cluster[4,8,<mb>]   4 worker JVMs ×  8 cores — same 32 total

local-cluster is Spark's real multi-executor scheduler (separate worker
JVMs, real network shuffle, per-executor memory) on one box — the
closest a single machine gets to the 1000-executor claim. Since total
cores are HELD CONSTANT, the hypothesis "the floor is the single-JVM
scan path, it partitions away" predicts ~flat wall across the three
rows (the work spreads over N JVMs instead of 1 with no lost
parallelism and added exchange cost stays trivial because the named
floors shuffle <200 KB). A query that DEGRADES sharply on multi-JVM
masters has a hidden single-JVM dependency (driver-side work,
broadcast rebuilds, python-worker respawns) — that would be the real
bottleneck to name. A second 16-core section (local[16] vs
local-cluster[2,8]) is recorded for the same comparison at half width.

Each master runs in its OWN subprocess (a JVM's master is fixed at
SparkContext start); the parent aggregates into SCALE_EXECUTORS.json.

Repro: python tools/make_sf10.py && python tools/scale_executors.py
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF10 = os.path.join(REPO, "localdata", "sf10")

FLOORS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q13_customer_distribution",
    "q6_forecast_revenue",
    "json_group_rollup",
    "json_extract_scalar",
]

#: (label, master) — total cores held constant within each section so
#: the ONLY variable is 1 JVM vs N JVMs
MASTERS_32 = [
    ("local[32]", "local[32]"),
    ("local-cluster[2,16]", "local-cluster[2,16,24576]"),
    ("local-cluster[4,8]", "local-cluster[4,8,12288]"),
]
MASTERS_16 = [
    ("local[16]", "local[16]"),
    ("local-cluster[2,8]", "local-cluster[2,8,16384]"),
]

ONE_RUN_ABOVE = 12.0


def run_worker(master: str) -> int:
    """Child process: one master, all floor queries, JSON to stdout."""
    from pyspark.sql import SparkSession

    import bench
    from quackspark.entry import queries
    from quackspark.session import CODEGEN_CACHE_MAX_ENTRIES, prepare_session

    cores = 32 if "32" in master or "[2,16" in master or "[4,8" in master else 16
    builder = (
        SparkSession.builder.appName(f"scale-exec-{master}")
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", "8g")
    )
    if master.startswith("local-cluster"):
        per_worker_mb = int(master.rstrip("]").split(",")[-1])
        builder = builder.config(
            "spark.executor.memory", f"{per_worker_mb - 2048}m"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare_session(spark)

    qs = queries()
    out: dict[str, float] = {}
    for name in FLOORS:
        fn = lambda: qs[name](spark, SF10)  # noqa: E731
        # warmup = the SAME noop write: a count() warmup hits parquet
        # aggregate pushdown and never decodes the data pages, so the
        # first timed run of the first section paid the cold page cache
        # (observed: q1 13.97 s cold vs 1.7 s warm) and the single-run
        # break recorded it
        fn().write.format("noop").mode("overwrite").save()
        bench._drop_persisted(spark)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            bench._drop_persisted(spark)
            if runs[0] > ONE_RUN_ABOVE:
                break
        out[name] = round(statistics.median(runs), 3)
        print(f"  {name}: {out[name]}s", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))
    return 0


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--skip-16", action="store_true",
                    help="skip the half-width (16-core) section")
    args = ap.parse_args()
    if args.worker:
        return run_worker(args.master)

    if not os.path.isdir(SF10):
        print("run tools/make_sf10.py first", file=sys.stderr)
        return 1

    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    # local-cluster worker JVMs need SPARK_HOME to launch executors
    import pyspark

    env.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

    sections = {"32_cores": MASTERS_32}
    if not args.skip_16:
        sections["16_cores"] = MASTERS_16
    record: dict = {
        "sf": 10,
        "protocol": "per-master subprocess; warm median-of-3 (single run "
        f"past {ONE_RUN_ABOVE}s); total cores constant within a section; "
        "noop sink; persisted-block + GC hygiene between runs",
        "queries": FLOORS,
    }
    for section, masters in sections.items():
        record[section] = {}
        for label, master in masters:
            print(f"=== {section} / {label} ({master})", file=sys.stderr)
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker",
                 "--master", master],
                capture_output=True, text=True, env=env, cwd=REPO,
                timeout=3600,
            )
            if proc.returncode != 0:
                print(proc.stderr[-4000:], file=sys.stderr)
                record[section][label] = {"error": proc.stderr[-500:]}
                continue
            record[section][label] = json.loads(proc.stdout.strip().splitlines()[-1])
            print(f"  section wall {round(time.time() - t0, 1)}s",
                  file=sys.stderr)
    # per-query scaling ratios vs the single-JVM baseline of each section
    for section, base_label in (("32_cores", "local[32]"),
                                ("16_cores", "local[16]")):
        if section not in record or base_label not in record[section]:
            continue
        base = record[section][base_label]
        if "error" in base:
            continue
        record[section]["ratio_vs_single_jvm"] = {
            label: {
                q: round(vals[q] / base[q], 2)
                for q in FLOORS
                if isinstance(vals, dict) and q in vals and base.get(q)
            }
            for label, vals in record[section].items()
            if label != base_label and isinstance(vals, dict) and "error" not in vals
        }
    out_path = os.path.join(REPO, "SCALE_EXECUTORS.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "protocol"},
                     indent=1))
    print(f"→ {out_path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
