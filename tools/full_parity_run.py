"""Run the COMPLETE query corpus against the DuckDB oracle and write a
CORRECTNESS-shaped JSON (VERDICT r2 item 8).

The round driver samples a fixed 50 of the declared queries; this tool
executes all of them (166+ as of round 3) so every row of SURVEY.md §2 has
a hard, in-repo correctness signal each round, not just the sampled subset.

Usage:
    python tools/full_parity_run.py [--sf-dir /root/testdata/sf0.01] \
        [--out PARITY_LOCAL_rN.json] [--only name1,name2]

Output rows mirror CORRECTNESS_r{N}.json: rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err, plus "mode" ("oracle" for
exact differential comparison, "rows-only" for non-SQL-expressible ops —
same split the driver records).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument(
        "--bare",
        action="store_true",
        help="run on a bare SparkSession with NO quackspark presets — "
        "Spark-4-default ANSI-on, a non-UTC session timezone, no "
        "pre-registered UDFs. This reproduces the round driver's "
        "harness-owned session (VERDICT r5 'What's missing' #1): every "
        "query must self-prepare via session.prepare_session.",
    )
    args = ap.parse_args()

    from quackspark.oracle import compare
    from quackspark.queries import all_oracles, all_queries

    if args.bare:
        from pyspark.sql import SparkSession

        from quackspark.session import default_driver_memory

        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]"
            )
            .appName("bare-parity")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.driver.memory", default_driver_memory())
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        assert spark.conf.get("spark.sql.ansi.enabled") == "true", (
            "bare mode expects Spark-4-default ANSI on"
        )
    else:
        from quackspark.session import get_session

        spark = get_session("full-parity")
    queries, oracles = all_queries(), all_oracles()
    names = sorted(queries)
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]

    results: dict[str, dict] = {}
    n_pass = n_fail = n_rows_only = 0
    t0 = time.time()
    for i, name in enumerate(names):
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "mode": "oracle" if name in oracles else "rows-only",
        }
        try:
            df = queries[name](spark, args.sf_dir)
            if name in oracles:
                problems = compare(df, oracles[name], args.sf_dir)
                ok = not problems
                row.update(
                    rows_match=ok or not any("row count" in p for p in problems),
                    schema_match=ok or not any("columns differ" in p for p in problems),
                    hash_match=ok,
                    err="; ".join(problems)[:2000] or None,
                )
                n_pass += ok
                n_fail += not ok
            else:
                row["spark_rows"] = df.count()
                row["rows_match"] = row["spark_rows"] >= 0
                n_rows_only += 1
        except Exception:
            row["err"] = traceback.format_exc()[-2000:]
            n_fail += 1
        results[name] = row
        status = "ok" if not row["err"] else "FAIL"
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)

    out = args.out or "PARITY_LOCAL.json"
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(
        f"\n{len(names)} queries in {time.time() - t0:.0f}s: "
        f"{n_pass} oracle-match, {n_rows_only} rows-only, {n_fail} FAIL → {out}"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
