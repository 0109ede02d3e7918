#!/usr/bin/env python3
"""Regenerate the benchmark's committed expectations from DuckDB.

    python3 perfbench/make_expected.py

Writes two files under ``perfbench/expected/``:

- ``dataprep_digests.json``: the digest of each ``dataprep_pipeline``
  query's DuckDB oracle output on the benchmark's tables. Running those
  oracles live would add about a minute per pass, so runs compare against
  these digests instead.
- ``sql_reads.json``: the pool ``sql_session`` samples its reads from —
  every oracle SQL text that is a plain read, runs through
  ``quackspark.sqlfront.sql`` and matches DuckDB on two runs in a row,
  and is quick enough (Spark under ``READ_MAX_S``, DuckDB under
  ``DUCK_MAX_S``) for an interactive session.

Rerun it only when the input generator or an oracle's SQL changes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tools"), HERE]

import datagen  # noqa: E402
from run import WORK, _sandbox, _shutdown  # noqa: E402
from workloads import EXPECTED, Workload, digest, manifest_split, normalize  # noqa: E402

#: the smoke test's scale, besides the benchmark's own
DIGEST_SFS = (Workload.sf, 0.001)

READ_MAX_S = 0.5
DUCK_MAX_S = 0.5
_READ_RE = re.compile(r"\s*(WITH|SELECT|FROM|\()", re.I)


def main() -> int:
    sf = Workload.sf
    for s in DIGEST_SFS:
        datagen.write(os.path.join(WORK, "data", f"sf{s}"), s)
    sf_dir = os.path.join(WORK, "data", f"sf{sf}")
    run_dir = _sandbox()

    from quackspark.entry import oracle_sql, queries
    from quackspark.oracle import duck_connection
    from quackspark.session import get_session, register_testdata_views
    from quackspark.sqlfront import sql as qsql

    spark = get_session("perfbench-expected")
    osql, qs = oracle_sql(), queries()

    def duck(text: str) -> tuple[str, float]:
        t0 = time.perf_counter()
        cur = con.execute(text)
        rows = cur.fetchall()
        s = time.perf_counter() - t0
        cols = [d[0] for d in cur.description]
        return digest(cols, normalize(cols, rows)), s

    def spark_digest(df) -> tuple[str, float]:
        t0 = time.perf_counter()
        rows = df.collect()
        return digest(df.columns, normalize(df.columns, rows)), time.perf_counter() - t0

    status = 0
    digests: dict[str, dict[str, str]] = {}
    for s in DIGEST_SFS:
        s_dir = os.path.join(WORK, "data", f"sf{s}")
        con = duck_connection(s_dir)
        for name in manifest_split()[1]:
            want = digests.setdefault(str(s), {})[name] = duck(osql[name])[0]
            if spark_digest(qs[name](spark, s_dir))[0] != want:
                print(f"dataprep {name} sf{s}: Spark output differs from DuckDB", file=sys.stderr)
                status = 1
        con.close()
    _write("dataprep_digests.json", {"seed": datagen.DATA_SEED, "digests": digests})

    con = duck_connection(sf_dir)
    register_testdata_views(spark, sf_dir)
    reads = {}
    for name, text in sorted(osql.items()):
        if not _READ_RE.match(text):
            continue
        try:
            want, d_s = duck(text)
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                got, _ = spark_digest(qsql(spark, text))
                runs.append((got, time.perf_counter() - t0))
                if runs[-1][1] > 2 * READ_MAX_S:  # too slow either way
                    break
            want2, d_s2 = duck(text)
        except Exception as exc:
            print(f"read {name}: skipped ({type(exc).__name__})", file=sys.stderr)
            continue
        if len(runs) == 2 and want == want2 and all(g == want for g, _ in runs) \
                and runs[1][1] < READ_MAX_S and min(d_s, d_s2) < DUCK_MAX_S:
            reads[name] = {"spark_s": round(runs[1][1], 3), "duckdb_s": round(min(d_s, d_s2), 4)}
        print(f"read {name}: {'kept' if name in reads else 'dropped'}", file=sys.stderr)
    _write("sql_reads.json", {"sf": sf, "read_max_s": READ_MAX_S, "duckdb_max_s": DUCK_MAX_S,
                              "reads": reads})
    con.close()
    _shutdown(spark)
    os.chdir(os.path.dirname(HERE))
    shutil.rmtree(run_dir, ignore_errors=True)
    return status


def _write(name: str, payload: dict) -> None:
    os.makedirs(EXPECTED, exist_ok=True)
    with open(os.path.join(EXPECTED, name), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
