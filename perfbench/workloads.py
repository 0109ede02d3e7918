"""The benchmark's three closed-loop, single-client workloads.

- ``olap_headline``: the relational headline queries, checked live
  against their DuckDB oracles.
- ``dataprep_pipeline``: the LLM-data-prep headline queries, checked
  against committed digests of their DuckDB oracle outputs
  (``expected/dataprep_digests.json``, written by ``make_expected.py``).
- ``sql_session``: DuckDB-dialect reads and writes through
  ``quackspark.sqlfront.sql``; reads checked live against DuckDB, table
  state diffed against DuckDB after every pass (the ``tools/fuzz_ddl.py``
  STATE_MATCH protocol).

Every workload runs passes of statements until the run's time is up. A
statement's latency covers construction plus the action that fetches its
output; checking the output happens outside that window.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import statistics
import sys
import time

from bench import HEADLINE_MANIFEST, _drop_persisted

HERE = os.path.dirname(os.path.abspath(__file__))
#: committed expectations (make_expected.py); the smoke test points this
#: at a deliberately corrupted copy
EXPECTED = os.environ.get("PERFBENCH_EXPECTED", os.path.join(HERE, "expected"))
#: scale factor of every workload's tables; the smoke test uses 0.001
SF = float(os.environ.get("PERFBENCH_SF", "0.01"))

#: the relational half of bench.HEADLINE_MANIFEST
OLAP = {
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q10_returned_items",
    "q13_customer_distribution", "q21_waiting_supplier", "window_running_sum",
    "window_range_interval_frame", "join_asof_backward", "dt_hypertable_rollup",
    "sw_session", "sw_tumbling", "json_group_rollup", "json_extract_scalar",
}
#: the LLM-data-prep half of bench.HEADLINE_MANIFEST
DATAPREP = {
    "dedup_minhash_lsh", "dedup_cluster_components", "dedup_duplicate_spans",
    "text_fingerprint", "fts_bm25_topk", "sim_embedding_neardup", "sim_kmeans",
    "sim_bruteforce_heap", "pipeline_training_prep",
    "pipeline_training_prep_recompute", "pipeline_training_prep_v2",
}


def manifest_split() -> tuple[list[str], list[str]]:
    """(olap, dataprep) in ``bench.HEADLINE_MANIFEST`` order. Asserts the
    two lists partition the manifest, so this benchmark and ``bench.py``
    cannot drift apart."""
    if OLAP & DATAPREP or OLAP | DATAPREP != set(HEADLINE_MANIFEST):
        raise RuntimeError(
            "olap_headline and dataprep_pipeline must partition bench.HEADLINE_MANIFEST: "
            f"overlap {sorted(OLAP & DATAPREP)}, "
            f"unmatched {sorted((OLAP | DATAPREP) ^ set(HEADLINE_MANIFEST))}"
        )
    return (
        [n for n in HEADLINE_MANIFEST if n in OLAP],
        [n for n in HEADLINE_MANIFEST if n in DATAPREP],
    )


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Digest of an oracle-normalized result (``quackspark.oracle``
    normalization: columns by name, rows sorted)."""
    return hashlib.sha256(repr((sorted(cols), rows)).encode()).hexdigest()


def normalize(cols: list[str], rows) -> list[tuple]:
    from quackspark.oracle import _rows_to_normed

    return _rows_to_normed(cols, [tuple(r) for r in rows])


class Workload:
    """Base: statement bookkeeping shared by the three workloads."""

    sf = SF
    #: whether the workload reads the tables with a derived layout
    #: (lineitem, orders, events, customer), so set-up builds it
    uses_layout = True
    #: untimed passes before the window
    warmup_passes = 1

    def __init__(self, spark, sf_dir: str, seed: int, tracer):
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.rng = random.Random(seed)
        self.samples: list[tuple[str, str, float]] = []  # (slot, kind, s)
        self.attempted = 0
        self.failures: list[str] = []
        self.output_rows = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def seed_tables(self) -> None:
        """Write-table seeding (part of set-up); none by default."""

    def prepare(self) -> None:
        """Untimed work before the first pass (oracles, digests)."""

    def end_pass(self) -> None:
        """Untimed work after each pass."""

    def start_window(self) -> None:
        """Forget the warm-up passes' samples and counts."""
        self.samples.clear()
        self.output_rows = 0

    def passes(self) -> float:
        """Passes run, a partial pass counting by its share of statements."""
        return len(self.samples) / len(self.slots())

    def workload_metrics(self, pass_s: float) -> dict[str, float]:
        """Workload-specific figures for the traced run's result line."""
        return {}

    def covered(self) -> bool:
        return {s for s, _, _ in self.samples} >= set(self.slots())

    def pass_latencies(self, kind: str | None = None) -> list[float]:
        """The statement latencies (s) of one pass: each slot at its median
        in the run. Medians per slot keep one slow sample, or a seed that
        happens to run one statement more often, from moving the pass."""
        by: dict[str, list[float]] = {}
        for slot, k, s in self.samples:
            if kind is None or k == kind:
                by.setdefault(slot, []).append(s)
        return [statistics.median(by[k]) for k in self.slots() if k in by]

    def pass_s(self) -> float:
        return sum(self.pass_latencies())

    def p50_p90_ms(self, kind: str | None = None) -> tuple[float, float]:
        return _p50_p90([s * 1e3 for s in self.pass_latencies(kind)])

    def _time_frame(self, label: str, kind: str, build) -> tuple[float, object, list]:
        """Run ``build()`` (construction) then collect its frame (action)
        under one traced statement; returns (seconds, frame, rows)."""
        with self.tracer.statement(label, kind) as span:
            df = build()
            span.action()
            rows = df.collect()
            span.frame = df
        self.output_rows += len(rows)
        return span.t1 - span.t0, df, rows


class QueryWorkload(Workload):
    """One pass = every query once, in a fresh seeded order."""

    names: list[str] = []

    def __init__(self, *a):
        super().__init__(*a)
        from quackspark.entry import queries

        self.fns = queries()
        self._want: dict[str, str] = {}  # query → expected output digest

    def slots(self) -> list[str]:
        return self.names

    def pass_order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def execute(self, name: str) -> None:
        self.attempted += 1
        try:
            s, df, rows = self._time_frame(
                name, "read", lambda: self.fns[name](self.spark, self.sf_dir)
            )
        except Exception as exc:  # one broken query must not sink the run
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        self.samples.append((name, "read", s))
        got = digest(df.columns, normalize(df.columns, rows))
        if got != self._want[name]:
            self.fail(f"{name}: output digest {got[:12]} != expected {self._want[name][:12]}")
        _drop_persisted(self.spark)  # as bench.py: after every query


class OlapHeadline(QueryWorkload):
    def __init__(self, *a):
        super().__init__(*a)
        self.names = manifest_split()[0]
        self.duck_pass_s = 0.0

    def prepare(self) -> None:
        """Live DuckDB oracle: expected digests plus the DuckDB pass time
        (median of three passes over the same oracle SQL)."""
        from quackspark.entry import oracle_sql
        from quackspark.oracle import duck_connection

        osql = oracle_sql()
        con = duck_connection(self.sf_dir)
        passes = []
        for _ in range(3):
            total = 0.0
            for n in self.names:
                t0 = time.perf_counter()
                cur = con.execute(osql[n])
                rows = cur.fetchall()
                total += time.perf_counter() - t0
                cols = [d[0] for d in cur.description]
                self._want[n] = digest(cols, normalize(cols, rows))
            passes.append(total)
        con.close()
        self.duck_pass_s = statistics.median(passes)

    def workload_metrics(self, pass_s: float) -> dict[str, float]:
        return {"duckdb_ratio": pass_s / self.duck_pass_s}


class DataprepPipeline(QueryWorkload):
    uses_layout = False  # documents and embeddings are read as stored

    def __init__(self, *a):
        super().__init__(*a)
        self.names = manifest_split()[1]
        self.digest_file = os.path.join(EXPECTED, "dataprep_digests.json")

    def prepare(self) -> None:
        with open(self.digest_file) as f:
            self._want = json.load(f)["digests"][str(self.sf)]


#: sql_session write tables: (name, versioned, generator seed) — one
#: versioned (commit-log) table and one plain managed table. The generator
#: seeds are fixed, so every run replays the same write script and the
#: run's seed moves only the interleaving: generated statements differ
#: tenfold in cost between forms
WRITE_TABLES = (("fz", True, 1), ("fp", False, 2))
READS_PER_RUN = 12
#: the read sample is drawn once, not per run: per-seed samples moved
#: pass_s and stmt_p50_ms by up to 25% between seeds
READ_SAMPLE_SEED = 0
GEN_WRITES = 4  # generated statements per table and pass


class SqlSession(Workload):
    """One pass = the run's sampled reads interleaved, in a seeded order,
    with each write table's script: DROP, CREATE, a 40-row seed INSERT and
    ``GEN_WRITES`` ``tools/fuzz_ddl.py`` generator statements. Both
    tables' states are diffed against DuckDB at the end of every pass."""

    #: its many short statements keep getting faster (JIT) for two more
    #: passes after the first; with one warm-up pass, a run whose window
    #: held only one pass read 10-15% slower than one that held two
    warmup_passes = 2

    def __init__(self, *a):
        super().__init__(*a)
        import fuzz_ddl

        from quackspark.entry import oracle_sql

        with open(os.path.join(EXPECTED, "sql_reads.json")) as f:
            pool = json.load(f)["reads"]
        osql = oracle_sql()
        sample = _stratified(pool, READS_PER_RUN, random.Random(READ_SAMPLE_SEED))
        self.reads = {n: osql[n] for n in sample}
        self.scripts: dict[str, list[str]] = {}
        self.versioned = {tbl: versioned for tbl, versioned, _ in WRITE_TABLES}
        for tbl, versioned, gen_seed in WRITE_TABLES:
            gen = fuzz_ddl.Gen(random.Random(gen_seed))
            create = fuzz_ddl.CREATE_CONSTRAINED if versioned else fuzz_ddl.CREATE
            self.scripts[tbl] = [
                "DROP TABLE IF EXISTS fz",
                create,
                _seed_insert(),
                *(gen.statement() for _ in range(GEN_WRITES)),
            ]
            self.scripts[tbl] = [_on(tbl, x) for x in self.scripts[tbl]]
        self._want: dict[str, str] = {}
        self.duck_read_s: dict[str, float] = {}
        self.pass_no = 0
        self.con = None
        self.snapshot_files: list[int] = []
        self.versioned_user_bytes = 0
        self.live: set[str] = set()  # write tables that exist right now

    def slots(self) -> list[str]:
        return [*self.reads, *(f"{tbl} #{i}" for tbl, script in self.scripts.items() for i in range(len(script)))]

    # ---- set-up and oracles ------------------------------------------

    def seed_tables(self) -> None:
        """Views over the inputs for reads, and on both engines the static
        join-DML source table the generator's UPDATE…FROM / DELETE…USING
        forms read."""
        import fuzz_ddl

        from quackspark.oracle import duck_connection
        from quackspark.session import register_testdata_views
        from quackspark.sqlfront import sql as qsql

        register_testdata_views(self.spark, self.sf_dir)
        self.con = duck_connection(self.sf_dir)
        for stmt in (fuzz_ddl.FZSRC_CREATE, fuzz_ddl.FZSRC_INSERT):
            self.con.execute(stmt)
            qsql(self.spark, stmt)

    def prepare(self) -> None:
        for n, text in self.reads.items():
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                cur = self.con.execute(text)
                rows = cur.fetchall()
                times.append(time.perf_counter() - t0)
            cols = [d[0] for d in cur.description]
            self._want[n] = digest(cols, normalize(cols, rows))
            self.duck_read_s[n] = statistics.median(times)

    # ---- statements ----------------------------------------------------

    def pass_order(self) -> list[tuple[str, str | int]]:
        """("read", name) and (table, script index) items; each script
        keeps its own order."""
        self.pass_no += 1
        order: list[tuple[str, str | int]] = [("read", n) for n in self.reads]
        for tbl, script in self.scripts.items():
            order += [(tbl, -1)] * len(script)
        self.rng.shuffle(order)
        nxt = dict.fromkeys(self.scripts, 0)
        for j, (tbl, _) in enumerate(order):
            if tbl in nxt:
                order[j] = (tbl, nxt[tbl])
                nxt[tbl] += 1
        return order

    def execute(self, item: tuple[str, str | int]) -> None:
        kind, what = item
        if kind == "read":
            return self._read(what)
        stmt = self.scripts[kind][what]
        if stmt.startswith("CREATE"):
            # the pragma is session state and the two tables' scripts
            # interleave, so it is set (untimed) right before each CREATE
            from quackspark.sqlfront import sql as qsql

            qsql(self.spark, f"PRAGMA versioned_tables = {str(self.versioned[kind]).lower()}")
        self._write(f"{kind} #{what}", kind, stmt)
        if stmt.startswith("DROP"):
            self.live.discard(kind)
        elif stmt.startswith("CREATE"):
            self.live.add(kind)

    def _read(self, name: str) -> None:
        from quackspark.sqlfront import sql as qsql

        self.attempted += 1
        try:
            s, df, rows = self._time_frame(name, "read", lambda: qsql(self.spark, self.reads[name]))
        except Exception as exc:
            self.fail(f"read {name}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        self.samples.append((name, "read", s))
        if digest(df.columns, normalize(df.columns, rows)) != self._want[name]:
            self.fail(f"read {name}: output differs from DuckDB")

    def _write(self, slot: str, tbl: str, stmt: str) -> None:
        """Outcome parity: both engines accept, or both reject (a
        constraint violation is a correct rejection)."""
        from quackspark.sqlfront import UnsupportedSQL
        from quackspark.sqlfront import sql as qsql

        self.attempted += 1
        duck_err = spark_err = None
        try:
            self.con.execute(stmt)
        except Exception as exc:
            duck_err = str(exc)[:200]
        with self.tracer.statement(stmt[:60], "write") as span:
            try:
                qsql(self.spark, stmt)
            except UnsupportedSQL as exc:
                spark_err = f"unsupported: {exc}"
            except Exception as exc:
                spark_err = str(exc)[:200]
            span.action()
        self.samples.append((slot, "write", span.t1 - span.t0))
        if tbl == WRITE_TABLES[0][0]:
            self.versioned_user_bytes += len(stmt.encode())
        unsupported = spark_err is not None and spark_err.startswith("unsupported")
        if unsupported or (duck_err is None) != (spark_err is None):
            self.fail(f"write {stmt!r}: duckdb={duck_err} spark={spark_err}")

    def start_window(self) -> None:
        super().start_window()
        self.snapshot_files.clear()
        self.versioned_user_bytes = 0

    def end_pass(self) -> None:
        """STATE_MATCH: each table's full state equals DuckDB's."""
        import fuzz_ddl

        from quackspark.sources.commitlog import VersionedTable
        from quackspark.sqlfront import sql as qsql

        _drop_persisted(self.spark)
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        vt = VersionedTable(os.path.join(wh, WRITE_TABLES[0][0]))
        if vt.exists():
            self.snapshot_files.append(len(vt.snapshot().files))
        for tbl in sorted(self.live):  # a run can end between DROP and CREATE
            cur = self.con.execute(f"SELECT * FROM {tbl}")
            want = fuzz_ddl._canon([d[0] for d in cur.description], cur.fetchall())
            df = qsql(self.spark, f"SELECT * FROM {tbl}")
            got = fuzz_ddl._canon(df.columns, [tuple(r) for r in df.collect()])
            if want != got:
                self.fail(f"pass {self.pass_no}: table {tbl} state differs from DuckDB")

    def workload_metrics(self, pass_s: float) -> dict[str, float]:
        """Read/write latency split, Spark-over-DuckDB time on the same
        reads, and the versioned table's commit-log shape."""
        out = {}
        for kind in ("read", "write"):
            out[f"{kind}_p50_ms"], out[f"{kind}_p90_ms"] = self.p50_p90_ms(kind)
        spark = sum(s for _, k, s in self.samples if k == "read")
        duck = sum(self.duck_read_s[slot] for slot, k, _ in self.samples if k == "read")
        out["duckdb_ratio"] = spark / duck if duck else 0.0
        out["commitlog.files_per_snapshot"] = statistics.mean(self.snapshot_files or [0])
        out["commitlog.bytes_written_per_user_byte"] = (
            self.tracer.totals.get("commitlog.bytes_written", 0.0) / self.versioned_user_bytes
            if self.versioned_user_bytes else 0.0
        )
        return out


def _stratified(pool: dict[str, dict], k: int, rng: random.Random) -> list[str]:
    """One read from each of ``k`` equal strata of the pool ordered by its
    recorded Spark time, so the sample spans cheap to expensive reads."""
    ranked = sorted(pool, key=lambda n: (pool[n]["spark_s"], n))
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    return [rng.choice(ranked[a:b]) for a, b in zip(bounds, bounds[1:])]


def _on(tbl: str, stmt: str) -> str:
    """Point a fuzz_ddl statement (written against ``fz``) at ``tbl``."""
    return re.sub(r"\bfz\b", tbl, stmt)


def _seed_insert(n: int = 40) -> str:
    """Rows 0..n-1, valid under both CREATE shapes (the generator draws
    conflicting keys from 0..39)."""
    rows = ", ".join(f"({i}, 's{i}', {i * 0.5}, {str(i % 2 == 0).lower()})" for i in range(n))
    return f"INSERT INTO fz VALUES {rows}"


def _p50_p90(xs: list[float]) -> tuple[float, float]:
    if not xs:
        return 0.0, 0.0
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    return _hd_median(xs), q[8]


def _hd_median(xs: list[float]) -> float:
    """Harrell-Davis median: the mean of the order statistics weighted by
    a Beta((n+1)/2, (n+1)/2) distribution. With a pass of 11 statements the
    plain median is one statement's latency and jumps to its neighbour's
    when their order flips; across ten seeds that moved
    ``dataprep_pipeline``'s ``stmt_p50_ms`` by 25% (IQR over median) and
    this estimate by 8%."""
    import numpy as np

    n = len(xs)
    x = np.linspace(0.0, 1.0, 4001)
    with np.errstate(divide="ignore"):
        dens = np.exp((n - 1) / 2 * (np.log(x * (1 - x)) - np.log(0.25)))
    cdf = np.concatenate([[0.0], np.cumsum(dens[1:] + dens[:-1])])
    weights = np.diff(np.interp(np.arange(n + 1) / n, x, cdf / cdf[-1]))
    return float(weights @ np.sort(xs))


WORKLOADS = {
    "olap_headline": OlapHeadline,
    "dataprep_pipeline": DataprepPipeline,
    "sql_session": SqlSession,
}
