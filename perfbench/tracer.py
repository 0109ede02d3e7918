"""Outside-in per-layer tracer.

Nothing here changes the engine. It attributes each statement's wall time
to layers by

- giving every statement its own Spark job group (the engine sets none)
  and reading the group's jobs and stages from Spark's status store;
- reading scan and Python-exec node metrics from the SQL status store;
- reading the Catalyst phase tracker of the statement's result frame;
- wrapping public functions of the operator modules, the SQL frontend,
  the DDL/versioned layers and the commit log for the duration of the
  run (``install`` / ``uninstall``).

Spans stay in memory (``Tracer.totals``) until the run ends; the time the
tracer itself spends is counted in ``trace.overhead_s``.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager

#: public DataFrame-level operator functions, by the layer metric they feed
OPERATORS = {
    "dedup": (
        "quackspark.operators.dedup",
        "minhash_signatures drop_hot_shingles exact_dedup ngram_jaccard_pairs "
        "minhash_lsh_pairs simhash_pairs simhash_docs chunk_dedup "
        "duplicate_spans span_scrub",
    ),
    "components": ("quackspark.operators.components", "connected_components"),
    "kmeans": ("quackspark.operators.kmeans", "kmeans_fit kmeans_assign"),
    "simsearch": (
        "quackspark.operators.simsearch",
        "brute_force_topk srp_lsh_topk ivf_topk embedding_neardup_pairs "
        "refine_over_knee semantic_dedup brute_force_topk_heap "
        "brute_force_topk_heap_bigq",
    ),
    "fts": ("quackspark.operators.fts", "bm25_topk"),
}

#: physical nodes whose work runs in Python workers
PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"(\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: ``"1,000"``, ``"64.0 KiB"``,
    ``"327 ms"`` or ``"10.3 s (298 ms, 2.1 s, ...)"`` (the total first)."""
    m = _METRIC_RE.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


_NODE_RE = re.compile(r'labelType="html" label="(.*?)" tooltip=')
_TOTAL = " total (min, med, max (stageId: taskId))"


def plan_nodes(dot: str):
    """(node name, {metric: value}) for every node of a rendered SQL plan
    graph (``SparkPlanGraph.makeDotFile``): a label is ``<b>name</b>``
    then ``metric: value`` lines, a per-task metric taking two lines
    (``metric total (min, med, max ...)`` and its values)."""
    for label in _NODE_RE.findall(dot):
        m = re.search(r"<b>(.*?)</b>", label)
        if not m:
            continue
        lines = [x for x in label[m.end():].split("<br>") if x]
        vals: dict[str, float] = {}
        i = 0
        while i < len(lines):
            line = lines[i]
            if line.endswith(_TOTAL) and i + 1 < len(lines):
                vals[line[: -len(_TOTAL)]] = parse_metric(lines[i + 1])
                i += 2
                continue
            key, _, value = line.partition(": ")
            vals[key] = parse_metric(value)
            i += 1
        yield m.group(1).strip(), vals


def _ints(scala_collection) -> list[int]:
    """A Scala collection of ints in one gateway call (iterating it over
    py4j costs a round trip per element and an exception at the end)."""
    return [int(x) for x in scala_collection.mkString(",").split(",") if x]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Per-statement span recorder. With ``enabled=False`` it only sets
    the job group, so the untraced run pays nothing else."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.totals: dict[str, float] = defaultdict(float)
        self._seq = 0
        self._patched: list[tuple[object, str, object]] = []
        self._op_depth = 0
        self._op_intervals: list[tuple[float, float]] = []
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self._sql_store.executionsCount()

    # ---- wrapping public functions --------------------------------------

    def _patch(self, owner, name: str, wrapper_factory) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, functools.wraps(orig)(wrapper_factory(orig)))
        self._patched.append((owner, name, orig))

    def _timed(self, key: str, calls: str):
        """Time the outermost call only: these entry points recurse."""
        depth = [0]

        def factory(orig):
            def wrapper(*a, **kw):
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        self.totals[key] += time.perf_counter() - t0
                        self.totals[calls] += 1
            return wrapper
        return factory

    def _operator(self, layer: str):
        def factory(orig):
            def wrapper(*a, **kw):
                self._op_depth += 1
                t0 = time.time()
                try:
                    return orig(*a, **kw)
                finally:
                    self._op_depth -= 1
                    if self._op_depth == 0:
                        t1 = time.time()
                        self.totals[f"operators.{layer}_s"] += t1 - t0
                        self._op_intervals.append((t0, t1))
            return wrapper
        return factory

    def install(self) -> None:
        """Start counting afresh (the warm-up passes are not the window's)
        and wrap the layer entry points for the rest of the run."""
        self.totals.clear()
        if not self.enabled:
            return
        import importlib

        from quackspark import ddl, sqlfront, versioned
        from quackspark.sources import commitlog

        for layer, (mod, names) in OPERATORS.items():
            m = importlib.import_module(mod)
            for n in names.split():
                self._patch(m, n, self._operator(layer))
        self._patch(sqlfront, "transpile", self._timed("sqlfront.transpile_s", "sqlfront.transpiles"))
        self._patch(ddl, "run_ddl", self._timed("ddl.run_s", "ddl.calls"))
        self._patch(versioned, "sync_referenced", self._timed("versioned.sync_s", "versioned.syncs"))
        vt = commitlog.VersionedTable
        self._patch(vt, "append", self._commit("append"))
        self._patch(vt, "rewrite", self._commit("rewrite"))
        self._patch(vt, "_write_files", self._written)

    def _commit(self, op: str):
        from quackspark.sources.commitlog import CommitConflict

        def factory(orig):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                try:
                    out = orig(*a, **kw)
                    self.totals["commitlog.commits"] += 1
                    return out
                except CommitConflict:
                    self.totals["commitlog.conflicts"] += 1
                    raise
                finally:
                    self.totals[f"commitlog.{op}_s"] += time.perf_counter() - t0
                    self.totals[f"commitlog.{op}_calls"] += 1
            return wrapper
        return factory

    def _written(self, orig):
        import os

        def wrapper(table, df):
            rel, schema = orig(table, df)
            self.totals["commitlog.bytes_written"] += sum(
                os.path.getsize(os.path.join(table.path, f)) for f in rel
            )
            return rel, schema
        return wrapper

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    # ---- one statement ----------------------------------------------------

    @contextmanager
    def statement(self, label: str, kind: str = "read"):
        """Run one statement under its own job group. The body calls
        ``span.action()`` when construction ends and the action starts,
        and may set ``span.frame`` to the result frame (for Catalyst).
        ``kind`` ("read" or "write") splits the job count."""
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, label, False)
        span = _Span()
        self._op_intervals = []
        span.t0 = time.time()
        try:
            yield span
        finally:
            span.t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            if self.enabled:
                h0 = time.perf_counter()
                self._harvest(group, span, kind)
                self.totals["trace.overhead_s"] += time.perf_counter() - h0

    def _wait(self, ready, timeout: float = 5.0) -> None:
        """The listener bus is asynchronous: poll until the status store
        has caught up with what the statement ran."""
        deadline = time.perf_counter() + timeout
        while not ready() and time.perf_counter() < deadline:
            time.sleep(0.005)

    def _harvest(self, group: str, span: "_Span", kind: str) -> None:
        tot, store = self.totals, self._store
        t_act = span.t_action or span.t1
        tot["queries.construct_s"] += t_act - span.t0
        tot["queries.action_s"] += span.t1 - t_act
        tot["statements"] += 1

        job_ids = list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

        def jobs_done():
            return all(store.job(j).status().toString() != "RUNNING" for j in job_ids)

        self._wait(jobs_done)
        intervals, action_iv, stages = [], [], set()
        for j in job_ids:
            jd = store.job(j)
            sub = jd.submissionTime()
            end = jd.completionTime()
            a = sub.get().getTime() / 1e3 if sub.isDefined() else span.t0
            b = end.get().getTime() / 1e3 if end.isDefined() else span.t1
            intervals.append((a, b))
            if a < t_act:
                tot["queries.construct_jobs"] += 1
            else:
                action_iv.append((a, b))
            if any(s <= a <= e for s, e in self._op_intervals):
                tot["operators.jobs"] += 1
            stages.update(_ints(jd.stageIds()))
        tot["exec.jobs"] += len(job_ids)
        tot[f"{kind}.jobs"] += len(job_ids)
        tot["exec.job_wall_s"] += _union_s(intervals)
        tot["exec.action_job_wall_s"] += _union_s(action_iv)
        tot["exec.driver_gap_s"] += (span.t1 - t_act) - _union_s(action_iv)
        stage_run: dict[int, float] = {}
        for s in stages:
            sd = store.lastStageAttempt(s)
            if sd.status().toString() != "COMPLETE":
                continue
            run_s = sd.executorRunTime() / 1e3
            stage_run[s] = run_s
            tot["exec.stages"] += 1
            tot["exec.tasks"] += sd.numCompleteTasks()
            tot["exec.run_s"] += run_s
            tot["exec.cpu_s"] += sd.executorCpuTime() / 1e9
            tot["exec.gc_s"] += sd.jvmGcTime() / 1e3
            tot["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["sources.bytes_read"] += sd.inputBytes()
            tot["sources.rows_scanned"] += sd.inputRecords()
        self._harvest_sql(set(job_ids), stage_run)
        if span.frame is not None:
            self._catalyst(span.frame)

    def _harvest_sql(self, job_ids: set[int], stage_run: dict[int, float]) -> None:
        """Scan and Python-exec node metrics of the SQL executions the
        statement started, read from each execution's rendered plan graph
        (one call per execution instead of several per plan node)."""
        sql, tot = self._sql_store, self.totals
        n = sql.executionsCount()
        seq = sql.executionsList(self._sql_seen, n - self._sql_seen)
        new = [seq.apply(i).executionId() for i in range(seq.size())]
        self._sql_seen = n
        self._wait(lambda: all(sql.execution(e).get().completionTime().isDefined() for e in new))
        for eid in new:
            has_py = False
            for name, vals in plan_nodes(sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))):
                if name.startswith("Scan"):
                    tot["sources.files_read"] += vals.get("number of files read", 0)
                elif name.startswith(PY_NODES):
                    has_py = True
                    tot["pykernel.rows"] += vals.get("number of output rows", 0)
                    tot["pykernel.bytes_sent"] += vals.get("data sent to Python workers", 0)
                    tot["pykernel.bytes_received"] += vals.get("data returned from Python workers", 0)
                    tot["pykernel.worker_run_s"] += vals.get("time to run Python workers", 0)
            if has_py:
                e_stages = set()
                for j in _ints(sql.execution(eid).get().jobs().keys()):
                    if j in job_ids:
                        e_stages.update(_ints(self._store.job(j).stageIds()))
                tot["pykernel.stage_run_s"] += sum(stage_run.get(s, 0.0) for s in e_stages)

    def _catalyst(self, frame) -> None:
        """Catalyst phases of the result frame. ``executedPlan`` is forced
        first: a frame that ran through another QueryExecution (a noop
        write, a count) has only its analysis phase recorded otherwise."""
        qe = frame._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        self.totals["catalyst.frames"] += 1
        for name in ("analysis", "optimization", "planning"):
            phase = phases.get(name)
            if phase.isDefined():
                self.totals[f"catalyst.{name}_s"] += phase.get().durationMs() / 1e3


class _Span:
    __slots__ = ("t0", "t1", "t_action", "frame")

    def __init__(self):
        self.t0 = self.t1 = 0.0
        self.t_action: float | None = None
        self.frame = None

    def action(self) -> None:
        self.t_action = time.time()
