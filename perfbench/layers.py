"""Per-layer metrics of a traced run, derived from ``Tracer.totals``.

``METRICS`` is the one table of per-layer names: ``BENCHMARK.json``, the
README's metric table and the smoke test all follow it. Counts, bytes and
seconds are per pass (the tracer's totals divided by the passes the run
made, a partial pass counting by its share of statements); ``_ms``
metrics are means per call or statement. A layer that a workload never
enters reads 0 there.
"""

from __future__ import annotations

#: name → (unit, layer, end-to-end metric it should move, workload)
METRICS = {
    "queries.construct_s": ("s", "queries", "pass_s", "dataprep_pipeline"),
    "queries.construct_jobs": ("count", "queries", "pass_s", "dataprep_pipeline"),
    "queries.action_s": ("s", "queries", "pass_s", "dataprep_pipeline"),
    "operators.dedup_s": ("s", "operators", "pass_s", "dataprep_pipeline"),
    "operators.components_s": ("s", "operators", "pass_s", "dataprep_pipeline"),
    "operators.kmeans_s": ("s", "operators", "pass_s", "dataprep_pipeline"),
    "operators.simsearch_s": ("s", "operators", "pass_s", "dataprep_pipeline"),
    "operators.fts_s": ("s", "operators", "pass_s", "dataprep_pipeline"),
    "operators.jobs": ("count", "operators", "pass_s", "dataprep_pipeline"),
    "catalyst.analysis_ms": ("ms", "catalyst", "stmt_p50_ms", "sql_session"),
    "catalyst.optimization_ms": ("ms", "catalyst", "stmt_p50_ms", "sql_session"),
    "catalyst.planning_ms": ("ms", "catalyst", "stmt_p50_ms", "sql_session"),
    "exec.jobs": ("count", "exec", "pass_s", "dataprep_pipeline"),
    "exec.stages": ("count", "exec", "pass_s", "dataprep_pipeline"),
    "exec.tasks": ("count", "exec", "pass_s", "dataprep_pipeline"),
    "exec.run_s": ("s", "exec", "pass_s", "dataprep_pipeline"),
    "exec.cpu_s": ("s", "exec", "pass_s", "dataprep_pipeline"),
    "exec.gc_s": ("s", "exec", "pass_s", "dataprep_pipeline"),
    "exec.cpu_per_run": ("ratio", "exec", "pass_s", "dataprep_pipeline"),
    "exec.shuffle_read_bytes": ("bytes", "exec", "pass_s", "dataprep_pipeline"),
    "exec.shuffle_write_bytes": ("bytes", "exec", "pass_s", "dataprep_pipeline"),
    "exec.job_wall_s": ("s", "exec", "pass_s", "dataprep_pipeline"),
    "exec.driver_gap_s": ("s", "exec", "pass_s", "dataprep_pipeline"),
    "sources.files_read": ("count", "sources", "pass_s", "sql_session"),
    "sources.bytes_read": ("bytes", "sources", "pass_s", "sql_session"),
    "sources.rows_scanned_per_output_row": ("ratio", "sources", "pass_s", "sql_session"),
    "sources.layout_build_s": ("s", "sources", "setup_s", "sql_session"),
    "pykernel.rows": ("count", "pykernel", "pass_s", "dataprep_pipeline"),
    "pykernel.bytes_sent": ("bytes", "pykernel", "pass_s", "dataprep_pipeline"),
    "pykernel.bytes_received": ("bytes", "pykernel", "pass_s", "dataprep_pipeline"),
    "pykernel.stage_run_s": ("s", "pykernel", "pass_s", "dataprep_pipeline"),
    "sqlfront.transpile_ms": ("ms", "sqlfront", "stmt_p50_ms", "sql_session"),
    "sqlfront.dispatch_ms": ("ms", "sqlfront", "stmt_p50_ms", "sql_session"),
    "sqlfront.statements": ("count", "sqlfront", "stmt_p50_ms", "sql_session"),
    "ddl.run_ms": ("ms", "ddl", "stmt_p90_ms", "sql_session"),
    "ddl.jobs": ("count", "ddl", "stmt_p90_ms", "sql_session"),
    "versioned.sync_ms": ("ms", "versioned", "stmt_p90_ms", "sql_session"),
    "commitlog.commits": ("count", "commitlog", "stmt_p90_ms", "sql_session"),
    "commitlog.append_ms": ("ms", "commitlog", "stmt_p90_ms", "sql_session"),
    "commitlog.rewrite_ms": ("ms", "commitlog", "stmt_p90_ms", "sql_session"),
    "commitlog.conflicts": ("count", "commitlog", "stmt_p90_ms", "sql_session"),
    "commitlog.files_per_snapshot": ("count", "commitlog", "stmt_p50_ms", "sql_session"),
    "commitlog.bytes_written_per_user_byte": ("ratio", "commitlog", "stmt_p90_ms", "sql_session"),
    "peak_rss_mb": ("MB", "memory", "setup_s", "all"),
    "read_p50_ms": ("ms", "workload", "stmt_p50_ms", "sql_session"),
    "read_p90_ms": ("ms", "workload", "stmt_p90_ms", "sql_session"),
    "write_p50_ms": ("ms", "workload", "stmt_p50_ms", "sql_session"),
    "write_p90_ms": ("ms", "workload", "stmt_p90_ms", "sql_session"),
    "failed_ratio": ("ratio", "workload", "pass_s", "all"),
    "duckdb_ratio": ("ratio", "workload", "stmt_p50_ms", "sql_session"),
    "pass_s_traced": ("s", "trace", "pass_s", "all"),
    "trace.overhead_s": ("s", "trace", "pass_s", "all"),
    "trace.unattributed_s": ("s", "trace", "pass_s", "all"),
}


def absolute(t: dict[str, float], passes: float, pass_s: float, sql: bool) -> dict[str, float]:
    """Every layer quantity in its natural unit: per-pass totals, ``_ms``
    as means per call or statement. Printed in the detail line."""

    def per_pass(k: str) -> float:
        return t.get(k, 0.0) / passes

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    stmts = t.get("statements", 0.0)
    frames = t.get("catalyst.frames", 0.0)
    out = {k: per_pass(k) for k in (
        "queries.construct_s", "queries.construct_jobs", "queries.action_s", "operators.jobs",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.job_wall_s",
        "exec.driver_gap_s", "sources.files_read", "sources.bytes_read", "pykernel.rows",
        "pykernel.bytes_sent", "pykernel.bytes_received", "pykernel.stage_run_s",
        "pykernel.worker_run_s", "ddl.run_s", "versioned.sync_s", "commitlog.commits",
        "commitlog.append_s", "commitlog.rewrite_s", "commitlog.conflicts", "trace.overhead_s",
        "operators.dedup_s", "operators.components_s", "operators.kmeans_s",
        "operators.simsearch_s", "operators.fts_s",
    )}
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = 1e3 * ratio(t.get(f"catalyst.{ph}_s", 0.0), frames)
    # Catalyst optimization and planning run inside the action; what the
    # action spends outside jobs and Catalyst is unattributed
    out["trace.unattributed_s"] = out["exec.driver_gap_s"] - per_pass("catalyst.optimization_s") - per_pass("catalyst.planning_s")
    out["exec.cpu_per_run"] = ratio(t.get("exec.cpu_s", 0.0), t.get("exec.run_s", 0.0))
    out["sources.rows_scanned_per_output_row"] = ratio(t.get("sources.rows_scanned", 0.0), t.get("output_rows", 0.0))
    transpile = t.get("sqlfront.transpile_s", 0.0) if sql else 0.0
    out["sqlfront.transpile_s"] = transpile / passes
    out["sqlfront.dispatch_s"] = (t.get("queries.construct_s", 0.0) - transpile) / passes if sql else 0.0
    out["sqlfront.transpile_ms"] = 1e3 * ratio(transpile, stmts)
    out["sqlfront.dispatch_ms"] = 1e3 * ratio(out["sqlfront.dispatch_s"] * passes, stmts)
    out["sqlfront.statements"] = stmts / passes if sql else 0.0
    out["ddl.run_ms"] = 1e3 * ratio(t.get("ddl.run_s", 0.0), t.get("ddl.calls", 0.0))
    out["ddl.jobs"] = per_pass("write.jobs")
    out["versioned.sync_ms"] = 1e3 * ratio(t.get("versioned.sync_s", 0.0), t.get("versioned.syncs", 0.0))
    for op in ("append", "rewrite"):
        out[f"commitlog.{op}_ms"] = 1e3 * ratio(t.get(f"commitlog.{op}_s", 0.0), t.get(f"commitlog.{op}_calls", 0.0))
    out["pass_s_traced"] = pass_s
    return out


def per_layer(layers: dict[str, float], extra: dict[str, float]) -> dict[str, dict]:
    """The ``METRICS`` set for the result line, from :func:`absolute`
    plus the workload-level figures in ``extra``."""
    a = {**layers, **extra}
    return {k: {"value": a[k], "unit": unit} for k, (unit, *_r) in METRICS.items()}
