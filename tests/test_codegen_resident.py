"""Generated code stays resident across statements.

Spark keeps one JVM-wide LRU cache of compiled whole-stage codegen
classes, capped by the static conf ``spark.sql.codegen.cache.maxEntries``
(default 100). quackspark's working set is far larger, so at the default
every repeat of a statement recompiled its classes with Janino. The
session preset (``session.CODEGEN_CACHE_MAX_ENTRIES``) keeps them: a
second run of the same queries must compile almost nothing.
"""

from __future__ import annotations

import logging
from types import SimpleNamespace

from quackspark import session as S
from tests.conftest import SF_ORACLE

#: three construction-heavy dataprep queries (~150 classes together at
#: sf0.01, beyond Spark's default cap of 100)
QUERIES = ("pipeline_training_prep_v2", "dedup_minhash_lsh", "sim_bruteforce_heap")


def _compilations(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, queries) -> int:
    """Run each query to a noop sink; returns the classes compiled."""
    before = _compilations(spark)
    for name in QUERIES:
        queries[name](spark, SF_ORACLE).write.format("noop").mode("overwrite").save()
    return _compilations(spark) - before


def test_codegen_cache_cap_in_effect(spark):
    cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert cap >= S.CODEGEN_CACHE_MAX_ENTRIES >= 4096


def test_second_pass_reuses_generated_classes(spark):
    from quackspark.queries import all_queries

    queries = all_queries()
    first = _run_pass(spark, queries)
    second = _run_pass(spark, queries)
    assert first > 0
    # at Spark's default cap the second pass recompiled ~70% (103 of 146)
    assert second < 0.1 * first, (first, second)


def test_foreign_session_logs_effective_cap(caplog):
    """A caller-owned session built without the preset keeps Spark's cap;
    quackspark cannot change it (static conf) but names it in the log."""
    foreign = SimpleNamespace(conf=SimpleNamespace(get=lambda key: "100"))
    with caplog.at_level(logging.WARNING, logger="quackspark.session"):
        S._note_codegen_cache(foreign)
    (rec,) = caplog.records
    assert "maxEntries is 100" in rec.getMessage()


def test_own_session_logs_nothing(spark, caplog):
    with caplog.at_level(logging.WARNING, logger="quackspark.session"):
        S._note_codegen_cache(spark)
    assert not caplog.records
