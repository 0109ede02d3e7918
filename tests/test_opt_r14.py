"""r14 optimization-round equivalence pins.

- Driver Lloyd fast path (operators/kmeans) vs the distributed
  assign/update loop — bit-identical assignments, distances, and
  trained codebooks, including the exact-mean micro-unit rounding and
  the round(d2, 6) output rounding.
- The numpy HALF_UP rounding twins vs the Spark expressions they
  replicate, on adversarial .5-boundary values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackspark.operators import kmeans as KM
from tests.conftest import SF_ORACLE


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.mark.parametrize("iters,k", [(2, 8), (3, 16)])
def test_kmeans_driver_equals_distributed(spark, iters, k):
    from quackspark.session import load_table

    e = load_table(spark, SF_ORACLE, "embeddings")
    drv = _rows(KM.kmeans_assign(e, k=k, iters=iters), "vec_id")
    dist = _rows(KM.kmeans_assign(e, k=k, iters=iters, driver_cap=0), "vec_id")
    assert drv == dist
    assert len(drv) > 0
    fd = _rows(KM.kmeans_fit(e, k=k, iters=iters), "cluster")
    fx = _rows(KM.kmeans_fit(e, k=k, iters=iters, driver_cap=0), "cluster")
    assert fd == fx


def test_kmeans_driver_boundary_micro_values(spark):
    """Negative values and micro-products near .5 boundaries — the cells
    where a naive floor(x+0.5) diverges from Spark's BigDecimal HALF_UP."""
    rows = [
        (i, [(-1) ** i * (0.0000005 + i * 0.1234565), 0.5e-6, -2.5e-6])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    drv = _rows(KM.kmeans_assign(df, k=4, iters=2), "vec_id")
    dist = _rows(KM.kmeans_assign(df, k=4, iters=2, driver_cap=0), "vec_id")
    assert drv == dist


@pytest.mark.parametrize(
    "bad",
    [float("nan"), None, float("inf"), 2.0**52 / 1e6, -1e13],
    ids=["nan", "null-element", "inf", "micro-2^52", "micro-overflow"],
)
def test_kmeans_driver_unclean_elements_fall_back(spark, bad):
    """NaN / NULL / infinite elements and cells with |x·1e6| >= 2^52 are
    outside _round_micro_half_away's exact range (floor(x+0.5) misrounds
    at 2^52, the int64 cast overflows to INT64_MIN): the probe must
    refuse them, and the fast-path entry points must then agree with the
    distributed loop."""
    rows = [(i, [0.25 * i, 1.0 - 0.125 * i, 3.0]) for i in range(20)]
    rows[7] = (7, [0.5, bad, 1.0])
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    vecs = df.select("vec_id", "embedding")
    assert KM._driver_probe(vecs, 100) is None
    drv = _rows(KM.kmeans_assign(df, k=4, iters=2), "vec_id")
    dist = _rows(KM.kmeans_assign(df, k=4, iters=2, driver_cap=0), "vec_id")
    assert repr(drv) == repr(dist)  # repr: NaN != NaN under ==
    fd = _rows(KM.kmeans_fit(df, k=4, iters=2), "cluster")
    fx = _rows(KM.kmeans_fit(df, k=4, iters=2, driver_cap=0), "cluster")
    assert repr(fd) == repr(fx)


def test_kmeans_probe_accepts_just_below_2_52(spark):
    """The magnitude gate is strict |x·1e6| < 2^52, not a blanket cap:
    a clean corpus just under it still takes the driver fast path."""
    rows = [(i, [float(i), -4.0e9]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    ids, A = KM._driver_probe(df.select("vec_id", "embedding"), 100)
    assert list(ids) == [0, 1, 2, 3] and A.shape == (4, 2)


def test_kmeans_probe_fallbacks(spark):
    """NULL vectors, non-long ids, and a cap below the corpus size all
    fall back to the distributed loop (probe returns None)."""
    ok = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    assert KM._driver_probe(ok, 10) is not None
    assert KM._driver_probe(ok, 1) is None  # corpus bigger than cap
    assert KM._driver_probe(ok, 0) is None  # cap 0 disables
    nulls = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id bigint, embedding array<double>"
    )
    assert KM._driver_probe(nulls, 10) is None
    intid = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id int, embedding array<double>"
    )
    assert KM._driver_probe(intid, 10) is None
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0])], "vec_id bigint, embedding array<double>"
    )
    assert KM._driver_probe(ragged, 10) is None


def test_round_micro_twin_matches_spark(spark):
    """_round_micro_half_away == round(x * 1e6) cast long (dsum's long
    mode) and _round_6_half_away == round(x, 6), on values engineered to
    sit at and within an ulp of .5 boundaries, both signs."""
    import numpy as np

    vals = [
        0.0000005, -0.0000005, 1.2345675e-6, -1.2345675e-6,
        0.1234565, -0.1234565, 0.9999995, -0.9999995,
        2.5e-6, -2.5e-6, 0.49999999999999994e-6, 1.5e-6,
        123.4567895, -123.4567895, 0.0, 7.000000049999999,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    exp = df.select(
        F.round(F.col("x") * 1_000_000).cast("long").alias("micro"),
        F.round("x", 6).alias("r6"),
    ).collect()
    arr = np.array(vals, dtype=np.float64)
    got_micro = KM._round_micro_half_away(arr * 1_000_000.0)
    got_r6 = KM._round_6_half_away(arr)
    for i, row in enumerate(exp):
        assert int(got_micro[i]) == row["micro"], vals[i]
        assert float(got_r6[i]) == row["r6"], vals[i]
