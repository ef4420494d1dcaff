"""Distributed quantiles (tdigest_quantiles, a GK percentile_approx
aggregate): rank-error bound against exact quantiles on uniform and
heavily skewed data, exact tails, NULL/NaN exclusion, prob range, and
no Python worker."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from validify_spark.checks.tdigest import tdigest_quantiles

PROBS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _rank_error(values, estimate, prob):
    """|empirical rank of estimate - prob|."""
    return abs(np.searchsorted(np.sort(values), estimate) / len(values)
               - prob)


@pytest.fixture(scope="module")
def skewed(spark):
    # deterministic, heavy right tail: exp(hash-uniform * 8)
    df = (spark.range(0, 120_000, 1, 16)
          .select(F.exp((F.abs(F.xxhash64("id")) % 100000) / 100000.0
                        * 8).alias("v")))
    return df.cache()


def test_rank_error_bound_uniform(spark):
    df = (spark.range(0, 100_000, 1, 16)
          .select(((F.abs(F.xxhash64("id")) % 1_000_000) / 1000.0)
                  .alias("v")))
    vals = np.array([r.v for r in df.collect()])
    q = tdigest_quantiles(df, "v", probs=PROBS)
    for p in PROBS:
        err = _rank_error(vals, q[p], p)
        bound = 0.01 if 0.1 <= p <= 0.9 else 0.005  # k1: tighter tails
        assert err < bound, (p, q[p], err)


def test_rank_error_bound_skewed(spark, skewed):
    vals = np.array([r.v for r in skewed.collect()])
    q = tdigest_quantiles(skewed, "v", probs=PROBS)
    for p in PROBS:
        err = _rank_error(vals, q[p], p)
        assert err < 0.01, (p, q[p], err)


def test_exact_tails_and_nulls(spark):
    rows = [(float(i),) for i in range(1000)] + [(None,)] * 50
    df = spark.createDataFrame(rows, "v double").repartition(8)
    q = tdigest_quantiles(df, "v", probs=[0.0, 1.0, 0.5])
    assert q[0.0] == 0.0          # exact min
    assert q[1.0] == 999.0        # exact max
    assert abs(q[0.5] - 499.5) < 15

    empty = spark.createDataFrame([(None,)], "v double")
    assert tdigest_quantiles(empty, "v", probs=[0.5])[0.5] is None


def test_nan_excluded(spark):
    # percentile_approx sorts NaN above every number: unmasked, 300 NaN
    # on 1,000 values would move the median to ~649 and p99 to NaN
    rows = ([(float(i),) for i in range(1000)]
            + [(float("nan"),)] * 300 + [(None,)] * 20)
    df = spark.createDataFrame(rows, "v double").repartition(4)
    q = tdigest_quantiles(df, "v", probs=[0.5, 0.99, 1.0])
    assert abs(q[0.5] - 499.5) < 15
    assert abs(q[0.99] - 989.0) < 15
    assert q[1.0] == 999.0

    only_nan = spark.createDataFrame([(float("nan"),)] * 3, "v double")
    assert tdigest_quantiles(only_nan, "v", probs=[0.5])[0.5] is None


@pytest.mark.parametrize("prob", [-0.5, 1.5])
def test_prob_out_of_range_raises(spark, prob):
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    with pytest.raises(ValueError):
        tdigest_quantiles(df, "v", probs=[0.5, prob])


def test_no_python_worker(spark, skewed, monkeypatch):
    def boom(*a, **k):
        raise AssertionError("tdigest_quantiles started a Python worker")

    # the classic session's frames subclass the public DataFrame
    monkeypatch.setattr(type(skewed), "mapInPandas", boom)
    monkeypatch.setattr(type(skewed.groupBy("v")), "applyInPandas", boom)
    q = tdigest_quantiles(skewed, "v", probs=[0.5])
    assert q[0.5] is not None
