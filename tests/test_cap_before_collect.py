"""Cap guards must bound driver memory BEFORE the collect (VERDICT r10
task 2): logrank_test / sprt_bernoulli / single_changepoint push
``.limit(cap + 1)`` into the plan so a mis-called raw-timestamp input
surfaces as the cap error after pulling at most cap+1 rows, never the
full oversized domain. The spy on ``DataFrame.collect`` records how many
rows each collect in the call actually materialized.
"""

from __future__ import annotations

import pytest

try:  # pyspark 4: the concrete class overrides collect
    from pyspark.sql.classic.dataframe import DataFrame as _DF
except ImportError:  # pragma: no cover — pyspark 3 layout
    from pyspark.sql.dataframe import DataFrame as _DF


@pytest.fixture
def collect_spy(monkeypatch):
    seen: list[int] = []
    orig = _DF.collect

    def spy(self):
        rows = orig(self)
        seen.append(len(rows))
        return rows

    monkeypatch.setattr(_DF, "collect", spy)
    return seen


def test_logrank_cap_bounds_collect(spark, monkeypatch, collect_spy):
    from weaviate_txtai_spark.operators import survival

    monkeypatch.setattr(survival, "_LOGRANK_CAP", 5)
    # 10 distinct (t, g) cells — double the patched cap
    df = spark.createDataFrame(
        [(t, 1, g) for t in range(5) for g in ("a", "b")],
        "t long, e int, g string",
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        survival.logrank_test(df, "t", "e", "g")
    assert collect_spy, "no collect observed"
    assert max(collect_spy) == 6  # cap + 1, not the full 10-row domain


def test_sprt_cap_bounds_collect(spark, collect_spy):
    from weaviate_txtai_spark.operators.abtest import sprt_bernoulli

    df = spark.createDataFrame(
        [(t, 10, 1) for t in range(12)], "t long, n long, s long"
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        sprt_bernoulli(df, "t", "n", "s", p0=0.1, p1=0.2, max_periods=4)
    assert collect_spy and max(collect_spy) == 5


def test_changepoint_cap_bounds_collect(spark, collect_spy):
    from weaviate_txtai_spark.operators.seasonal import single_changepoint

    df = spark.createDataFrame(
        [(t, t * 3) for t in range(20)], "t long, y long"
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        single_changepoint(df, max_points=7)
    assert collect_spy and max(collect_spy) == 8


def test_logrank_under_cap_unchanged(spark):
    # semantics identical when under the cap (the r10 gate stays green)
    from weaviate_txtai_spark.operators.survival import logrank_test

    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "a"), (2, 0, "b"), (3, 1, "b")],
        "t long, e int, g string",
    )
    r = logrank_test(df, "t", "e", "g").collect()[0]
    assert r["n1"] == 2 and r["n2"] == 2


def _cached_rdd_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("op", ["kendall_tau_b", "isotonic_fit"])
def test_over_limit_raises_before_any_cache_fill(spark, op):
    """Probe before fill: the distinct-cell/bucket guard runs on the
    un-persisted aggregate, so an over-limit input raises with no cached
    RDD added — the oversized table is never filled into the cache."""
    from weaviate_txtai_spark.cache import cache_scope
    from weaviate_txtai_spark.operators.isotonic import isotonic_fit
    from weaviate_txtai_spark.operators.rankstats import kendall_tau_b

    # 50 distinct x (and (x, y) cells) against a limit of 10
    df = spark.createDataFrame(
        [(float(i), float(i % 2)) for i in range(50)], "x double, y double"
    )
    before = _cached_rdd_ids(spark)
    with cache_scope():
        with pytest.raises(ValueError):
            if op == "kendall_tau_b":
                kendall_tau_b(df, "x", "y", max_cells=10)
            else:
                isotonic_fit(df, "x", "y", max_buckets=10)
        assert _cached_rdd_ids(spark) - before == set()
