"""Materialize-before-fan-out (r14 opt, VERDICT r13 item 1).

The r13 regression mechanism: a persist()/lazy-localCheckpoint frame
that feeds 2+ branches of ONE action gets its cache raced by AQE's
concurrently-materialized query stages — duplicate upstream work that
grows with task slots (driver: part_also_bought 7.5 s@32c vs 1.8 s@8c).
The r14 fix fills every such cache with one sequential barrier BEFORE
the operator returns (``scoped_persist(..., eager=True)`` or an eager
localCheckpoint). These tests pin the barrier: right after the operator
BUILDS its plan — before any caller action — every cache it registered
must already be fully materialized. Value parity is covered by the
operators' own suites and the DuckDB oracle.
"""

from datetime import datetime

from weaviate_txtai_spark.cache import cache_scope
from weaviate_txtai_spark.operators.itemsets import (
    also_bought_topk,
    association_rules,
)
from weaviate_txtai_spark.operators.seqmine import sequence_pairs
from weaviate_txtai_spark.operators.stringjoin import edit_distance_join


def _cached(spark):
    """Cached RDDs now in the session: id -> (name, cached, total)."""
    return {
        i.id(): (i.name(), i.numCachedPartitions(), i.numPartitions())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _all_filled(spark, caches, before):
    """Every cache the operator call added is fully materialized (no
    unfilled partitions) BEFORE any action has run on the returned
    frame. Only the delta since ``before`` counts: an RDD another test
    left behind (e.g. a lazy localCheckpoint, which clearCache does not
    release) is not this operator's."""
    assert caches, "operator registered no caches"
    new = {k: v for k, v in _cached(spark).items() if k not in before}
    # at least one RDD is cached at all (the InMemoryRelation fill)
    assert any(t > 0 for _, _, t in new.values()), f"no cached RDDs found: {new}"
    for name, c, t in new.values():
        assert c == t, f"cache {name} only {c}/{t} partitions filled"


def test_also_bought_counts_filled_before_fanout(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12)],
        "basket long, item long",
    )
    spark.catalog.clearCache()
    before = _cached(spark)
    with cache_scope() as caches:
        out = also_bought_topk(df, "basket", "item", 2, min_pair_count=1)
        _all_filled(spark, caches, before)           # BEFORE the action
        assert out.count() > 0


def test_sequence_pairs_frames_filled_before_fanout(spark):
    ev = spark.createDataFrame(
        [
            (1, "view", datetime(2024, 1, 1, 10, 0, 0)),
            (1, "buy", datetime(2024, 1, 1, 10, 10, 0)),
            (2, "view", datetime(2024, 1, 1, 11, 0, 0)),
            (2, "buy", datetime(2024, 1, 1, 11, 20, 0)),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    spark.catalog.clearCache()
    before = _cached(spark)
    with cache_scope() as caches:
        out = sequence_pairs(ev, window_seconds=3600, min_support=1)
        _all_filled(spark, caches, before)
        assert out.count() > 0


def test_edit_distance_base_filled_before_fanout(spark):
    df = spark.createDataFrame(
        [(1, "Supplier#1"), (2, "Supplier#2"), (3, "ab")],
        "id long, name string",
    )
    spark.catalog.clearCache()
    before = _cached(spark)
    with cache_scope() as caches:
        out = edit_distance_join(df, "id", "name", k=1)
        _all_filled(spark, caches, before)
        assert out.count() >= 1


def test_association_rules_frames_filled_before_fanout(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10)],
        "basket long, item long",
    )
    spark.catalog.clearCache()
    before = _cached(spark)
    with cache_scope() as caches:
        out = association_rules(df, "basket", "item", min_pair_count=1)
        _all_filled(spark, caches, before)
        assert out.count() > 0
