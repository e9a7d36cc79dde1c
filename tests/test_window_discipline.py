"""Structural enforcement of the unpartitioned-window discipline
(VERDICT r8 item 5): every gate plan is walked for Window /
WindowGroupLimit nodes with an EMPTY partition spec — the "moving all
data to a single partition" scale hazard. A hit fails the suite unless
the gate is on the explicit whitelist below, each entry carrying a
"domain-bounded because…" reason (the generalization of the
test_rankstats plan assertion). The whitelist is also checked in the
OTHER direction: an entry whose plan no longer carries an
unpartitioned window must be removed, so the list can only shrink
unless a new entrant states its reason here.

Detector: walks the JVM optimizedPlan tree (node.partitionSpec()
.isEmpty()) — exact, unlike string-parsing the plan dump, which
confuses WindowGroupLimit's partition bracket with a window-expr
bracket.
"""

import pytest

from weaviate_txtai_spark.plans import queries as Q

# gates whose construction runs a streaming job or collects eagerly in
# ways the plan walk cannot see through — covered by check_oracle
_EXECUTING = {
    "streaming_hourly", "streaming_ingest", "streaming_sessions",
    "streaming_dedup", "streaming_interval_join", "streaming_enrich",
    "streaming_funnel",
}

# Every entry: gate -> why an unpartitioned window is domain-bounded
# here (or what the documented 100 TB production twin is). Keep tight:
# the reverse check below fails on stale entries.
_WHITELIST = {
    # --- value/score-domain prefix scans (input = distinct values,
    #     not rows; the corpus was already reduced by a groupBy) ---
    "price_conformal_interval": "order statistic over the CALIBRATION"
    " set's score domain; production twin: approx_percentile sketch",
    "purchase_value_cliffs_delta": "CDF prefix over distinct purchase"
    " VALUES (value-domain count table, not rows)",
    "source_drift_ks": "two-sample CDF merge over distinct values of"
    " the drift statistic's domain",
    "docs_length_qnorm": "quantile-normalization map over distinct"
    " length values (domain-sized after groupBy)",
    "events_bh_fdr": "Benjamini-Hochberg walk over the HYPOTHESIS"
    " domain - one row per test id, tiny by construction",
    "token_budget_waterfill": "water-filling over the SOURCE domain"
    " (|sources| rows after aggregation)",
    "mixture_weight_solver": "capped weighted water-filling over the"
    " SOURCE domain (|sources| rows after the token aggregation; the"
    " prefix-sum theta construction is the documented closed form)",
    "curation_run": "the embedded waterfill stage's source-domain"
    " prefix windows (|sources| rows after the per-source aggregate);"
    " every corpus-granularity window partitions by source",
    "running_revenue": "cumulative sum over the calendar-month domain"
    " (bounded by the date range)",
    # --- vocab-domain rank windows, already capped by TakeOrdered ---
    "token_zipf_fit": "log-log rank regression over the top-N vocab"
    " slice (N fixed by the gate; TakeOrdered bounds the input)",
    "docs_zipf_fit": "same zipf rank window, document-token variant",
    # --- single-query top-k: the partition key WOULD be the query id,
    #     and there is exactly one query; batch variants partition by
    #     query_id (WindowGroupLimit [query_id] in their plans) ---
    "vector_upsert": "single-query verification rank over one query's"
    " candidates; batch path partitions by query_id",
    "pq_knn": "single-query ADC top-k; batch twin ivfpq partitions",
    "binary_hamming_knn": "single-query hamming top-k",
    "embedding_outliers": "final top-N outlier report (N=10); the"
    " scoring itself is partitioned - only the tiny report sorts",
    "hybrid_rrf": "rank fusion over two top-k candidate lists"
    " (k-bounded rows per list)",
    # --- whole-distribution exact statistics, gate-mode by design,
    #     each documenting its sketch-based production twin ---
    "customer_value_deciles": "exact ntile gate; 100 TB twin ="
    " sampling.quantile_buckets (documented in the gate docstring)",
    "revenue_percentile": "exact percent_rank gate; twin ="
    " quantile_buckets sketch",
    "docs_quality_tiers": "exact ntile tier split (plans/pipeline.py"
    " documents the quantile_buckets twin)",
    "customer_rfm_segments": "exact ntile RFM scores over the PURCHASER"
    " domain (one row per user after groupBy); quantile_buckets is the"
    " documented corpus-scale twin",
    "docs_quality_composite": "exact percent_rank composite score;"
    " same sketch twin",
    # --- global-frame scalar max over an already-aggregated frame ---
    "events_funnel_onepass": "unbounded-frame max over the per-user"
    " AGGREGATED funnel levels (one row per user after groupBy);"
    " computes the global step denominator",
    "events_funnel_windowed": "same global denominator shape over the"
    " windowed funnel's per-user aggregate",
}


def _unpartitioned_windows(sdf):
    plan = sdf._jdf.queryExecution().optimizedPlan()
    hits = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name in ("Window", "WindowGroupLimit"):
            if node.partitionSpec().isEmpty():
                hits.append(name)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        inner = node.innerChildren()
        for i in range(inner.size()):
            walk(inner.apply(i))

    walk(plan)
    return hits


def test_no_unwhitelisted_unpartitioned_windows(spark):
    tiny_sf_dir = "/root/testdata/sf0.001"
    offenders = {}
    cleared = []
    for name, fn in Q.queries().items():
        if name in _EXECUTING:
            continue
        hits = _unpartitioned_windows(fn(spark, tiny_sf_dir))
        if hits and name not in _WHITELIST:
            offenders[name] = hits
        if not hits and name in _WHITELIST:
            cleared.append(name)
    assert not offenders, (
        "gates with unpartitioned windows and no whitelist reason "
        f"(add a 'domain-bounded because…' entry or fix the plan): "
        f"{offenders}"
    )
    assert not cleared, (
        f"stale whitelist entries (plans no longer have unpartitioned "
        f"windows — remove them): {cleared}"
    )


def test_whitelist_subset_of_registry():
    unknown = [n for n in _WHITELIST if n not in Q.REGISTRY]
    assert not unknown, f"whitelist names not in REGISTRY: {unknown}"
