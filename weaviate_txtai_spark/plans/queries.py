"""Gate registry hub (SURVEY §2 + pipeline families).

The gate queries (``len(REGISTRY)`` of them — count one with
``python -c "from weaviate_txtai_spark.plans.queries import queries;
print(len(queries()))"``) live in per-family modules (vector /
relational / dedup / text / streaming / pipeline), each registering into
``plans.base.REGISTRY`` on import; this module imports them all, re-
exports every gate function for direct `from plans.queries import x_q`
use, and defines the driver-facing ordered API: ``queries()`` /
``oracle_sql()`` emit the `_PRIORITY` window first (the correctness
driver samples the first 50 entries) then the remaining gates in
registration order.
"""

from __future__ import annotations

from typing import Optional

from weaviate_txtai_spark.plans.base import (  # noqa: F401
    QueryFn,
    REGISTRY,
    register,
    _emb,
)

# import order fixes the post-priority registration order; the star
# re-exports keep `from plans.queries import <gate>_q` working
from weaviate_txtai_spark.plans.vector import *  # noqa: F401,F403
from weaviate_txtai_spark.plans.relational import *  # noqa: F401,F403
from weaviate_txtai_spark.plans.dedup import *  # noqa: F401,F403
from weaviate_txtai_spark.plans.text import *  # noqa: F401,F403
from weaviate_txtai_spark.plans.streaming import *  # noqa: F401,F403
from weaviate_txtai_spark.plans.pipeline import *  # noqa: F401,F403

# --------------------------------------------------------------------------
# Registry ordering: the correctness driver samples the FIRST 50 entries of
# queries() in insertion order. Raw @register order is chronological (round-1
# gates first), which starved every later operator family of an independent
# driver-verified CORRECTNESS row (VERDICT r3 finding #2). _PRIORITY pins the
# sampled window explicitly: every SURVEY.md §2 reference-surface gate, then
# one gate per post-round-1 operator family (k-means, SemDeDup, LM scoring,
# PCA, centrality, heavy hitters, profiling, Z-order, exact-k sampling,
# containment, manifest composition, …). Everything else follows in original
# registration order — nothing is dropped, only rotated.
# --------------------------------------------------------------------------

_PRIORITY = [
    # ------------------------------------------------------------------
    # r14 rotation (VERDICT r13 task 3): the 12 SURVEY §2 anchors stay,
    # then every gate whose OPERATOR INTERNALS the r13/r14 optimization
    # sessions rewrote — the r13 optimizer's 18 rewrites were verified
    # only by the builder's own oracle runs (the r13 window had rotated
    # onto the partial build round before the optimizer ran), and the
    # r14 materialize-before-fan-out wave + graph-probe/kernel changes
    # touch largely the same paths, so this window closes BOTH ledgers:
    # 38 of 50 slots sit on optimizer-rewritten gates. The rows-only-
    # by-design gates remain STRUCTURALLY excluded by the oracle assert
    # in _ordered_names().
    # ------------------------------------------------------------------
    # the 12 §2 anchors (VERDICT coverage table S3/S7, Q1, Q4-Q9, T1-T3)
    "knn_topk",
    "knn_batch",
    "streaming_ingest",
    "full_scan",
    "docid_lookup",
    "scan_limit",
    "vector_delete",
    "vector_count",
    "vector_upsert",
    "similarity_brute",
    "similar_sql",
    "agg_stats_txtai",
    # 15 of the 18 r13-optimizer-rewritten gates (VERDICT r13 "what's
    # wrong" §3), all additionally touched by the r14
    # eager-materialization wave
    "docs_unigram_nll",
    "docs_bigram_nll",
    "lineitem_spearman",
    "dedup_ngram_jaccard",
    "tfidf_top_terms",
    "customer_linkage_em",
    "customer_linkage_fs",
    "part_pareto_frontier",
    "part_also_bought",
    "events_sequence_pairs",
    "supplier_name_matches",
    "retrieval_eval",
    "docs_heaps_law",
    "docs_quality_classifier",
    "order_chain_components",
    # r14-changed gates beyond that set: the graph local-finish probe +
    # Tarjan kernel (order_scc, CC consumers), the eager shared-frame
    # fills in bm25/qlm/minhash/semantic-dedup/basket paths, and the
    # composed pipelines that inherit them
    "order_scc",
    "doc_centrality",
    "dedup_groups",
    "dedup_survivors",
    "semantic_dedup_survivors",
    "pretraining_manifest",
    "curation_run",
    "bm25_topk",
    "qlm_topk",
    "dedup_minhash",
    "dedup_incremental",
    "basket_rules",
    "source_shard_apportion",
    # the Arrow scorers that share one tie-exact top-k step
    # (topk.topk_rows) and one ADC gather (pq.adc_gather)
    "knn_batch_gemm",
    "pq_knn",
    "sim_join_ivf",
    # every shortlist search, scored by the one exact re-rank
    # (topk.exact_rerank), and the single-assignment IVF-PQ append
    "ivfpq_knn",
    "sim_join_ivfpq",
    "pq_knn_rerank",
    "binary_hamming_rerank",
    "opq_knn_rerank",
    "ivfopq_knn",
    "ivfpq_append_search",
]


_DRIVER_WINDOW = 50  # the correctness driver samples this many


def _ordered_names() -> list[str]:
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:  # a rename must update _PRIORITY, loudly
        raise KeyError(f"_PRIORITY names not in REGISTRY: {missing}")
    rest = [n for n in REGISTRY if n not in set(_PRIORITY)]
    ordered = _PRIORITY + rest
    # Structural guard (VERDICT r9 task 4): a gate without an oracle in
    # the driver-sampled window earns a permanent `no_oracle` red row
    # (the bpe_train_encode / encoder_semantic_search r6 lesson) — the
    # rows-only-by-design gates must sort strictly after the window.
    no_oracle = [
        n for n in ordered[:_DRIVER_WINDOW] if REGISTRY[n][1] is None
    ]
    if no_oracle:
        raise AssertionError(
            f"rows-only gates inside the driver-sampled first "
            f"{_DRIVER_WINDOW}: {no_oracle}"
        )
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _ordered_names()
        if REGISTRY[name][1] is not None
    }
