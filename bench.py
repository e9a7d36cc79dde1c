"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; unset, the session takes the cores
this process may run on (``len(os.sched_getaffinity(0))``). Prints ONE
JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full plan execution to a count/collect of the result (Spark is
lazy; every query is forced). A warmup query spins up the JVM/executors
and Arrow Python workers before timing starts; each headline query then
runs ``RUNS`` times and reports the fastest (steady-state measurement —
single-run numbers on local mode carry ±50% scheduler/GC noise).

The tools under ``tools/`` import this module's session
(``spark_session``), timed run (``timed_run``) and warm-up
(``warm_up``), so every tool measures and checks on the session this
harness times. Importing the module starts no Spark.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# Headline set: the operators whose scale behavior matters most —
# vector search (expr + GEMM paths), similarity join, the dedup family,
# relational agg/join shapes, streaming-equivalent hourly rollup.
HEADLINE = [
    "knn_topk",
    "knn_batch",
    "sim_join_topk",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_embedding_lsh",
    "dedup_exact",
    "text_quality",
    "tfidf_top_terms",
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "events_hourly",
    "events_asof",
    "events_range_join",
    "nation_trade_volume",
    "doc_chunks",
    "pack_sequences",
    "events_rolling_avg",
    "bm25_topk",
]

# Heavy round-3 operators (multi-second at sf0.1) now tracked
# round-over-round like the r1 set (VERDICT r3 item 3). Timed at
# best-of-RUNS_HEAVY (default 3) so the added wall-clock stays bounded:
# these queries are 4-10 s each and their run-to-run spread is
# proportionally smaller than the sub-second set's.
HEADLINE_HEAVY = [
    "semantic_dedup",
    "sim_join_ivf",
    "doc_centrality",
    "token_heavy_hitters",
    "docs_unigram_nll",
    "lineitem_profile",
    # round-4 PQ tier (VERDICT r4 item 5): build+search end-to-end
    "pq_knn",
    "ivfpq_knn",
    # round-5 tiers tracked round-over-round (VERDICT r5 item 5); r5
    # baselines in NOTES.md
    "sim_join_ivfpq",
    "binary_hamming_rerank",
    "order_chain_components",
    # round-7 (VERDICT r6 item 3b): the full composed pretraining
    # pipeline timed end-to-end at the bench scale factor, plus the two
    # new r7 retrieval families
    "pretraining_manifest",
    "retrieval_eval",
    "maxsim_topk",
    # round-7 session-2 representatives: behavioral sequences, basket
    # mining, phrase search, distributed ranks, q-gram string join
    "events_funnel_windowed",
    "basket_rules",
    "phrase_match_positions",
    "lineitem_spearman",
    "supplier_name_matches",
    # round-8 representatives: co-visitation (map-side pair explode +
    # pair-table window), HITS (iterative join+agg), ordered sequence
    # mining (windowed per-user self-join)
    "part_also_bought",
    "customer_supplier_hits",
    "events_sequence_pairs",
    # round-9 representatives: coloring-SCC (trim/color/Tarjan),
    # blocked Fellegi-Sunter linkage (9M candidate pairs at sf0.1),
    # interpolated trigram LM (5-join scoring stream)
    "order_scc",
    "customer_linkage_fs",
    "docs_trigram_jm_nll",
    # round-10 representatives (newly baselined this round — r9's 45
    # entries above stay untouched for like-for-like comparison):
    # EM-fitted unsupervised FS (8 marginal-count aggregates + the
    # integer EM + pattern-ordered top-k), the 2-D skyline (hierarchical
    # suffix max), Heaps vocab-growth fit (two corpus reductions)
    "customer_linkage_em",
    "part_pareto_frontier",
    "docs_heaps_law",
    # round-10 continuation: the classifier-quality tier (8 fixed-point
    # GD aggregates over the cached feature table + map-only scoring)
    "docs_quality_classifier",
    # round-13 representatives (newly baselined this round): the full
    # curation-run composition, byte-level media near-dup (banded LSH
    # over sampled byte windows), exact repeated-span removal
    "curation_run",
    "multimodal_byte_dedup",
    "dedup_span_removal",
]


def spark_session(app: str, conf: dict | None = None):
    """The one Spark session of the bench and the tools: local[CPUS]
    with CPUS shuffle partitions, UTC, AQE, Kryo and a 16 GB driver.
    ``conf`` overrides single settings (a smaller driver beside an
    in-process DuckDB, or a config experiment)."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for k, v in (conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, qs) -> None:
    """JVM + codegen + parquet footer caches + Arrow Python workers."""
    qs["vector_count"](spark, SF_DIR).collect()
    qs["knn_topk"](spark, SF_DIR).count()


def timed_run(spark, build) -> tuple[float, float, int]:
    """One timed run of ``build()``, a function returning a DataFrame:
    clear the cache, build the frame, force it with ``count()``.
    Returns (build seconds, act seconds, rows). Clearing first keeps a
    run's intra-query persist() calls from leaking into the next: every
    run pays the full cost of its own plan."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    n = df.count()
    return t1 - t0, time.perf_counter() - t1, n


def main() -> None:
    spark = spark_session("weaviate_txtai_spark-bench")

    from weaviate_txtai_spark.plans.queries import queries

    qs = queries()
    warm_up(spark, qs)

    # best-of-5: this box shares cores with noisy neighbors (observed
    # load spikes of 8-12 from other tenants mid-run); a larger sample
    # keeps the reported minimum close to the true steady state
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    # best-of-3, not 2: the r9-r11 mover adjudications all traced >1.3x
    # heavy-set "regressions" to best-of-2 scheduler noise (solo
    # best-of-5 re-measures landed below the flag bar every time) —
    # one more run (~+55 s wall) buys comparable round-over-round minima
    RUNS_HEAVY = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_HEAVY", "3"))
    timings: dict[str, float] = {}
    for name, runs in [(n, RUNS) for n in HEADLINE] + [
        (n, RUNS_HEAVY) for n in HEADLINE_HEAVY
    ]:
        fn = qs[name]
        best, n = float("inf"), 0
        for _ in range(runs):
            build_s, act_s, n = timed_run(spark, lambda: fn(spark, SF_DIR))
            best = min(best, build_s + act_s)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    # `value` stays the ORIGINAL 20-query total so BENCH_r{N}.json is
    # comparable across rounds; the heavy set reports alongside it.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings[n] for n in HEADLINE), 3),
                "unit": "sec",
                "queries": timings,
                "heavy_total": round(
                    sum(timings[n] for n in HEADLINE_HEAVY), 3
                ),
                "sf": float(sf) if sf else SF_DIR,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
