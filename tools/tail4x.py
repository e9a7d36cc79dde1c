"""1x/2x/4x scaling profile of the SCALE_CHECK ratio-tail cases
(VERDICT r8 item 4): the four operators whose r8 2x ratios were worst
(customer_affinity 1.83, dedup_prefix_jaccard 1.49, source_drift_jsd
1.45, threshold_join_bucketed 1.43), extended in r10 with that round's
two worst (docs_heaps_law 1.44, customer_linkage_em 1.58-with-2x-
output), and in r11 with the remaining top-10 heavy-bench families
(VERDICT r10 task 6): sim_join_ivfpq (nlist ∝ corpus), order_scc,
pretraining_manifest, doc_centrality. The 4x corpus is two more
perturbed clones, copies 2 and 3 of scale_check's clone builders (token
prefixes 'y'/'z'; further sign-flip patterns for embeddings; disjoint
key+nation shifts for customers; disjoint custkey/orderkey shifts for
orders), so every doubling is structurally honest like the 2x one. The
query bodies are scale_check's, and so is the timing (best of 2
``bench.timed_run``s). Writes the measurements into SCALE_CHECK.json
under "tail_4x" through ``merge_write``.

Usage: python tools/tail4x.py  (tables from $SPARK_GRAFT_SF_DIR, default
sf0.1)
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import SF_DIR, spark_session
from scale_check import (
    SCALE_CHECK,
    cust_part,
    cust_part_clone,
    customer_clone,
    doc_clone,
    emb_clone,
    grown,
    merge_write,
    orders_clone,
    q_affinity,
    q_centrality,
    q_heaps,
    q_jsd,
    q_linkage_em,
    q_prefix_jaccard,
    q_simjoin_pq,
    q_threshold_bucketed,
    run,
)


def q_scc(orders):
    # the order_scc gate's graph: per-customer directed chain with a
    # back-edge every 4th position (4-cycles + trailing singletons)
    from pyspark.sql import Window

    from weaviate_txtai_spark.operators.graph import (
        strongly_connected_components,
    )

    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    pos = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lead("o_orderkey").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
        F.lag("o_orderkey", 3).over(w).alias("back"),
    )
    chain = pos.select(
        F.col("k").alias("src"),
        F.coalesce("nxt", "k").alias("dst"),
    )
    backe = pos.filter(
        (F.col("rn") % 4 == 0) & F.col("back").isNotNull()
    ).select(F.col("k").alias("src"), F.col("back").alias("dst"))
    return strongly_connected_components(
        chain.unionByName(backe), src="src", dst="dst"
    )


def q_curation(d):
    # the curation_run gate body, shared with the gate itself
    # (plans/pipeline.py curation_report) so this profile can never
    # drift from the plan it is evidence for
    from weaviate_txtai_spark.plans.pipeline import curation_report

    return curation_report(d)


def q_manifest(d):
    # the pretraining_manifest gate body, parameterized on the corpus
    from weaviate_txtai_spark.cache import scoped_persist
    from weaviate_txtai_spark.functions.sampling import assign_split
    from weaviate_txtai_spark.operators.dedup import (
        dedup_survivors, jaccard_pairs,
    )
    from weaviate_txtai_spark.operators.lm import nll_quality_filter

    surv = scoped_persist(
        dedup_survivors(d, jaccard_pairs(d, threshold=0.8)).select(
            "doc_id", "source", "text"
        )
    )
    flags = nll_quality_filter(surv.select("doc_id", "text"), round_decimals=6)
    return (
        surv.join(flags.select("doc_id", "nll", "keep"), "doc_id")
        .select("doc_id", "source", assign_split("doc_id").alias("split"),
                "nll", "keep")
    )


def main() -> None:
    from weaviate_txtai_spark.sources.tables import load_table

    spark = spark_session("tail4x")
    docs1 = load_table(spark, SF_DIR, "documents")
    emb1 = load_table(spark, SF_DIR, "embeddings")
    li1 = load_table(spark, SF_DIR, "lineitem")
    ord1 = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    cp1 = cust_part(load_table(spark, SF_DIR, "orders"), li1)
    cust1 = load_table(spark, SF_DIR, "customer")

    def scales(fn, base, clone):
        # (fn, input) at 1x, 2x and 4x
        return [(fn, grown(base, clone, c)) for c in (1, 2, 4)]

    cases = {
        "customer_affinity": scales(q_affinity, cp1, cust_part_clone),
        "dedup_prefix_jaccard": scales(q_prefix_jaccard, docs1, doc_clone),
        "source_drift_jsd": scales(q_jsd, docs1, doc_clone),
        "threshold_join_bucketed": scales(q_threshold_bucketed, emb1, emb_clone),
        "docs_heaps_law": scales(q_heaps, docs1, doc_clone),
        "customer_linkage_em": scales(q_linkage_em, cust1, customer_clone),
        # r11: the remaining top-10 heavy-bench families; IVF nlist
        # scales with the corpus (nlist ∝ corpus, constant cell size)
        "sim_join_ivfpq": [
            (q_simjoin_pq(16 * c), grown(emb1, emb_clone, c)) for c in (1, 2, 4)
        ],
        "doc_centrality": scales(q_centrality, emb1, emb_clone),
        "order_scc": scales(q_scc, ord1, orders_clone),
        "pretraining_manifest": scales(q_manifest, docs1, doc_clone),
        "curation_run": scales(q_curation, docs1, doc_clone),
    }
    out = {}
    for name, triple in cases.items():
        (t1, n1), (t2, n2), (t4, n4) = (run(spark, f, i) for f, i in triple)
        out[name] = dict(t_1x=round(t1, 3), t_2x=round(t2, 3), t_4x=round(t4, 3),
                         r21=round(t2 / t1, 2), r42=round(t4 / t2, 2),
                         rows=(n1, n2, n4))
        print(name, out[name], flush=True)
    print(json.dumps(out))
    merge_write(SCALE_CHECK, {"tail_4x": out})
    print("merged into", SCALE_CHECK)
    spark.stop()


if __name__ == "__main__":
    main()
