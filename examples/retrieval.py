"""Retrieval walkthrough: every search mode the engine serves, on the
driver's embeddings/documents tables.

    python examples/retrieval.py [sf_dir]

Modes: exact kNN (GEMM + expression paths), filtered and diversified
search, IVF approximate search with tuned nprobe, BM25 lexical, hybrid
RRF fusion.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("retrieval-example")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from weaviate_txtai_spark.operators.ann import IVFIndex, tune_nprobe
    from weaviate_txtai_spark.operators.bm25 import bm25_scores
    from weaviate_txtai_spark.operators.topk import knn_topk, knn_topk_gemm
    from weaviate_txtai_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")
    qv = emb.filter(F.col("vec_id") == 0).head()["embedding"]

    # 1. exact single-query top-5 (numpy GEMM per Arrow batch, tie-exact)
    exact = knn_topk_gemm(
        emb.select(F.col("vec_id").alias("docid"), F.col("embedding").alias("vector")),
        [(0, list(qv))], 5,
    ).orderBy("rank").collect()
    print("exact top-5:", [(r["docid"], round(r["score"], 3)) for r in exact])

    # 2. batch: 3 queries in one plan
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    batch = knn_topk(
        emb.select(F.col("vec_id").alias("docid"), F.col("embedding").alias("vector")),
        queries, 3,
    )
    print("batch top-3 rows:", batch.count())

    # 3. filtered: only labels 1-3 are admissible — predicate pushes
    # before scoring, recall over the filtered set is exact
    filt = (
        emb.filter(F.col("label").isin(1, 2, 3))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with("embedding", F.lit(list(qv)), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                4,
            ).alias("dot"),
        )
        .orderBy(F.desc("dot"))
        .limit(3)
        .collect()
    )
    print("filtered top-3:", [(r["vec_id"], r["dot"]) for r in filt])

    # 4. IVF with recall-tuned nprobe
    ivf = IVFIndex.build(emb, nlist=8)
    nprobe, curve = tune_nprobe(ivf, queries, k=5, recall_target=0.9)
    print(f"ivf: nprobe={nprobe} from recall curve {curve}")

    # 5. BM25 + hybrid
    top_lex = (
        bm25_scores(docs, ["spark", "vector", "join"])
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(3)
        .collect()
    )
    print("bm25 top-3:", [(r["doc_id"], r["score"]) for r in top_lex])

    from weaviate_txtai_spark.plans.queries import hybrid_rrf_q

    fused = hybrid_rrf_q(spark, SF_DIR).collect()
    print("hybrid rrf top-3:", [(r["doc_id"], r["rrf"]) for r in fused[:3]])
    spark.stop()


if __name__ == "__main__":
    main()
