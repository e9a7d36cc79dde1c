"""SQL vector functions registered for ad hoc ``spark.sql`` text. The
txtai SQL dialect (similar(), metadata predicates, aggregates, order by
score) is tested through ``Embeddings`` in test_embeddings.py."""


def test_registered_sql_vector_functions(spark, sf_dir):
    from weaviate_txtai_spark.sql import register_sql_functions
    from weaviate_txtai_spark.sources.tables import register_views

    register_sql_functions(spark)
    register_views(spark, sf_dir)
    rows = spark.sql(
        """
        SELECT a.vec_id,
               round(cosine_sim(a.embedding, b.embedding), 6) AS cs,
               round(dot_product(a.embedding, b.embedding), 6) AS dp,
               round(l2_dist(a.embedding, b.embedding), 6) AS l2
        FROM embeddings a JOIN embeddings b ON b.vec_id = 0
        WHERE a.vec_id < 5
        ORDER BY a.vec_id
        """
    ).collect()
    assert len(rows) == 5
    self_row = rows[0]
    assert abs(self_row["cs"] - 1.0) < 1e-6
    assert self_row["l2"] == 0.0
    assert all(-1.0 - 1e-9 <= r["cs"] <= 1.0 + 1e-9 for r in rows)
