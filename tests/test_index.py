"""VectorIndex contract tests, mirroring the reference test taxonomy
(SURVEY §5: DDL / validation / ingest+offset / search relevance / delete /
upsert / guard / persistence — tests/ann/test_weaviate.py)."""

import math

import pytest

from weaviate_txtai_spark import (
    IndexNotFoundError,
    SchemaValidationError,
    VectorIndex,
)

# Hand-built unit vectors with hand-computable cosine ranking
# (FIXTURES.md A1: model-free replacement for sentence-transformer vectors).
VECS = [
    [1.0, 0.0, 0.0],   # docid 0 "fox"
    [0.0, 1.0, 0.0],   # docid 1 "dog"
    [0.0, 0.0, 1.0],   # docid 2 "stocks"
]
Q_FOXISH = [0.9, 0.1, 0.0]
Q_DOGISH = [0.1, 0.9, 0.0]
Q_STOCKISH = [0.0, 0.2, 0.8]


@pytest.fixture
def idx(spark, tmp_path):
    return VectorIndex(spark, str(tmp_path)).create()


def test_create_default_schema(idx, tmp_path):
    assert idx.exists()
    assert idx.index_name == "Document"
    assert idx.offset == 0


def test_create_custom_schema(spark, tmp_path):
    config = {
        "weaviate": {
            "schema": {
                "class": "Post",
                "properties": [
                    {"name": "docid", "dataType": ["int"]},
                    {"name": "content", "dataType": ["text"]},
                ],
                "vectorIndexConfig": {"distance": "cosine"},
            }
        }
    }
    idx = VectorIndex(spark, str(tmp_path), config).create()
    assert idx.index_name == "Post"


@pytest.mark.parametrize(
    "schema",
    [
        # missing docid (reference test :75-85)
        {"class": "C", "properties": [{"name": "x", "dataType": ["text"]}],
         "vectorIndexConfig": {"distance": "cosine"}},
        # non-cosine metric (reference test :116-125 / weaviate.py:101-104)
        {"class": "C", "properties": [{"name": "docid", "dataType": ["int"]}],
         "vectorIndexConfig": {"distance": "dot"}},
    ],
)
def test_invalid_schema_rejected(spark, tmp_path, schema):
    config = {"weaviate": {"schema": schema}}
    with pytest.raises(SchemaValidationError):
        VectorIndex(spark, str(tmp_path), config).create()


def test_overwrite_semantics(spark, tmp_path):
    # default: drop-and-recreate (reference tests :88-113)
    idx = VectorIndex(spark, str(tmp_path)).create()
    idx.append(VECS)
    assert idx.count() == 3
    idx2 = VectorIndex(spark, str(tmp_path)).create()
    assert idx2.count() == 0
    # overwrite_index=False: reuse with warning
    idx2.append(VECS)
    cfg = {"weaviate": {"overwrite_index": False}}
    idx3 = VectorIndex(spark, str(tmp_path), cfg).create()
    assert idx3.count() == 3
    assert idx3.offset == 3


def test_append_offset_and_count(idx):
    idx.append(VECS)
    assert idx.count() == 3
    assert idx.offset == 3
    idx.append([[1.0, 1.0, 0.0]])
    assert idx.count() == 4
    assert idx.offset == 4  # monotonic, never reused (weaviate.py:149)
    docids = sorted(r["docid"] for r in idx.to_df().collect())
    assert docids == [0, 1, 2, 3]  # dense


def test_search_relevance(idx):
    # parity with the reference's semantic triple ("vixen"->fox etc.,
    # tests/ann/test_weaviate.py:151-170) on hand-built vectors
    idx.append(VECS)
    res = idx.search([Q_FOXISH, Q_DOGISH, Q_STOCKISH], 2)
    assert res[0][0][0] == 0
    assert res[1][0][0] == 1
    assert res[2][0][0] == 2
    # scores are cosine similarity (1 - distance), descending
    for hits in res:
        assert hits[0][1] >= hits[1][1]
    assert math.isclose(res[0][0][1], 0.9 / math.sqrt(0.82), rel_tol=1e-6)


def test_delete_anti_join(idx):
    idx.append(VECS)
    idx.delete([0, 2])
    assert idx.count() == 1
    assert [r["docid"] for r in idx.to_df().collect()] == [1]
    # offset unaffected: new appends continue after 3
    idx.append([[0.5, 0.5, 0.0]])
    assert sorted(r["docid"] for r in idx.to_df().collect()) == [1, 3]


def test_upsert_merge(idx):
    # reference upsert round-trip: update changes ranking, delete restores
    # (tests/ann/test_weaviate.py:254-317)
    idx.append(VECS)
    idx.upsert([(0, [0.0, 0.0, 1.0])])  # docid 0 now looks like "stocks"
    assert idx.count() == 3
    res = idx.search([Q_STOCKISH], 2)[0]
    assert {res[0][0], res[1][0]} == {0, 2}
    idx.upsert([(5, [1.0, 1.0, 1.0])])  # insert-new branch
    assert idx.count() == 4
    assert idx.offset == 6


def test_existence_guard(spark, tmp_path):
    idx = VectorIndex(spark, str(tmp_path)).create()
    idx.append(VECS)
    import shutil

    shutil.rmtree(idx.path)
    with pytest.raises(IndexNotFoundError):
        idx.count()
    with pytest.raises(IndexNotFoundError):
        idx.search([Q_FOXISH], 1)
    with pytest.raises(IndexNotFoundError):
        idx.delete([0])


def test_batch_config_parity(spark, tmp_path):
    # same-keyed config dict as the reference test
    # (tests/ann/test_weaviate.py:221-237): batch_size 64, dynamic
    cfg = {"weaviate": {"batch": {"batch_size": 2, "dynamic": True,
                                  "num_workers": 2}}}
    idx = VectorIndex(spark, str(tmp_path), cfg).create()
    assert idx.batch_config["batch_size"] == 2
    assert idx.batch_config["dynamic"] is True
    assert idx.batch_config["timeout_retries"] == 3  # default preserved
    idx.append(VECS + [[0.5, 0.5, 0.0]])
    assert idx.count() == 4
    import os

    files = [f for f in os.listdir(idx._data_path()) if f.endswith(".parquet")]
    assert len(files) >= 2  # batch_size=2 -> multiple files for 4 rows


def test_save_load_noop(spark, tmp_path):
    # save/load are persistence no-ops; load re-attaches
    # (weaviate.py:208-224; tests :173-206)
    idx = VectorIndex(spark, str(tmp_path)).create()
    idx.append(VECS)
    idx.save("/tmp/ignored")
    fresh = VectorIndex(
        spark, str(tmp_path), {"weaviate": {"overwrite_index": False}}
    )
    fresh.load("/tmp/ignored")
    assert fresh.count() == 3
    assert fresh.offset == 3


def test_search_gemm_path_matches_expr_path(spark, tmp_path):
    """search takes the GEMM path at every query count; at Q=1 and Q=20
    it returns knn_topk's expression-path answer over the same rows."""
    import numpy as np

    from weaviate_txtai_spark.operators.topk import knn_topk

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 16)).tolist()
    idx = VectorIndex(spark, str(tmp_path / "gemmidx")).create()
    idx.append(vecs)
    for queries in (vecs[:1], vecs[:20]):
        qdf = spark.createDataFrame(
            list(enumerate(queries)), "query_id long, query_vector array<float>"
        )
        expr: list = [[] for _ in queries]
        rows = knn_topk(idx.to_df(), qdf, 5).collect()
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            expr[r["query_id"]].append((r["docid"], r["score"]))
        gemm = idx.search(queries, limit=5)
        assert len(gemm) == len(queries)
        for g, e in zip(gemm, expr):
            assert [d for d, _ in g] == [d for d, _ in e]
            for (_, sg), (_, se) in zip(g, e):
                assert abs(sg - se) < 1e-6


def test_compact_preserves_data_and_reduces_files(spark, tmp_path):
    import os

    idx = VectorIndex(
        spark, str(tmp_path), config={"weaviate": {"batch": {"batch_size": 2}}}
    ).create()
    # 5 appends × batch_size 2 → ≥ 10 fragment files
    for i in range(5):
        idx.append([[float(i), float(j), 1.0] for j in range(4)])
    data_dir = idx._data_path()
    before = sum(1 for f in os.listdir(data_dir) if f.endswith(".parquet"))
    assert before >= 10
    pre_rows = {(r["docid"], tuple(r["vector"])) for r in idx.to_df().collect()}
    pre_top = idx.search([Q_FOXISH], 3)[0]

    n_files = idx.compact(target_rows_per_file=1000)
    assert n_files == 1
    after = sum(1 for f in os.listdir(data_dir) if f.endswith(".parquet"))
    assert after == 1
    assert idx.count() == 20
    assert {(r["docid"], tuple(r["vector"])) for r in idx.to_df().collect()} == pre_rows
    assert idx.search([Q_FOXISH], 3)[0] == pre_top
    # append after compaction continues the dense docid sequence
    idx.append([[9.9, 0.0, 0.0]])
    assert idx.count() == 21
    assert idx.to_df().agg({"docid": "max"}).collect()[0][0] == 20


def test_upsert_empty_items_is_noop(spark, tmp_path):
    idx = VectorIndex(spark, str(tmp_path / "e")).create()
    idx.append([[1.0, 0.0]])
    files = sorted(idx._data_files())
    idx.upsert([])  # review finding r2: crashed in max() after a rewrite
    assert sorted(idx._data_files()) == files
    assert idx.count() == 1


def test_upsert_df_matches_upsert(spark, tmp_path):
    """The distributed CDC merge gives identical results to the
    driver-side items form."""
    a = VectorIndex(spark, str(tmp_path / "a")).create()
    b = VectorIndex(spark, str(tmp_path / "b")).create()
    vecs = [[float(i), 1.0] for i in range(10)]
    a.append(vecs)
    b.append(vecs)
    items = [(3, [9.0, 9.0]), (42, [7.0, 7.0])]
    a.upsert(items)
    b.upsert_df(
        spark.createDataFrame(
            [(d, v) for d, v in items], "docid long, vector array<float>"
        )
    )
    ra = {r["docid"]: list(r["vector"]) for r in a.to_df().collect()}
    rb = {r["docid"]: list(r["vector"]) for r in b.to_df().collect()}
    assert ra == rb
    assert a.offset == b.offset == 43
