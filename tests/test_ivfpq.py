"""IVF-PQ composition: residual encoding, exactness under full probe +
full shortlist, recall in production mode."""

import pytest
from pyspark.sql import functions as F

from weaviate_txtai_spark.embeddings import Embeddings
from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex, _with_residual
from weaviate_txtai_spark.operators.topk import knn_topk
from weaviate_txtai_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def index(emb):
    return IVFPQIndex.build(
        emb, nlist=8, m=8, k_pq=16, pq_iters=2, dist_round_decimals=6
    )


def _exact_l2_top(emb, q, n):
    lit = F.array(*[F.lit(float(v)) for v in q])
    return [
        (r["vec_id"], r["d"])
        for r in emb.select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("embedding").cast("array<double>"), lit,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, v: acc + v,
                ),
                6,
            ).alias("d"),
        ).orderBy(F.asc("d"), F.asc("vec_id")).limit(n).collect()
    ]


def test_residuals_are_vector_minus_centroid(emb):
    from weaviate_txtai_spark.operators.ann import IVFIndex

    ivf = IVFIndex.build(emb, nlist=8)
    res = _with_residual(ivf.assigned, ivf.centroids, vector_col="embedding")
    cents = dict(ivf.centroids)
    for r in res.limit(10).collect():
        want = [a - b for a, b in zip(r["embedding"], cents[r["cell"]])]
        assert r["__res"] == pytest.approx(want)


def test_codes_cover_corpus(index, emb):
    assert index.codes.count() == emb.count()
    row = index.codes.head()
    assert len(row["pq_code"]) == 8
    assert all(0 <= c < 16 for c in row["pq_code"])


def test_full_probe_full_shortlist_equals_exact(index, emb):
    """nprobe == nlist and a shortlist covering the corpus: the ADC
    stage only proposes candidates, the re-rank orders them by exact
    distance — so the result must equal brute-force L2 top-n."""
    n_corpus = emb.count()
    qs = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    got = index.search(qs, 5, nprobe=8, shortlist=-(-n_corpus // 5))
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["dist"]))
    for qid, qv in qs:
        want = _exact_l2_top(emb, qv, 5)
        have = [(v, d) for _, v, d in sorted(by_q[qid])]
        assert have == want, f"query {qid}"


def test_production_recall(index, emb):
    """nprobe=4/8 cells + 10× shortlist on worst-case isotropic data:
    recall@5 vs exact well above chance, self-match always found."""
    qs = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 20).collect()
    ]
    got = index.search(qs, 5, nprobe=4, shortlist=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for qid, qv in qs:
        assert qid in by_q[qid]  # self survives coarse+fine quantization
        want = {v for v, _ in _exact_l2_top(emb, qv, 5)}
        hits += len(want & by_q[qid])
        total += len(want)
    assert hits / total >= 0.5


def test_adc_only_mode_and_guards(index, emb):
    qs = [(0, list(emb.filter(F.col("vec_id") == 0).head()["embedding"]))]
    adc = index.search(qs, 5, nprobe=8, shortlist=None)
    rows = adc.collect()
    assert len(rows) == 5
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(range(1, 6))
    with pytest.raises(ValueError, match="empty query batch"):
        index.search([], 5)
    with pytest.raises(ValueError, match="query_id_type"):
        index.search([("q0", qs[0][1])], 5)


def test_save_load_roundtrip(index, emb, tmp_path):
    qs = [(0, list(emb.filter(F.col("vec_id") == 0).head()["embedding"]))]
    before = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["dist"])
        for r in index.search(qs, 5, nprobe=4, shortlist=5).collect()
    )
    path = str(tmp_path / "ivfpq")
    index.save(path)
    loaded = IVFPQIndex.load(emb.sparkSession, path)
    after = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["dist"])
        for r in loaded.search(qs, 5, nprobe=4, shortlist=5).collect()
    )
    assert before == after
    import os
    assert any(
        d.startswith("cell=") for d in os.listdir(os.path.join(path, "codes"))
    )


def test_filtered_search_with_keep_cols(emb):
    """keep_cols denormalizes filterable metadata into the codes table;
    where= prunes BEFORE the shortlist cut, so every returned id
    satisfies the predicate and slots are never wasted."""
    idx = IVFPQIndex.build(
        emb, nlist=4, m=4, k_pq=8, pq_iters=1, keep_cols=["label"]
    )
    assert "label" in idx.codes.columns
    qs = [(0, list(emb.filter(F.col("vec_id") == 0).head()["embedding"]))]
    got = idx.search(qs, 5, nprobe=4, shortlist=10, where="label >= 5")
    rows = got.collect()
    assert 0 < len(rows) <= 5
    labels = {
        r["label"]
        for r in emb.join(
            got.select("vec_id"), "vec_id"
        ).select("label").collect()
    }
    assert all(lb >= 5 for lb in labels)
    # the DataFrame query side honors the same pre-shortlist pruning
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    got_df = idx.search_df(qdf, 5, nprobe=4, shortlist=10,
                           where="label >= 5")
    hit_labels = {
        r["label"]
        for r in emb.join(got_df.select("vec_id"), "vec_id")
        .select("label").collect()
    }
    assert hit_labels and all(lb >= 5 for lb in hit_labels)
    assert {r["query_id"] for r in got_df.collect()} == {0, 1, 2}
    with pytest.raises(ValueError, match="keep_cols not in input"):
        IVFPQIndex.build(emb, nlist=4, m=4, k_pq=8, pq_iters=0,
                         keep_cols=["nope"])


def test_search_gemm_expr_parity(index, emb):
    """The cogrouped gather kernel accumulates the same rounded LUT
    entries in the same subspace order as the interpreted fold — the
    two strategies must agree exactly, in both ADC-only and re-ranked
    modes, including the no-shortlist rank numbering."""
    qs = [(r["vec_id"], list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") < 4).collect()]
    for kwargs in ({"shortlist": None}, {"shortlist": 3}):
        e = index.search(qs, 5, nprobe=3, strategy="expr", **kwargs)
        g = index.search(qs, 5, nprobe=3, strategy="gemm", **kwargs)
        key = lambda r: (r["query_id"], r["rank"])
        assert sorted([tuple(r) for r in e.collect()], key=lambda t: (t[0], t[3])) == \
               sorted([tuple(r) for r in g.collect()], key=lambda t: (t[0], t[3]))


def test_search_gemm_covers_all_queries(index, emb):
    """Cogroup key-type regression (cogroup does NOT auto-cast keys):
    every query must survive the per-cell cogroup, not ~nprobe/nlist
    of them."""
    qs = [(r["vec_id"], list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") < 8).collect()]
    out = index.search(qs, 3, nprobe=2, shortlist=None, strategy="gemm")
    got = {r["query_id"] for r in out.collect()}
    assert got == {q for q, _ in qs}


def test_search_df_matches_batch_search(index, emb):
    """The DataFrame query side must agree with the driver-batch path
    in exactness mode (full probe + corpus shortlist): both reduce to
    brute-force L2 top-k, so (id, dist, rank) per query are equal."""
    n_corpus = emb.count()
    qs = [(r["vec_id"], list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") < 5).collect()]
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    sl = -(-n_corpus // 4)
    batch = index.search(qs, 4, nprobe=8, shortlist=sl)
    dfres = index.search_df(qdf, 4, nprobe=8, shortlist=sl)
    key = lambda t: (t[0], t[3])
    assert sorted([tuple(r) for r in batch.collect()], key=key) == \
           sorted([(r["query_id"], r["vec_id"], r["dist"], r["rank"])
                   for r in dfres.collect()], key=key)


def test_search_df_probe_strategy_parity(index, emb):
    """The map-only GEMM probe (default) and the crossJoin+window expr
    twin pick the same cells and hence the same results in PRODUCTION
    mode (nprobe < nlist — exactness mode probes everything and would
    hide a probe bug): both rank (round(dist,9) ASC, cell ASC)."""
    qdf = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    kw = dict(nprobe=3, shortlist=8)
    gemm = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in index.search_df(qdf, 4, probe_strategy="gemm", **kw).collect()
    )
    expr = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in index.search_df(qdf, 4, probe_strategy="expr", **kw).collect()
    )
    assert gemm == expr
    with pytest.raises(ValueError, match="probe_strategy"):
        index.search_df(qdf, 4, probe_strategy="nope")


def test_search_df_covers_all_queries_production(index, emb):
    """Every query survives the cogrouped kernel in production mode
    (nprobe < nlist, small shortlist) — the cogroup key-type regression
    guard for the DataFrame path — and self-match is found."""
    qdf = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    out = index.search_df(qdf, 3, nprobe=4, shortlist=10)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(by_q) == set(range(16))
    for qid, ids in by_q.items():
        assert qid in ids  # self survives coarse+fine quantization


def test_append_routes_and_encodes_with_frozen_model(index, emb):
    """append: new vectors land in the cell + codes a rebuild with the
    SAME model would give — old rows untouched, model frozen, and the
    appended rows are immediately searchable."""
    n = emb.count()
    new = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    grown = index.append(new)
    assert grown.codes.count() == n + 20
    assert grown.pq is index.pq                      # model frozen
    # appended twin of vec 5: identical vector => identical cell + code
    base = {r["vec_id"]: (r["cell"], list(r["pq_code"]))
            for r in index.codes.filter(F.col("vec_id") == 5).collect()}
    twin = {r["vec_id"] - 1_000_000: (r["cell"], list(r["pq_code"]))
            for r in grown.codes.filter(
                F.col("vec_id") == 1_000_005).collect()}
    assert twin == base
    # searchable: the twin of query 5 shows up in its exact top-k
    qs = [(5, list(emb.filter(F.col("vec_id") == 5).head()["embedding"]))]
    got = {r["vec_id"] for r in grown.search(
        qs, 3, nprobe=8, shortlist=-(-(n + 20) // 3)).collect()}
    assert {5, 1_000_005} <= got   # both zero-distance twins rank first


def test_append_to_saved_physical(index, emb, tmp_path):
    """Physical append: old cell files untouched (mtimes), appended
    rows searchable after load, cell routing == the frozen model's."""
    import glob
    import os

    path = str(tmp_path / "ivfpq_saved")
    index.save(path)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(path, "codes", "**", "*.parquet"),
                           recursive=True)
    }
    assert before
    new = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    index.append_to_saved(path, new)
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(path, "codes", "**", "*.parquet"),
                           recursive=True)
    }
    for p, t in before.items():      # old files never rewritten
        assert after[p] == t
    assert len(after) > len(before)  # new files appended
    loaded = IVFPQIndex.load(index.codes.sparkSession, path)
    assert loaded.codes.count() == emb.count() + 10
    n = emb.count() + 10
    qs = [(4, list(emb.filter(F.col("vec_id") == 4).head()["embedding"]))]
    got = {r["vec_id"] for r in loaded.search(
        qs, 3, nprobe=8, shortlist=-(-n // 3)).collect()}
    assert {4, 2_000_004} <= got

    # type-mismatch guard: int32 ids must be rejected before any write
    bad = new.withColumn("vec_id", F.col("vec_id").cast("int"))
    with pytest.raises(ValueError, match="types differ"):
        index.append_to_saved(path, bad)


def test_tune_shortlist_monotone_and_minimal(index, emb):
    """Recall curve is non-decreasing in shortlist; the chosen value is
    minimal (its half missed the target) and meets the target —
    exhaustive shortlist at full probe must reach recall 1."""
    from weaviate_txtai_spark.operators.ivfpq import tune_shortlist

    qs = [(r["vec_id"], list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") < 12).collect()]
    n = emb.count()
    chosen, curve = tune_shortlist(
        index, qs, 5, nprobe=8, recall_target=0.95,
        max_shortlist=-(-n // 5),
    )
    vals = [curve[s] for s in sorted(curve)]
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))
    assert curve[chosen] >= 0.95 or chosen == max(curve)
    smaller = [s for s in curve if s < chosen]
    if smaller:
        assert curve[max(smaller)] < 0.95
    # (corpus-covering-shortlist exactness is pinned separately in
    # test_full_probe_full_shortlist_equals_exact — not re-tuned here,
    # the doubling loop at target 1.0 costs minutes)


def test_tune_search_params_joint_minimal(index, emb):
    """The composed tuner picks (nprobe, shortlist) lexicographically:
    no smaller measured nprobe reaches the target even at the shortlist
    ceiling, and no smaller measured shortlist reaches it at the chosen
    nprobe — the two single-parameter tuners provably compose."""
    from weaviate_txtai_spark.operators.ivfpq import (
        tune_search_params,
        tune_shortlist,
    )

    qs = [(r["vec_id"], list(r["embedding"]))
          for r in emb.filter(F.col("vec_id") < 12).collect()]
    target = 0.9
    npb, sl, curve = tune_search_params(
        index, qs, 5, recall_target=target, max_shortlist=32,
    )
    assert curve[(npb, sl)] >= target or (npb, sl) == (8, 32)
    # nprobe minimality: every smaller measured nprobe missed the target
    # at the CEILING shortlist (so no shortlist could save it)
    for (p, s), r in curve.items():
        if p < npb and s == 32:
            assert r < target, f"nprobe={p} already met target"
    # shortlist minimality at the chosen nprobe
    half = [s for (p, s) in curve if p == npb and s < sl]
    if half:
        assert curve[(npb, max(half))] < target
    # composition: the single-axis tuner at the chosen nprobe picks the
    # same shortlist (same ladder, same truth, same tie-breaks)
    sl_single, _ = tune_shortlist(
        index, qs, 5, nprobe=npb, recall_target=target, max_shortlist=32,
    )
    assert sl_single == sl


def test_driver_and_df_search_probe_by_one_rule(spark):
    """search (driver batch) and search_df probe the same cell at a 9-dp
    centroid tie: both rank round(L2, 9) with ties to the lowest cell.
    q = (0, 0) lies 1.0000000002 from c0 and 1 from c1 — unrounded, c1
    is nearer; rounded, they tie and c0 wins."""
    import dataclasses

    from weaviate_txtai_spark.operators.ann import IVFIndex

    pts = [(0, [1.0, 0.0]), (1, [1.1, 0.1]), (2, [0.9, -0.1]),
           (3, [0.0, -1.0]), (4, [0.1, -1.1]), (5, [-0.1, -0.9])]
    built = IVFPQIndex.build(
        spark.createDataFrame(pts, "vec_id long, embedding array<float>"),
        nlist=2, m=2, k_pq=2, pq_iters=1,
    )
    hand = [(0, [1.0000000001, 0.0]), (1, [0.0, -1.0])]
    idx = dataclasses.replace(
        built,
        ivf=IVFIndex(built.ivf.assigned, hand, "vec_id", "embedding"),
    )
    kw = dict(nprobe=1, shortlist=3)
    batch = sorted(
        tuple(r) for r in idx.search([(0, [0.0, 0.0])], 2, **kw).collect()
    )
    qdf = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, query_vector array<float>"
    )
    dfres = sorted(
        (r["query_id"], r["vec_id"], r["dist"], r["rank"])
        for r in idx.search_df(qdf, 2, **kw).collect()
    )
    assert len(batch) == 2 and batch == dfres


@pytest.mark.parametrize(
    "target, knobs",
    [
        ("Embeddings-ivf", {"nprobe": 0}),
        ("Embeddings-ivfpq", {"nprobe": 0}),
        ("Embeddings-ivfpq", {"shortlist": 0}),
        ("Embeddings-ivfpq", {"shortlist": -1}),
        ("Embeddings-ivfpq", {"nlist": 0}),
        ("Embeddings-ivfpq", {"iters": -1}),
        ("IVFIndex.search", {"nprobe": 0}),
        ("IVFPQIndex.search", {"nprobe": -1}),
        ("IVFPQIndex.search", {"shortlist": 0}),
        ("IVFPQIndex.search_df", {"nprobe": 0}),
        ("IVFPQIndex.search_df", {"shortlist": -1}),
    ],
    ids=lambda v: v if isinstance(v, str) else "-".join(
        f"{k}{x}" for k, x in v.items()
    ),
)
def test_knob_below_one_raises_naming_it(spark, index, emb, target, knobs):
    """One rule for non-positive settings: an Embeddings backend
    setting below 1 (iters below 0) and an nprobe/shortlist below 1 on
    any IVF/IVF-PQ search raise ValueError naming the key, before any
    Spark work. Unchecked, nprobe 0 crashed the probe kernel, shortlist
    -1 returned no hits and nprobe -1 probed nlist - 1 cells."""
    key = next(iter(knobs))
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    qdf = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    calls = {
        "Embeddings-ivf": lambda: Embeddings(
            spark, config={"backend": "ivf", "ivf": knobs}),
        "Embeddings-ivfpq": lambda: Embeddings(
            spark, config={"backend": "ivfpq", "ivfpq": knobs}),
        "IVFIndex.search": lambda: index.ivf.search(qdf, 3, **knobs),
        "IVFPQIndex.search": lambda: index.search([(0, q)], 3, **knobs),
        "IVFPQIndex.search_df": lambda: index.search_df(qdf, 3, **knobs),
    }
    with pytest.raises(ValueError, match=key):
        calls[target]()


def test_append_assigns_each_new_batch_once(index, emb, monkeypatch):
    """IVFPQIndex.append builds the float layout and the codes table
    from ONE cell assignment of the new batch."""
    from weaviate_txtai_spark.operators import kmeans

    calls = []
    assign = kmeans.assign_clusters

    def counting(*args, **kwargs):
        calls.append(1)
        return assign(*args, **kwargs)

    monkeypatch.setattr(kmeans, "assign_clusters", counting)
    index.append(emb.limit(3).withColumn("vec_id", F.col("vec_id") + 10**6))
    assert len(calls) == 1
