"""txtai-level Embeddings facade tests — mirrors the reference's test
taxonomy (reference tests/ann/test_weaviate.py): index/count/offset,
search relevance, SQL dialect incl. embedded similar('…'), aggregates,
delete, upsert round-trip, ad-hoc similarity.

Relevance assertions use the deterministic HashingEncoder: lexical
overlap drives cosine, so ranks are reproducible without any model.
Like the reference, assertions are ids/ranks/counts — never absolute
float scores (SURVEY §5).
"""

import pytest

from weaviate_txtai_spark.embeddings import Embeddings, rewrite_similar_sql

# the reference notebook corpus (examples/01_simple.ipynb cell 5)
DATA = [
    "US tops 5 million confirmed virus cases",
    "Canada's last fully intact ice shelf has suddenly collapsed, "
    "forming a Manhattan-sized iceberg",
    "Beijing mobilises invasion craft along coast as Taiwan tensions escalate",
    "The National Park Service warns against sacrificing slower friends "
    "in a bear attack",
    "Maine man wins $1M from $25 lottery ticket",
    "Make huge profits without work, earn up to $100,000 a day",
]


@pytest.fixture()
def emb(spark):
    e = Embeddings(spark)
    e.index([(i, t, None) for i, t in enumerate(DATA)])
    return e


def test_index_count_offset(emb):
    assert emb.count() == len(DATA)
    assert emb.offset == len(DATA)


def test_search_returns_id_score(emb):
    res = emb.search("lottery ticket win", 3)
    assert len(res) == 3
    assert res[0][0] == "4"  # the lottery doc
    assert all(isinstance(s, float) for _, s in res)
    # scores sorted descending
    assert [s for _, s in res] == sorted((s for _, s in res), reverse=True)


def test_search_string_ids(spark):
    e = Embeddings(spark)
    e.index([("foo", "the quick brown fox", None), ("bar", "wall street", None)])
    assert e.search("fox jumps", 1)[0][0] == "foo"
    assert e.search("wall street banker", 1)[0][0] == "bar"


def test_sql_similar_with_metadata_predicate(emb):
    # reference examples/01_simple.ipynb cells 25-26
    rows = emb.search(
        "select text, score from txtai where similar('huge profits') "
        "and score >= 0.0 and length >= 40",
        limit=10,
    )
    assert rows, "similar + metadata predicate returned nothing"
    assert rows[0]["text"] == DATA[5]
    for r in rows:
        assert len(r["text"]) >= 40 and r["score"] >= 0.0


def test_sql_aggregates(emb):
    # reference examples/01_simple.ipynb cell 27
    rows = emb.search(
        "select count(*) as n, min(length) as mn, max(length) as mx, "
        "sum(length) as total from txtai"
    )
    assert rows == [
        {
            "n": len(DATA),
            "mn": min(len(t) for t in DATA),
            "mx": max(len(t) for t in DATA),
            "total": sum(len(t) for t in DATA),
        }
    ]


def test_sql_order_by_score_asc_limit(emb):
    # reference examples/01_simple.ipynb cell 29 shape
    rows = emb.search(
        "select id, score from txtai where similar('lottery win') "
        "order by score asc limit 1"
    )
    assert len(rows) == 1
    # ranks not ids: several docs tie at the minimum score, so assert the
    # returned row carries the minimum score (reference-style rank assert)
    all_scored = emb.search("lottery win", len(DATA))
    assert rows[0]["score"] == min(s for _, s in all_scored)


def test_delete_by_id(emb):
    emb.delete([0, 1])
    assert emb.count() == len(DATA) - 2
    assert all(r[0] not in ("0", "1") for r in emb.search("virus cases", 10))


def test_upsert_roundtrip(emb):
    # reference tests/ann/test_weaviate.py:254-317: update visibility,
    # then delete restores the original ranking
    top_before = emb.search("feel good story", 1)[0][0]
    emb.upsert([("maine", "Maine man wins lottery, feel good story", None)])
    assert emb.count() == len(DATA) + 1
    assert emb.search("feel good story", 1)[0][0] == "maine"
    emb.delete(["maine"])
    assert emb.search("feel good story", 1)[0][0] == top_before
    # docids stay dense-monotonic: upsert consumed one offset slot
    assert emb.offset == len(DATA) + 1


def test_upsert_replaces_existing_id(emb):
    emb.upsert([("2", "totally new content about gardening tulips", None)])
    assert emb.count() == len(DATA)  # replaced, not appended
    assert emb.search("gardening tulips", 1)[0][0] == "2"


def test_similarity_adhoc(spark):
    e = Embeddings(spark)
    res = e.similarity(
        "feel good story",
        ["bad news about the virus", "Maine man wins lottery feel good story"],
    )
    assert res[0][0] == 1
    assert len(res) == 2
    assert res[0][1] >= res[1][1]


def test_rewrite_similar_sql():
    sql, text = rewrite_similar_sql(
        "select text, score from txtai where similar('hiking danger') "
        "and score >= 0.15"
    )
    assert text == "hiking danger"
    assert "similar" not in sql.lower()
    assert "TRUE" in sql
    sql2, text2 = rewrite_similar_sql("select count(*) from txtai")
    assert text2 is None and "count(*)" in sql2
    with pytest.raises(ValueError):
        rewrite_similar_sql(
            "select 1 from txtai where similar('a') and similar('b')"
        )


def test_metadata_dict_documents(spark):
    e = Embeddings(spark)
    e.index(
        [
            ("a", {"text": "spark engine", "lang": "en"}, None),
            ("b", {"text": "moteur spark", "lang": "fr"}, None),
        ]
    )
    rows = e.search("select id, lang from txtai where lang = 'en'")
    assert rows == [{"id": "a", "lang": "en"}]


def test_save_load_reattach(spark, tmp_path, emb):
    # reference shard-reuse semantics (tests/ann/test_weaviate.py:187-206):
    # a reloaded handle serves the same data and keeps the offset counter
    path = str(tmp_path / "emb")
    emb.save(path)
    loaded = Embeddings.load(spark, path)
    assert loaded.count() == emb.count()
    assert loaded.offset == emb.offset
    assert loaded.search("lottery ticket win", 1)[0][0] == "4"
    # appends after reload continue the docid sequence without collision
    loaded.upsert([("new", "brand new appended document", None)])
    docids = {r["docid"] for r in loaded._df.select("docid").collect()}
    assert len(docids) == loaded.count()
    assert loaded.offset == len(DATA) + 1


def test_binary_object_column_t4(spark):
    # reference T4 (examples/01_simple.ipynb cell 29): binary `object`
    # payloads stored next to text, fetched back through scored SQL
    e = Embeddings(spark)
    e.index(
        [
            ("img1", {"text": "a photo of a red fox", "object": b"\x89PNGfox"}, None),
            ("img2", {"text": "stock market chart", "object": b"\x89PNGchart"}, None),
        ]
    )
    rows = e.search(
        "select id, object from txtai where similar('fox photo') "
        "order by score desc limit 1"
    )
    assert rows[0]["id"] == "img1"
    assert bytes(rows[0]["object"]) == b"\x89PNGfox"


def test_heterogeneous_metadata(spark):
    e = Embeddings(spark)
    e.index(
        [
            ("a", {"text": "doc with tags", "tag": "news"}, None),
            ("b", "plain text doc", None),
            ("c", {"text": "doc with author", "author": "kim"}, None),
        ]
    )
    assert e.count() == 3
    rows = e.search("select id, tag, author from txtai order by id")
    assert rows[0] == {"id": "a", "tag": "news", "author": None}
    assert rows[1] == {"id": "b", "tag": None, "author": None}
    assert rows[2] == {"id": "c", "tag": None, "author": "kim"}


def test_many_mutations_stay_correct(spark):
    # 40 mutations, each checkpointed from its predecessor; state must
    # stay exact throughout
    e = Embeddings(spark)
    e.index([(i, f"base document {i}", None) for i in range(10)])
    for i in range(30):
        e.upsert([(f"u{i}", f"updated doc number {i}", None)])
    for i in range(0, 30, 3):
        e.delete([f"u{i}"])
    assert e.count() == 10 + 30 - 10
    assert e.search("updated doc number 29", 1)[0][0] == "u29"
    ids = {r["id"] for r in e._df.select("id").collect()}
    assert "u0" not in ids and "u29" in ids and "5" in ids


def test_search_after_writes_costs_a_search_after_none(spark):
    """The write rule: each write fills its own frame, so a search
    after k writes runs the same number of Spark jobs as a search
    after none — it never replays the write history."""
    sc = spark.sparkContext

    def search_jobs(e, tag):
        sc.setJobGroup(tag, "embeddings write rule")
        try:
            e.search("base document 3", 3)
        finally:
            sc.setJobGroup("", "")
        # job-start events reach the status tracker through the async
        # listener bus; drain it before counting
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    e = Embeddings(spark)
    e.index([(i, f"base document {i}", None) for i in range(10)])
    fresh = search_jobs(e, "write-rule-0")
    assert fresh >= 1
    for k in range(1, 9):
        if k % 2:
            e.upsert([(f"u{k}", f"updated document {k}", None)])
        else:
            e.delete([str(k)])
        assert search_jobs(e, f"write-rule-{k}") == fresh, k


def test_upsert_without_metadata_into_metadata_index(spark):
    e = Embeddings(spark)
    e.index([("a", {"text": "tagged doc", "tag": "news"}, None)])
    e.upsert([("b", "untagged doc", None)])
    rows = e.search("select id, tag from txtai order by id")
    assert rows == [{"id": "a", "tag": "news"}, {"id": "b", "tag": None}]


def test_content_mode_returns_row_dicts(spark):
    """content=True search returns [{id, text, score}] like txtai with
    content storage enabled (reference examples/01_simple.ipynb cells
    21-22: embeddings.search(...)[0]["text"])."""
    from weaviate_txtai_spark.embeddings import Embeddings

    emb = Embeddings(spark, config={"content": True, "objects": True})
    emb.index(
        [
            (0, "the quick brown fox jumps", None),
            (1, "stock markets rallied on friday", None),
        ]
    )
    hit = emb.search("fox", 1)[0]
    assert isinstance(hit, dict)
    assert hit["text"] == "the quick brown fox jumps"
    assert set(hit) == {"id", "text", "score"}
    # batchsearch returns the same row dicts, one list per query
    batch = emb.batchsearch(["fox", "stock markets"], 1)
    assert [b[0]["text"] for b in batch] == [
        "the quick brown fox jumps",
        "stock markets rallied on friday",
    ]
    assert all(set(b[0]) == {"id", "text", "score"} for b in batch)
    # default (no content) keeps the (id, score) tuple contract
    emb2 = Embeddings(spark)
    emb2.index([(0, "the quick brown fox jumps", None)])
    assert isinstance(emb2.search("fox", 1)[0], tuple)


def test_tie_group_wider_than_the_slack_cuts_at_the_lowest_docids(spark):
    """30 documents share one text, a tie group wider than the 8 hits of
    slack the backend keeps past the limit: search and batchsearch both
    cut it at its five lowest docids, in docid order, with one score."""
    same = "lighthouse keeper watches the stormy sea"
    e = Embeddings(spark)
    e.index(
        [
            (f"doc-{i}", same if i % 2 else f"quarterly market report {i}", None)
            for i in range(60)
        ]
    )
    want = [f"doc-{i}" for i in (1, 3, 5, 7, 9)]
    for hits in (e.search(same, 5), e.batchsearch([same], 5)[0]):
        assert [h[0] for h in hits] == want
        assert len({h[1] for h in hits}) == 1


def test_batchsearch_matches_sequential_search(emb):
    queries = ["lottery ticket win", "bear attack warning"]
    batch = emb.batchsearch(queries, 3)
    assert len(batch) == 2
    for q, got in zip(queries, batch):
        assert got == emb.search(q, 3)
    assert batch[0][0][0] == "4"  # lottery doc tops query 0


def test_batchsimilarity_matches_sequential(spark):
    e = Embeddings(spark)
    texts = ["bad news about the virus", "Maine man wins lottery feel good story"]
    queries = ["feel good story", "public health story"]
    batch = e.batchsimilarity(queries, texts)
    assert len(batch) == 2
    for q, got in zip(queries, batch):
        assert got == e.similarity(q, texts)


def test_delete_returns_deleted_ids(emb):
    # txtai contract: report present ids back, ignore absent ones
    deleted = emb.delete(["0", "no-such-id"])
    assert deleted == ["0"]
    assert emb.count() == len(DATA) - 1
    assert emb.delete(["no-such-id"]) == []


def test_exists(spark, emb):
    assert emb.exists()
    assert not Embeddings(spark).exists()


def test_transform_batchtransform(spark):
    e = Embeddings(spark)
    v = e.transform("the quick brown fox")
    assert len(v) == e.encoder.dim and any(x != 0 for x in v)
    assert e.transform(("id0", "the quick brown fox", None)) == v
    assert e.transform(("id0", {"text": "the quick brown fox"}, None)) == v
    batch = e.batchtransform(["the quick brown fox", "stock markets rally"])
    assert batch[0] == v and batch[1] != v


def test_text_query_starting_with_select_word(spark):
    """'selecting…' is a TEXT query, not SQL (review finding r2)."""
    emb = Embeddings(spark)
    emb.index([(i, f"document about topic {i}", None) for i in range(5)])
    res = emb.search("selecting the best topic 3", limit=2)
    assert len(res) == 2  # ranked hits, no ParseException


def test_similar_with_group_by_aggregate(spark):
    """similar() + GROUP BY must not get ORDER BY score injected
    (review finding r2)."""
    emb = Embeddings(spark, config={"content": True})
    emb.index(
        [(i, {"text": f"text {i}", "cat": "a" if i < 3 else "b"}, None)
         for i in range(6)]
    )
    rows = emb.search(
        "select cat, count(*) as n from txtai where similar('text 1') "
        "group by cat"
    )
    assert {r["cat"]: r["n"] for r in rows} == {"a": 3, "b": 3}


def test_save_load_preserves_content_config(spark, tmp_path):
    """content=True must survive the save/load round trip: it changes
    the search RESULT SHAPE (review finding r2)."""
    emb = Embeddings(spark, config={"content": True})
    emb.index([(i, {"text": f"doc {i}"}, None) for i in range(4)])
    emb.save(str(tmp_path / "emb"))
    emb2 = Embeddings.load(spark, str(tmp_path / "emb"))
    hits = emb2.search("doc 2", limit=1)
    assert isinstance(hits[0], dict) and "text" in hits[0]


def test_index_all_null_metadata_field(spark):
    """A metadata field that is None in EVERY row of the batch must not
    break schema inference (review finding r2)."""
    emb = Embeddings(spark, config={"content": True})
    emb.index([(i, {"text": f"doc {i}", "tag": None}, None) for i in range(3)])
    assert emb.count() == 3


def test_metadata_arrays_survive_as_arrays(spark):
    """List metadata must infer as array columns, not repr strings
    (review finding r4); all-None fields coexist with inference."""
    emb = Embeddings(spark, config={"content": True})
    emb.index(
        [(i, {"text": f"doc {i}", "tags": ["a", f"t{i}"], "opt": None}, None)
         for i in range(3)]
    )
    rows = emb.search(
        "select id, tags from txtai where array_contains(tags, 'a')"
    )
    assert len(rows) == 3
    assert isinstance(rows[0]["tags"], list) and "a" in rows[0]["tags"]


# ------------------------------------------------------------- IVF backend

def _docs(n=60):
    import random

    rng = random.Random(7)
    words = ["fox", "dog", "cat", "tree", "river", "cloud", "stone", "bird"]
    return [
        (f"d{i}", " ".join(rng.choice(words) for _ in range(12)), None)
        for i in range(n)
    ]


def test_ivf_backend_full_probe_matches_exact(spark):
    """backend='ivf' with nprobe == nlist must return the same hit SETS
    as the exact backend (ordering can differ only on sub-6dp score
    ties)."""
    from weaviate_txtai_spark.embeddings import Embeddings

    docs = _docs()
    exact = Embeddings(spark)
    exact.index(docs)
    ivf = Embeddings(
        spark, config={"backend": "ivf", "ivf": {"nlist": 4, "nprobe": 4}}
    )
    ivf.index(docs)
    for q in ("fox river", "cloud stone dog"):
        a = exact.search(q, 5)
        b = ivf.search(q, 5)
        assert {(i, s) for i, s in a} == {(i, s) for i, s in b}
    # batch shape parity
    ab = exact.batchsearch(["fox", "tree bird"], 3)
    bb = ivf.batchsearch(["fox", "tree bird"], 3)
    assert [set(x) for x in ab] == [set(x) for x in bb]


def test_ivf_backend_rebuilds_after_mutation(spark):
    from weaviate_txtai_spark.embeddings import Embeddings

    ivf = Embeddings(
        spark, config={"backend": "ivf", "ivf": {"nlist": 2, "nprobe": 2}}
    )
    docs = _docs(30)
    ivf.index(docs)
    first = ivf.search(docs[3][1], 1)
    assert first[0][0] == "d3"
    idx_before = ivf._ann
    ivf.delete(["d3"])
    hit = ivf.search(docs[3][1], 1)
    assert hit[0][0] != "d3"          # deleted doc gone from ANN results
    assert ivf._ann is not idx_before  # index was rebuilt, not stale


def test_ivf_backend_content_mode_and_sql_stays_exact(spark):
    from weaviate_txtai_spark.embeddings import Embeddings

    ivf = Embeddings(
        spark,
        config={"backend": "ivf", "content": True,
                "ivf": {"nlist": 2, "nprobe": 2}},
    )
    docs = _docs(25)
    ivf.index(docs)
    out = ivf.search(docs[0][1], 2)
    assert isinstance(out[0], dict) and "text" in out[0]
    # SQL path unaffected by the backend (exact, filterable)
    sql = ivf.search("select id, score from txtai where similar('fox') limit 3", 3)
    assert len(sql) == 3


def test_unknown_backend_rejected(spark):
    import pytest as _pytest

    from weaviate_txtai_spark.embeddings import Embeddings

    with _pytest.raises(ValueError, match="unknown backend"):
        Embeddings(spark, config={"backend": "hnsw"})


def test_ivf_backend_counter_staleness_not_object_identity(spark):
    """ADVICE r4: staleness must key on the monotonic mutation counter,
    not id(self._df) — object ids can be reused after the old frame is
    GC'd. Pin the mechanism (counter moves and the cached index drops)
    across every mutating entry point, including re-index()."""
    from weaviate_txtai_spark.embeddings import Embeddings

    ivf = Embeddings(
        spark, config={"backend": "ivf", "ivf": {"nlist": 2, "nprobe": 2}}
    )
    docs = _docs(20)
    ivf.index(docs)
    ivf.search(docs[0][1], 1)
    built_at = ivf._ann_mutations
    assert built_at == ivf._mutations  # fresh index is current
    idx_before = ivf._ann
    ivf.upsert([("d99", "a brand new document about zebras", None)])
    assert ivf._mutations > built_at   # counter is monotonic, not id()
    ivf.search("zebras", 1)
    assert ivf._ann is not idx_before
    # re-index() (drop-and-recreate) must also invalidate
    idx_before = ivf._ann
    before = ivf._mutations
    ivf.index(docs[:10])
    assert ivf._mutations > before
    ivf.search(docs[0][1], 1)
    assert ivf._ann is not idx_before


def test_ivfpq_backend_full_probe_matches_exact(spark):
    """backend='ivfpq' at nprobe == nlist with a corpus-covering
    shortlist must return the same hit SETS as exact brute force (the
    unit-norm L2->cosine identity makes the re-ranked order the cosine
    order)."""
    from weaviate_txtai_spark.embeddings import Embeddings

    docs = _docs(40)
    exact = Embeddings(spark)
    exact.index(docs)
    pq = Embeddings(
        spark,
        config={"backend": "ivfpq",
                "ivfpq": {"nlist": 4, "m": 8, "k": 8, "nprobe": 4,
                          "shortlist": 40}},
    )
    pq.index(docs)
    for q in (docs[0][1], docs[7][1], "fox jumps"):
        a = [h[0] for h in exact.search(q, 5)]
        b = [h[0] for h in pq.search(q, 5)]
        assert a == b
    ba = exact.batchsearch([docs[1][1], docs[2][1]], 3)
    bb = pq.batchsearch([docs[1][1], docs[2][1]], 3)
    assert [[h[0] for h in r] for r in ba] == [[h[0] for h in r] for r in bb]


def test_ivfpq_backend_mutation_invalidates(spark):
    from weaviate_txtai_spark.embeddings import Embeddings

    pq = Embeddings(
        spark,
        config={"backend": "ivfpq",
                "ivfpq": {"nlist": 2, "m": 8, "k": 4, "nprobe": 2,
                          "shortlist": 30}},
    )
    docs = _docs(25)
    pq.index(docs)
    assert pq.search(docs[3][1], 1)[0][0] == "d3"
    idx_before = pq._ann
    pq.delete(["d3"])
    assert pq.search(docs[3][1], 1)[0][0] != "d3"
    assert pq._ann is not idx_before


@pytest.mark.parametrize(
    "backend, keys, value",
    [
        ("ivf", ("nlist", "nprobe"), None),
        ("ivfpq", ("nlist", "m", "k", "iters", "nprobe", "shortlist"), None),
    ],
)
def test_none_backend_settings_search_like_the_defaults(
    spark, backend, keys, value
):
    """An explicit None for a backend setting (as save() keeps it
    through JSON) reads as missing: a config with every setting None
    searches exactly like the default config. (A 0 is rejected at
    construction: test_ivfpq.py::test_knob_below_one_raises_naming_it.)"""
    docs = _docs(40)
    out = []
    for cfg in (
        {"backend": backend},
        {"backend": backend, backend: dict.fromkeys(keys, value)},
    ):
        e = Embeddings(spark, config=cfg)
        e.index(docs)
        out.append(
            (e.search(docs[0][1], 5), e.batchsearch(["fox river", docs[3][1]], 3))
        )
    assert out[0] == out[1]
