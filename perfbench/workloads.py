"""The benchmark workloads: one client, closed loop.

Each workload runs an ingest (sessions only) and then whole rounds of a
fixed operation mix; each call waits for the previous one to finish.
Every answer is checked against the workload's own model (sessions) or
the stored DuckDB answer (vector_batch); a wrong answer or an exception
counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext

import numpy as np

import checks
import datagen

K = 10
BATCH_Q = 64
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "vector_batch.json")

# the 10 bench.py queries whose plans live in plans/vector.py
VECTOR_QUERIES = [
    "knn_topk",
    "knn_batch",
    "sim_join_topk",
    "sim_join_ivf",
    "pq_knn",
    "ivfpq_knn",
    "sim_join_ivfpq",
    "binary_hamming_rerank",
    "retrieval_eval",
    "maxsim_topk",
]

WRITES = {"upsert", "delete"}


def is_write(kind: str) -> bool:
    """Kinds are "search", "upsert", ... or "index.search", ... ."""
    return kind.rsplit(".", 1)[-1] in WRITES


class Op:
    __slots__ = ("kind", "s", "ok", "after_write")

    def __init__(self, kind, s, ok, after_write):
        self.kind, self.s, self.ok, self.after_write = kind, s, ok, after_write


class Recorder:
    """Times each call, runs its check, and counts attempts and
    failures. With a tracer, each call is an ``act`` span."""

    def __init__(self, tracer=None):
        self.ops: list[Op] = []
        self.tracer = tracer
        self._after_write = False

    def call(self, kind, fn, check):
        ctx = self.tracer.span("act") if self.tracer else nullcontext()
        t = time.perf_counter()
        out, ok = None, False
        try:
            with ctx:
                out = fn()
            s = time.perf_counter() - t
            ok = bool(check(out))
        except Exception as e:  # a crashing call is a failed operation
            s = time.perf_counter() - t
            print(f"# {kind} raised {type(e).__name__}: {e}", file=sys.stderr)
        self.add(kind, s, ok)
        return out

    def add(self, kind, s, ok):
        if not ok:
            print(f"# {kind}: wrong answer", file=sys.stderr)
        self.ops.append(Op(kind, s, ok, self._after_write))
        self._after_write = is_write(kind)


# --------------------------------------------------------------- sessions


class TxtaiSession:
    """``Embeddings`` over the 5,000 sf0.1 documents: one ``index``,
    then rounds of search, SQL ``similar()`` (filtered, aggregate,
    ``order by score asc``), batchsearch(64), upsert, delete and count —
    8 reads to 2 writes."""

    def __init__(self, spark, seed: int, run):
        from weaviate_txtai_spark.embeddings import Embeddings

        self.rng = np.random.default_rng([seed, 10])
        self.docs = datagen.documents()
        self.langs = sorted({d["lang"] for d in self.docs})
        self.sources = sorted({d["source"] for d in self.docs})
        self.model = checks.Corpus()
        self.emb = Embeddings(spark)
        self.new_ids = 0

    def _put(self, d) -> None:
        self.model.put(
            d["id"],
            checks.encode(d["text"]),
            text=d["text"],
            lang=d["lang"],
            source=d["source"],
            length=len(d["text"]),
        )

    @staticmethod
    def _item(d):
        return (d["id"], {"text": d["text"], "lang": d["lang"], "source": d["source"]})

    def _doc(self, key) -> dict:
        """Document ``key`` with the content of a seeded sf0.1 document."""
        return {**self._pick(self.docs), "id": key}

    def _pick(self, xs):
        return xs[int(self.rng.integers(0, len(xs)))]

    def _query(self) -> str:
        return datagen.query_text(self.rng, self.docs)

    def _live(self, n) -> list:
        keys = sorted(self.model.rows, key=lambda k: (len(k), k))
        return [keys[i] for i in self.rng.choice(len(keys), n, replace=False)]

    def ingest(self, rec: Recorder) -> dict:
        for d in self.docs:
            self._put(d)
        items = [self._item(d) for d in self.docs]

        def index():
            self.emb.index(items)
            return self.emb.count()

        rec.call("ingest", index, lambda n: n == len(self.model))
        return {"": len(items)}

    def _search(self, rec):
        q = self._query()
        truth = self.model.scores(checks.encode(q))
        rec.call("search", lambda: self.emb.search(q, K), lambda h: checks.topk_ok(h, truth, K))

    def _sql_filtered(self, rec):
        q = self._query()
        lang = self._pick(self.langs)
        sql = (
            f"select id, text, score from txtai where similar('{q}') "
            f"and lang = '{lang}' limit {K}"
        )
        truth = self.model.scores(checks.encode(q), lambda m: m["lang"] == lang)

        def check(rows):
            hits = [(r["id"], r["score"]) for r in rows]
            return checks.topk_ok(hits, truth, K) and all(
                r["text"] == self.model.meta(r["id"])["text"] for r in rows
            )

        rec.call("sql", lambda: self.emb.search(sql), check)

    def _sql_aggregate(self, rec):
        src = self._pick(self.sources)
        sql = (
            "select count(*) as n, min(length) as mn, max(length) as mx, "
            f"sum(length) as total from txtai where source = '{src}'"
        )
        lengths = [m["length"] for _, m in self.model.rows.values() if m["source"] == src]
        want = {
            "n": len(lengths),
            "mn": min(lengths, default=None),
            "mx": max(lengths, default=None),
            "total": sum(lengths) if lengths else None,
        }
        rec.call("sql", lambda: self.emb.search(sql), lambda rows: len(rows) == 1 and rows[0] == want)

    def _sql_ascending(self, rec):
        q = self._query()
        src = self._pick(self.sources)
        sql = (
            f"select id, score from txtai where similar('{q}') "
            f"and source = '{src}' order by score asc limit 5"
        )
        truth = self.model.scores(checks.encode(q), lambda m: m["source"] == src)
        rec.call(
            "sql",
            lambda: self.emb.search(sql),
            lambda rows: checks.topk_ok([(r["id"], r["score"]) for r in rows], truth, 5, descending=False),
        )

    def _batchsearch(self, rec):
        qs = [self._query() for _ in range(BATCH_Q)]
        truths = [self.model.scores(checks.encode(q)) for q in qs]

        def check(out):
            return len(out) == len(qs) and all(
                checks.topk_ok(h, t, K) for h, t in zip(out, truths)
            )

        rec.call("batchsearch", lambda: self.emb.batchsearch(qs, K), check)

    def _upsert(self, rec):
        docs = [self._doc(k) for k in self._live(2)]
        for _ in range(2):
            self.new_ids += 1
            docs.append(self._doc(f"new-{self.new_ids}"))
        for d in docs:
            self._put(d)
        rec.call("upsert", lambda: self.emb.upsert([self._item(d) for d in docs]), lambda out: out is None)

    def _delete(self, rec):
        ids = self._live(2) + [f"absent-{int(self.rng.integers(0, 10**9))}"]
        present = self.model.drop(ids)
        rec.call("delete", lambda: self.emb.delete(ids), lambda out: sorted(out) == sorted(present))

    def round(self, rec: Recorder) -> None:
        self._search(rec)
        self._sql_filtered(rec)
        self._upsert(rec)
        self._search(rec)
        self._batchsearch(rec)
        self._sql_aggregate(rec)
        self._sql_ascending(rec)
        self._delete(rec)
        self._search(rec)
        rec.call("count", self.emb.count, lambda n: n == len(self.model))

class AnnBackend:
    """``VectorIndex`` on local Parquet over the 2,000×64 sf0.1
    embeddings: ingest in four append batches, then rounds of search at
    Q=1 and Q=64, count, upsert and delete — 6 reads to 2 writes. Query
    and upserted vectors are seeded rows of the table, as the vector
    plans' queries are. Its operation kinds are prefixed ``index.``."""

    BATCHES = 4

    def __init__(self, spark, seed: int, run):
        from weaviate_txtai_spark.index import VectorIndex

        self.spark = spark
        self.rng = np.random.default_rng([seed, 20])
        self.x = datagen.vectors()
        self.model = checks.Corpus()
        self.index = VectorIndex(spark, run.sub("index"))
        self.next_id = 0

    def ingest(self, rec: Recorder) -> dict:
        self.index.create()
        for part in np.array_split(np.arange(len(self.x)), self.BATCHES):
            df = self.spark.createDataFrame(
                [(self.x[i].tolist(),) for i in part], "vector array<float>"
            )
            for i in part:
                self.model.put(int(i), self.x[i])
            rec.call("index.ingest", lambda: self.index.append(df), lambda out: out is None)
        self.next_id = len(self.x)
        return {"index.": len(self.x)}

    def _row(self) -> list[float]:
        return self.x[int(self.rng.integers(0, len(self.x)))].tolist()

    def _search(self, rec, q):
        qs = [self._row() for _ in range(q)]
        truths = [self.model.scores(v) for v in qs]

        def check(out):
            return len(out) == q and all(checks.topk_ok(h, t, K) for h, t in zip(out, truths))

        rec.call("index.search" if q == 1 else "index.batchsearch", lambda: self.index.search(qs, K), check)

    def _count(self, rec):
        rec.call("index.count", self.index.count, lambda n: n == len(self.model))

    def _upsert(self, rec):
        live = sorted(self.model.rows)
        keys = [live[i] for i in self.rng.choice(len(live), 2, replace=False)]
        keys += [self.next_id, self.next_id + 1]
        self.next_id += 2
        items = [(k, self._row()) for k in keys]
        for k, v in items:
            self.model.put(k, v)
        rec.call("index.upsert", lambda: self.index.upsert(items), lambda out: out is None)

    def _delete(self, rec):
        live = sorted(self.model.rows)
        ids = [live[i] for i in self.rng.choice(len(live), 2, replace=False)]
        ids.append(self.next_id + 10**6)
        self.model.drop(ids)
        rec.call("index.delete", lambda: self.index.delete(ids), lambda out: out is None)

    def round(self, rec: Recorder) -> None:
        self._search(rec, 1)
        self._search(rec, BATCH_Q)
        self._count(rec)
        self._upsert(rec)
        self._search(rec, 1)
        self._delete(rec)
        self._search(rec, BATCH_Q)
        self._count(rec)

    def finish(self) -> dict:
        st = self.index.stats()
        return {
            "index.data_files": st["files"],
            "index.bytes_per_vector": st["bytes"] / max(st["rows"], 1),
        }


# ------------------------------------------------------------------ batch


class VectorBatch:
    """One round is one pass over the 10 vector queries at sf0.1 in
    bench.py's order; each query's result is collected and compared with
    its stored DuckDB answer. The queries take no arguments and read the
    fixed sf0.1 ``embeddings`` table, so the seed changes nothing here."""

    name = "vector_batch"

    def __init__(self, spark, seed: int, run):
        from weaviate_txtai_spark.plans.queries import queries

        self.spark = spark
        self.sf_dir = datagen.SF_DIR
        with open(EXPECTED) as f:
            stored = json.load(f)
        if stored["tables"] != {"embeddings": datagen.sha256("embeddings")}:
            raise ValueError(f"{EXPECTED} was computed over another embeddings table")
        self.expected = stored["queries"]
        self.fns = queries()

    def ingest(self, rec: Recorder) -> dict:
        return {}

    def round(self, rec: Recorder) -> None:
        tracer = rec.tracer
        for name in VECTOR_QUERIES:
            # as in bench.py: each query pays for its own caches
            self.spark.catalog.clearCache()
            build = tracer.span("plans.build", name) if tracer else nullcontext()
            act = tracer.span("act", name) if tracer else nullcontext()
            t = time.perf_counter()
            ok = False
            try:
                with build:
                    df = self.fns[name](self.spark, self.sf_dir)
                with act:
                    rows = df.collect()
                s = time.perf_counter() - t
                got = checks.canonical_hash(df.columns, [tuple(r) for r in rows])
                ok = got == self.expected[name]
            except Exception as e:
                s = time.perf_counter() - t
                print(f"# {name} raised {type(e).__name__}: {e}", file=sys.stderr)
            rec.add(name, s, ok)

    def finish(self) -> dict:
        return {}


class Sessions:
    """Both user surfaces in one process: the txtai ``Embeddings``
    session, then the ``VectorIndex`` backend. One round is a txtai
    round followed by an index round. The two share one set-up (a JVM
    launch), which the run budget does not cover twice."""

    name = "sessions"

    def __init__(self, spark, seed: int, run):
        self.parts = [TxtaiSession(spark, seed, run), AnnBackend(spark, seed, run)]

    def ingest(self, rec: Recorder) -> dict:
        return {k: v for p in self.parts for k, v in p.ingest(rec).items()}

    def round(self, rec: Recorder) -> None:
        for p in self.parts:
            p.round(rec)

    def finish(self) -> dict:
        return self.parts[1].finish()


WORKLOADS = {w.name: w for w in (Sessions, VectorBatch)}
