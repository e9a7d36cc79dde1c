"""txtai-level ``Embeddings`` facade: the user-facing API of the reference.

The reference backend serves txtai's ``Embeddings`` object, whose surface
the tests and notebook exercise end-to-end (reference
tests/ann/test_weaviate.py:135-170,209-218,254-317 and
examples/01_simple.ipynb cells 7-29):

- ``index([(id, data, tags), ...])``  — encode + store, dense docids
- ``upsert([...])``                   — replace by id / append new
- ``delete([id, ...])``               — by user id
- ``search(text, limit)``             — kNN, returns [(id, score)]
- ``search("select ... where similar('x') ...")`` — txtai SQL dialect
- ``similarity(query, texts)``        — ad-hoc brute force, no index
- ``count()``

Spark-first design decisions:

- **id ↔ docid mapping** lives as plain columns (``id: string``,
  ``docid: long``) in one DataFrame — the join the reference does
  through two systems (txtai SQLite + Weaviate) collapses into column
  projection (SURVEY §1.1).
- docids are **dense** from the running offset, matching the reference's
  counter (reference weaviate_txtai/ann/weaviate.py:67,143,149). Every
  batch arrives as a driver-side list, so the driver numbers its rows
  ``offset + i`` while it builds them — no Spark job, no window.
- mutations are **set-oriented**: delete/upsert are a broadcast
  anti-join (+ union), one pass for any number of ids, instead of the
  reference's N+1 HTTP round-trips (weaviate.py:167-173, TODO at
  :170-171).
- **one write rule**: ``index``, ``upsert``, ``delete`` and ``load`` all
  hand their new frame to ``_replace``, which checkpoints it eagerly
  (``localCheckpoint``) from the predecessor's checkpoint blocks, and
  leaves those blocks to Spark's ContextCleaner. Each write therefore
  pays its own fill job, and a read after any number of writes costs
  what a read after none costs: it never replays the write history.
- ``similar('…')`` inside SQL text is rewritten into a score-column
  attachment on the ``txtai`` view; every other SQL feature (metadata
  predicates, aggregates, ORDER BY score, LIMIT) is plain Spark SQL.

The encoder is pluggable; the default ``HashingEncoder`` is
deterministic (token hash → signed buckets), so tests need no model
downloads and relevance assertions are reproducible.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from weaviate_txtai_spark.functions.encoders import HashingEncoder
from weaviate_txtai_spark.functions.vector import cosine_sim
from weaviate_txtai_spark.operators.topk import knn_topk_gemm

_SIMILAR_RE = re.compile(r"similar\s*\(\s*'([^']*)'\s*\)", re.IGNORECASE)


def rewrite_similar_sql(sql: str) -> tuple[str, str | None]:
    """Split txtai's ``similar('…')`` predicate out of a SQL string.

    Returns (rewritten_sql, similar_text). The predicate itself becomes
    TRUE — in txtai it *drives scoring*, it does not filter; score
    thresholds arrive as separate ``score >= x`` conjuncts
    (reference examples/01_simple.ipynb cell 25).
    """
    found: list[str] = []

    def repl(m: re.Match) -> str:
        found.append(m.group(1))
        return "TRUE"

    rewritten = _SIMILAR_RE.sub(repl, sql)
    if len(found) > 1:
        raise ValueError("only one similar('…') clause is supported")
    return rewritten, (found[0] if found else None)


class Embeddings:
    """In-memory/cached txtai-style embeddings index over Spark.

    ``documents`` items are ``(id, data, tags)`` like txtai: ``data`` is
    the text, or a dict of ``{"text": ..., **metadata}``; tags are
    ignored (parity: the reference never uses them).
    """

    def __init__(
        self,
        spark: SparkSession,
        encoder: HashingEncoder | None = None,
        config: dict | None = None,
    ):
        self.spark = spark
        self.encoder = encoder or HashingEncoder()
        # txtai-style config dict (examples/01_simple.ipynb cell 21:
        # content/objects flags). Columnar storage stores content either
        # way (SURVEY T6); the flag only changes the search RESULT SHAPE:
        # content=True returns row dicts with text, like txtai.
        self.config = dict(config or {})
        self.content = bool(self.config.get("content"))
        # kNN backend, the hit producer of ``_knn``: "exact" (default —
        # brute force through the GEMM top-k kernel ``knn_topk_gemm``,
        # what txtai's numpy backend does at this scale), "ivf"
        # (cluster-pruned search through operators.ann.IVFIndex — the
        # role Weaviate's server-side HNSW plays for the reference), or
        # "ivfpq" (cells + product-quantized residual codes through
        # operators.ivfpq.IVFPQIndex — the memory-bound tier: the
        # search scan reads m bytes/vector and the float corpus only
        # for the shortlist re-rank). All three share one rank-and-join
        # tail. Knobs under config["ivf"]: nlist (default corpus//128,
        # ≥4), nprobe (default 4; nprobe == nlist is exact); under
        # config["ivfpq"]: nlist, m, k, iters, nprobe, shortlist.
        self.backend = str(self.config.get("backend", "exact"))
        if self.backend not in ("exact", "ivf", "ivfpq"):
            raise ValueError(f"Embeddings: unknown backend {self.backend!r}")
        # every setting is a count of at least 1 (nprobe 0 probes no
        # cell, shortlist 0 keeps no candidate); only iters may be 0,
        # the exactness mode — rejected here, before any work
        for key, value in (self.config.get(self.backend) or {}).items():
            floor = 0 if key == "iters" else 1
            if value is not None and int(value) < floor:
                raise ValueError(
                    f"Embeddings: config[{self.backend!r}][{key!r}] must be "
                    f"at least {floor}, got {value!r}"
                )
        from weaviate_txtai_spark.ship import ensure_shipped

        ensure_shipped(spark)
        self._ann = None          # cached IVF or IVF-PQ index
        self._ann_mutations = -1  # mutation counter it was built at
        self._df: DataFrame | None = None
        # reference parity: running offset so docids never collide across
        # appends (weaviate.py:67,149; asserted tests/ann/test_weaviate.py:141)
        self.offset = 0
        self._mutations = 0

    # ------------------------------------------------------------ ingest

    def _to_rows(self, documents: Iterable) -> list[dict[str, Any]]:
        rows = []
        for item in documents:
            uid, data = item[0], item[1]
            if isinstance(data, dict):
                row = dict(data)
                text = row.pop("text", "")
            else:
                row, text = {}, str(data)
            # T5 parity: derived metadata computed at ingest
            # (examples/01_simple.ipynb cell 24 stores length=len(text))
            row.setdefault("length", len(text))
            rows.append({"id": str(uid), "text": text, **row})
        return rows

    def _encode_df(self, rows: list[dict[str, Any]], start: int) -> DataFrame:
        # txtai allows per-document metadata variance; unify the key set
        # (missing fields -> NULL) so one schema covers the batch
        keys: list[str] = []
        for r in rows:
            for k in r:
                if k not in keys:
                    keys.append(k)
        rows = [{k: r.get(k) for k in keys} for r in rows]
        # Keep full schema INFERENCE (it types list/dict metadata as
        # proper array/map columns — an explicit all-string schema would
        # silently store Python repr strings); only fields that are None
        # in EVERY row (which break inference) are pulled out and added
        # back as typed nulls.
        all_null = [
            k for k in keys if all(r.get(k) is None for r in rows)
        ]
        infer_rows = (
            [{k: v for k, v in r.items() if k not in all_null} for r in rows]
            if all_null
            else rows
        )
        # dense docids are numbered here, on the driver, like
        # VectorIndex.append's list path: the rows are already a list
        df = self.spark.createDataFrame(
            [Row(**{**r, "docid": start + i}) for i, r in enumerate(infer_rows)]
        )
        for k in all_null:
            df = df.withColumn(k, F.lit(None).cast("string"))
        return self.encoder.encode_df(df, text_col="text")

    def _replace(self, df: DataFrame) -> None:
        """The one place ``self._df`` is assigned — every write ends here.

        The eager ``localCheckpoint`` fills the new frame in one job that
        reads the predecessor's checkpoint blocks, and it cuts the
        lineage, so the next read scans the new blocks and never replays
        the write history. The predecessor needs no ``unpersist()``: a
        checkpointed frame is not in Spark's cache manager, so the call
        would do nothing. Its blocks go to Spark's ContextCleaner once
        nothing references them, so a frame or ``txtai`` view still
        derived from the old corpus keeps working. The ``_mutations``
        bump marks any cached IVF/IVF-PQ index stale."""
        self._df = df.localCheckpoint(eager=True)
        self._mutations += 1

    def index(self, documents: Iterable) -> None:
        """Drop any existing data and ingest (reference `index` ==
        drop-and-recreate, weaviate.py:112-135). Runs the encode job
        eagerly, before returning (see ``_replace``)."""
        rows = self._to_rows(documents)
        self._replace(self._encode_df(rows, 0))
        self.offset = len(rows)

    def upsert(self, documents: Iterable) -> None:
        """Replace rows whose id matches; append the rest. One broadcast
        anti-join + union — the set-oriented form of txtai's
        delete-then-append loop (reference
        tests/ann/test_weaviate.py:254-317). Runs its fill job eagerly,
        before returning (see ``_replace``)."""
        if self._df is None:
            return self.index(documents)
        rows = self._to_rows(documents)
        fresh = self._encode_df(rows, self.offset)
        self.offset += len(rows)
        kept = self._df.join(F.broadcast(fresh.select("id")), "id", "left_anti")
        # conform the batch to the indexed schema: metadata columns the
        # new documents don't carry become NULL (novel columns would need
        # a reindex — same rule as any declared-schema store, SURVEY §1.2)
        for c in kept.columns:
            if c not in fresh.columns:
                fresh = fresh.withColumn(c, F.lit(None))
        self._replace(kept.unionByName(fresh.select(kept.columns)))

    def delete(self, ids: Sequence) -> list:
        """Broadcast anti-join delete by user id — one pass for any
        number of ids (vs the reference's two HTTP round-trips per id).
        Returns the ids actually deleted (txtai's Embeddings.delete
        contract: absent ids are ignored, present ones are reported
        back). Runs its fill job eagerly, before returning (see
        ``_replace``)."""
        if self._df is None:
            return []
        ids_df = F.broadcast(
            self.spark.createDataFrame([(str(i),) for i in ids], schema="id string")
        )
        deleted = [
            r["id"]
            for r in self._df.join(ids_df, "id", "left_semi")
            .select("id")
            .collect()
        ]
        self._replace(self._df.join(ids_df, "id", "left_anti"))
        return deleted

    # ------------------------------------------------------------- query

    def count(self) -> int:
        return 0 if self._df is None else self._df.count()

    def exists(self) -> bool:
        """txtai parity: True once an index has been built or loaded."""
        return self._df is not None

    def transform(self, document) -> list[float]:
        """txtai parity: encode one document (tuple or raw text) to its
        vector."""
        text = document[1] if isinstance(document, (tuple, list)) else document
        if isinstance(text, dict):
            text = text.get("text", "")
        return [float(x) for x in self.encoder.encode(str(text))]

    def batchtransform(self, documents) -> list[list[float]]:
        """txtai parity: encode a batch of documents to vectors."""
        return [self.transform(d) for d in documents]

    def _scored(self, text: str) -> DataFrame:
        qv = F.lit([float(x) for x in self.encoder.encode(text)])
        return self._df.withColumn(
            "score", F.round(cosine_sim(F.col("vector"), qv), 6)
        )

    # -------------------------------------------------------- ANN backend

    def _ann_index(self):
        """Build (or reuse) the IVF or IVF-PQ index over the current
        frame. Staleness is tracked by the monotonic ``_mutations``
        counter (bumped by ``_replace``), NOT by ``id(self._df)``:
        after a write the old frame is released and GC'd, so CPython
        can hand the NEW frame the SAME id() and a search would
        silently serve the stale pre-write index (ADVICE r4)."""
        if self._ann is None or self._ann_mutations != self._mutations:
            build = self._build_ivfpq if self.backend == "ivfpq" else self._build_ivf
            self._ann = build(self._df.count())
            self._ann_mutations = self._mutations
        return self._ann

    def _setting(self, key: str, default: int) -> int:
        """One setting of the configured ANN backend
        (``config[backend][key]``). An explicit None — in the dict, or
        kept by save() through JSON — reads as missing: ``default``."""
        value = (self.config.get(self.backend) or {}).get(key)
        return default if value is None else int(value)

    def _build_ivf(self, n: int):
        from weaviate_txtai_spark.operators.ann import IVFIndex

        nlist = max(1, min(self._setting("nlist", max(4, n // 128)), n))
        return IVFIndex.build(
            self._df, nlist=nlist, id_col="docid", vector_col="vector"
        )

    def _build_ivfpq(self, n: int):
        """Codebook k and nlist are clamped to the corpus so tiny
        indexes stay trainable."""
        from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

        # the ivfpq score contract is the unit-vector identity
        # cos = 1 − d²/2; a pluggable encoder that does NOT L2-normalize
        # would silently get wrong scores (exact/ivf backends rank true
        # cosine and stay correct) — enforce the invariant once per
        # build with one corpus aggregate
        worst = (
            self._df.select(
                F.abs(
                    F.aggregate(
                        "vector",
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x,
                    )
                    - F.lit(1.0)
                ).alias("__e")
            )
            .agg(F.max("__e"))
            .collect()[0][0]
        )
        if worst is not None and worst > 1e-3:
            raise ValueError(
                "ivfpq backend requires L2-normalized vectors (the "
                "score contract is the unit-vector identity "
                "cos = 1 - d²/2); the configured encoder produced a "
                f"vector with |norm² - 1| = {worst:.3g} — normalize in "
                "the encoder or use backend='exact'/'ivf'"
            )
        nlist = max(1, min(self._setting("nlist", max(4, n // 256)), n))
        k = max(2, min(self._setting("k", 16), n))
        return IVFPQIndex.build(
            self._df,
            nlist=nlist,
            m=self._setting("m", 8),
            k_pq=k,
            pq_iters=self._setting("iters", 1),
            id_col="docid",
            vector_col="vector",
        )

    def _knn(self, queries: Sequence[str], limit: int) -> list[list]:
        """The one kNN path of ``search`` (text) and ``batchsearch``:
        one ``search``-shaped result list per query, in query order.

        The backend produces ``(qid, docid, score)`` hits with a slack of
        8 past ``limit``: the exact backend through ``knn_topk_gemm``
        (the tie-exact kernel ``VectorIndex.search`` uses), IVF and
        IVF-PQ through their cached index. One tail serves all three:
        round to 6 dp, re-rank on the ROUNDED score with the docid
        tie-break (the producers rank raw doubles, so a pair tied at
        6 dp could otherwise resolve to a different, valid but
        non-canonical, member at the cut line), cut to ``limit``, then
        join the hits back to their stored rows (broadcast: Q×limit
        ids) and order those few rows on the driver. In content mode a
        hit is a row dict with the stored text, txtai style:
        search(...)[0]["text"] (notebook cell 22)."""
        qrows = [
            (i, [float(x) for x in self.encoder.encode(q)])
            for i, q in enumerate(queries)
        ]
        if self.backend == "exact":
            hits = knn_topk_gemm(self._df, qrows, limit + 8).select(
                F.col("query_id").alias("qid"), "docid", "score"
            )
        elif self.backend == "ivfpq":
            # ADC shortlist + exact L2 re-rank, then the L2→cosine
            # identity for unit vectors (encoders L2-normalize, so
            # cos = 1 − d²/2 EXACTLY) gives the facade's score contract.
            hits = self._ann_index().search(
                qrows,
                limit + 8,
                nprobe=self._setting("nprobe", 4),
                shortlist=self._setting("shortlist", 8),
            ).select(
                F.col("query_id").cast("int").alias("qid"),
                "docid",
                (F.lit(1.0) - F.col("dist") / F.lit(2.0)).alias("score"),
            )
        else:
            qdf = self.spark.createDataFrame(qrows, "qid int, qv array<float>")
            hits = self._ann_index().search(
                qdf, limit + 8, nprobe=self._setting("nprobe", 4),
                query_id_col="qid", query_vector_col="qv",
            ).select("qid", "docid", "score")
        w = Window.partitionBy("qid").orderBy(
            F.desc("score"), F.asc("docid")
        )
        hits = (
            hits.withColumn("score", F.round("score", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= limit)
        )
        cols = ["docid", "id", "text"] if self.content else ["docid", "id"]
        top = self._df.select(*cols).join(F.broadcast(hits), "docid").collect()
        out: list[list] = [[] for _ in queries]
        for r in sorted(top, key=lambda r: (r["qid"], r["rank"])):
            out[r["qid"]].append(
                {"id": r["id"], "text": r["text"], "score": r["score"]}
                if self.content
                else (r["id"], r["score"])
            )
        return out

    def search(self, query: str, limit: int = 3) -> list:
        """Text query → [(id, score)] top-limit by cosine, ties to the
        lowest docid, through ``_knn`` with one query row; SQL query
        (starts with 'select') → list of row dicts, txtai-style."""
        if self._df is None:
            return []
        # word-boundary match: "selecting the best trail" is a TEXT query;
        # bare startswith("select") would route it to spark.sql and crash
        if re.match(r"^\s*select\b", query, re.IGNORECASE):
            # SQL search stays exact regardless of backend: its WHERE
            # clauses filter the scored view, and a probe set chosen
            # before the filter would silently under-fill the limit
            return self._search_sql(query, limit)
        return self._knn([query], limit)[0]

    def _search_sql(self, query: str, limit: int) -> list[dict]:
        rewritten, similar_text = rewrite_similar_sql(query)
        base = (
            self._scored(similar_text) if similar_text is not None else self._df
        )
        base.createOrReplaceTempView("txtai")
        # txtai ranks by score implicitly whenever similar() drives the
        # query; an explicit ORDER BY wins (cell 29 uses `order by score
        # asc`). Injected before any trailing LIMIT so the SQL stays
        # valid. NOT injected into aggregate queries (GROUP BY / no
        # per-row score in scope) — ordering an aggregate by the
        # non-grouped score column would be an analysis error.
        if (
            similar_text is not None
            and not re.search(r"\border\s+by\b", rewritten, re.IGNORECASE)
            and not re.search(r"\bgroup\s+by\b", rewritten, re.IGNORECASE)
        ):
            m = re.search(r"\blimit\s+\d+\s*$", rewritten, re.IGNORECASE)
            if m:
                rewritten = (
                    rewritten[: m.start()]
                    + " ORDER BY score DESC "
                    + rewritten[m.start() :]
                )
            else:
                rewritten += " ORDER BY score DESC"
        df = self.spark.sql(rewritten)
        if not re.search(r"\blimit\b", rewritten, re.IGNORECASE):
            df = df.limit(limit)
        return [r.asDict() for r in df.collect()]

    # ------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """Persist index data + offset.

        The reference's ANN-level save is a deliberate no-op ("storage
        is external", weaviate.py:208-224) and its tests assert that a
        reloaded handle re-attaches to the still-existing data
        (tests/ann/test_weaviate.py:187-206). Columnar Spark gives both
        semantics at once: the parquet write IS the external store, and
        ``load`` re-attaches to it."""
        if self._df is None:
            raise RuntimeError("nothing indexed")
        self._df.write.mode("overwrite").parquet(os.path.join(path, "data"))
        with open(os.path.join(path, "embeddings_meta.json"), "w") as f:
            json.dump(
                {
                    "offset": self.offset,
                    "encoder_dim": self.encoder.dim,
                    # persist the config too: content=True changes the
                    # RESULT SHAPE of search; silently dropping it on
                    # reload would break callers indexing r["text"]
                    "config": self.config,
                },
                f,
            )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        encoder: HashingEncoder | None = None,
    ) -> "Embeddings":
        """Re-attach to an index ``save`` wrote. Reads the stored data
        eagerly, before returning (see ``_replace``)."""
        with open(os.path.join(path, "embeddings_meta.json")) as f:
            meta = json.load(f)
        self = cls(
            spark,
            encoder or HashingEncoder(meta["encoder_dim"]),
            config=meta.get("config") or None,
        )
        self._replace(spark.read.parquet(os.path.join(path, "data")))
        self.offset = meta["offset"]
        return self

    def batchsearch(self, queries: Sequence[str], limit: int = 3) -> list:
        """txtai ``batchsearch``: N text queries through the one kNN
        path ``search`` takes (``_knn``) — the batch-first design the
        reference cannot express (it drops all but queries[0],
        weaviate.py:177). Every query is scored in the same pass over
        the index; returns a list of ``search``-shaped result lists, in
        query order."""
        if self._df is None or not queries:
            return [[] for _ in queries]
        return self._knn(queries, limit)

    def batchsimilarity(
        self, queries: Sequence[str], texts: Sequence[str]
    ) -> list:
        """txtai ``batchsimilarity``: score every query against every
        ad-hoc text in one crossJoin job; returns per-query
        [(index, score)] sorted desc."""
        if not queries:
            return []
        data = self.spark.createDataFrame(
            list(enumerate(texts)), schema="idx int, text string"
        )
        scored = self.encoder.encode_df(data, text_col="text")
        qrows = [
            (i, [float(x) for x in self.encoder.encode(q)])
            for i, q in enumerate(queries)
        ]
        qdf = self.spark.createDataFrame(qrows, "qid int, qv array<float>")
        rows = (
            scored.crossJoin(F.broadcast(qdf))
            .withColumn("score", F.round(cosine_sim("vector", "qv"), 6))
            .select("qid", "idx", "score")
            .orderBy("qid", F.desc("score"), F.asc("idx"))
            .collect()
        )
        out: list[list] = [[] for _ in queries]
        for r in rows:
            out[r["qid"]].append((r["idx"], r["score"]))
        return out

    def similarity(self, query: str, texts: Sequence[str]) -> list:
        """Ad-hoc brute-force scoring, no stored index (reference Q9,
        examples/01_simple.ipynb cell 7): [(index, score)] sorted desc —
        ``batchsimilarity`` with one query."""
        return self.batchsimilarity([query], texts)[0]
