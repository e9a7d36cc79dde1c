"""Batch kNN top-k search (SURVEY §2.2 Q1/Q2/Q3/Q5 — the flagship operator).

The reference serves ONE query vector per call and silently drops the rest
(``queries[0]``, /root/reference/weaviate_txtai/ann/weaviate.py:177), asking
a server-side HNSW for the top ``limit`` by cosine distance, then rescoring
``1 - distance`` (weaviate.py:193-201). Our operator is batch-first and
strictly more general: N query vectors × M stored vectors in one plan.

Physical strategy (designed for 100 TB / 1000 executors):
- The query side is small (human-issued queries) → **broadcast** it; the
  index side streams through executors partition-by-partition. No shuffle
  of the big side ever happens.
- Scoring is a native column expression (JVM-side, no Python boundary;
  note the HOF fold inside it evaluates interpreted — see
  ``functions/vector.py`` — which is why ``knn_topk_gemm`` is the
  many-query path).
- Top-k per query = window ``row_number() <= k`` partitioned by query id.
  The map-side is embarrassingly parallel; the only shuffle is the final
  (num_queries × k × partitions)-row merge, which AQE coalesces.
- ``knn_topk_gemm`` is the Arrow path ``VectorIndex.search`` and the exact
  ``Embeddings`` backend take for every query count: numpy GEMM per Arrow
  batch over ``mapInPandas`` with per-partition top-k reduction, so the
  rows crossing the final shuffle are k per (query, partition), never M×N.
- ``topk_rows`` is the one tie-exact top-k step every Arrow scorer shares
  (``knn_topk_gemm``, the IVF cogroup, the PQ/IVF-PQ ADC kernels): one
  vectorized cut per block, exact under ties at the k-th key.
- ``exact_rerank`` is the one exact re-rank of every shortlist search
  (PQ, OPQ, IVF-PQ, the binary tier): shortlist pairs joined to their
  float vectors, scored block-at-a-time by ``exact_dist`` in one Arrow
  pass, rounded to 6 dp and cut per query.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from weaviate_txtai_spark.functions.vector import cosine_sim


def knn_topk(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int,
    *,
    vector_col: str = "vector",
    id_col: str = "docid",
    query_vector_col: str = "query_vector",
    query_id_col: str = "query_id",
    score_round: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for every query vector.

    Returns columns: ``query_id, docid(id_col), score, rank`` with the
    deterministic tie-break (score DESC, id ASC) so results are
    oracle-hashable.
    """
    q = F.broadcast(
        # NULL query ids excluded: the rank window partitions by query
        # id, so every unkeyed query's candidates would lump into ONE
        # ranked list interleaving unrelated queries' neighbors
        query_df.filter(F.col(query_id_col).isNotNull()).select(
            F.col(query_id_col).alias("__qid"), F.col(query_vector_col).alias("__qv")
        )
    )
    scored = index_df.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        cosine_sim(F.col(vector_col), F.col("__qv")).alias("score"),
    )
    if score_round is not None:
        scored = scored.withColumn("score", F.round("score", score_round))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_rows(key: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Row indices of the ``k`` smallest ``key`` values, ordered by
    (key ASC, id ASC) — the one top-k step every Arrow scorer shares.

    A partial sort alone keeps ARBITRARY members of a tied group at the
    k-th key, so the cut would depend on row order. Instead: partition
    for the k-th key, widen to every row at or below it (all its ties),
    lexsort by (key, id), then cut to k — identical to the full sort
    ``np.lexsort((ids, key))[:k]`` for any tie pattern. Similarity
    callers pass ``-sims``: IEEE negation is exact, so the selected rows
    are the (score DESC, id ASC) top-k of the original scores.
    """
    t = min(k, len(key))
    if t <= 0:
        return np.empty(0, dtype=np.intp)
    if t < len(key):
        kth = key[np.argpartition(key, t - 1)[:t]].max()
        cand = np.flatnonzero(key <= kth)
    else:
        cand = np.arange(len(key))
    return cand[np.lexsort((ids[cand], key[cand]))[:t]]


def exact_dist(X: np.ndarray, Q: np.ndarray, metric: str) -> np.ndarray:
    """Exact score of each row pair ``(X[i], Q[i])`` (both (pairs, dim)
    float64): squared L2 for ``metric='l2'``, cosine similarity for
    ``'cosine'`` (0 when either vector has norm 0).

    Every sum runs over the dimensions left to right from 0.0 — the
    float64 operation sequence of the canonical expressions (the
    squared-L2 ``aggregate`` fold and ``functions.vector.cosine_sim``),
    so the result equals them bit for bit. Keep the loop: a vectorized
    ``.sum(axis=1)`` sums pairwise and differs in the last bits (the
    same rule as ``pq.adc_gather``)."""
    if metric == "l2":
        acc = np.zeros(len(X))
        for j in range(X.shape[1]):
            d = X[:, j] - Q[:, j]
            acc = acc + d * d
        return acc
    if metric != "cosine":
        raise ValueError(f"exact_dist: unknown metric {metric!r}")
    xq, xx, qq = np.zeros(len(X)), np.zeros(len(X)), np.zeros(len(X))
    for j in range(X.shape[1]):
        x, q = X[:, j], Q[:, j]
        xq, xx, qq = xq + x * q, xx + x * x, qq + q * q
    denom = np.sqrt(xx) * np.sqrt(qq)
    return np.divide(xq, denom, out=np.zeros(len(X)), where=denom != 0.0)


def exact_rerank(
    pairs: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    n: int,
    *,
    metric: str,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    """The exact re-rank step of every shortlist search: ``pairs``
    (``__qid``, ``id_col``) joined to their float ``vectors`` and to
    ``queries`` (``__qid``, ``__qv`` array<double>), scored by
    :func:`exact_dist` in one ``mapInPandas`` pass, rounded to 6 dp,
    ranked per ``__qid`` by (dist ASC | score DESC, id ASC), cut to
    ``n``. ``metric``: 'l2' (column ``dist``, squared L2 — the PQ
    family) or 'cosine' (``score`` — the binary tier). Callers pass
    bounded sides in ``F.broadcast``; single-query callers use
    ``__qid = 0`` and drop it. Output: ``__qid, id_col, dist|score,
    rank``."""
    out = {"l2": "dist", "cosine": "score"}.get(metric)
    if out is None:
        raise ValueError(f"exact_rerank: unknown metric {metric!r}")
    qid_ddl = pairs.schema["__qid"].dataType.simpleString()
    id_ddl = vectors.schema[id_col].dataType.simpleString()

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            dist = exact_dist(
                np.asarray(list(pdf["__dv"]), dtype=np.float64),
                np.asarray(list(pdf["__qv"]), dtype=np.float64),
                metric,
            )
            yield pd.DataFrame(
                {"__qid": pdf["__qid"], id_col: pdf[id_col], out: dist}
            )

    order = F.asc(out) if metric == "l2" else F.desc(out)
    w = Window.partitionBy("__qid").orderBy(order, F.asc(id_col))
    return (
        vectors.select(
            id_col, F.col(vector_col).cast("array<double>").alias("__dv")
        )
        .join(pairs, id_col)
        .join(queries, "__qid")
        .select("__qid", id_col, "__dv", "__qv")
        .mapInPandas(score, f"__qid {qid_ddl}, {id_col} {id_ddl}, {out} double")
        .withColumn(out, F.round(out, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def _infer_query_id_type(qids):
    """Map the first query id's Python/numpy type onto a Spark DataType.

    Only int (→ Long) and str (→ String) ids are supported — anything
    else (float, bytes, bool …) raises instead of silently serializing
    as StringType and dying later inside Arrow (ADVICE r2). Callers that
    know the type (topk_join passes the left frame's schema) skip this.
    """
    from pyspark.sql.types import StringType

    first = qids[0]
    if hasattr(first, "item"):  # unwrap numpy scalar
        first = first.item()
    # bool is an int subclass in Python AND np.bool_.item() is bool —
    # check it first so boolean ids fail loudly, not as LongType
    if isinstance(first, bool):
        raise TypeError(
            "knn_topk_gemm: boolean query ids are not supported; pass "
            "query_id_type explicitly if the ids are genuinely 0/1 ints"
        )
    if isinstance(first, int):
        return LongType()
    if isinstance(first, str):
        return StringType()
    raise TypeError(
        f"knn_topk_gemm: unsupported query id type {type(first).__name__}; "
        "pass query_id_type= (a pyspark DataType) explicitly"
    )


def knn_topk_gemm(
    index_df: DataFrame,
    queries: "list[tuple[int, list[float]]] | pd.DataFrame",
    k: int,
    *,
    vector_col: str = "vector",
    id_col: str = "docid",
    query_id_type=None,
    metric: str = "cosine",
    dist_round_decimals: "int | None" = 6,
) -> DataFrame:
    """Scale-path batch kNN: numpy GEMM per Arrow batch + two-level top-k.

    Why: with Q queries, the expression path evaluates Q × M cosine exprs
    row-at-a-time; a BLAS matmul on (batch × dim) @ (dim × Q) does the same
    work vectorized. Queries ship to every task closure (they're small —
    same broadcast assumption the reference makes with its single query
    vector). Each partition emits only its local top-k per query, so the
    final window sees k × Q × num_partitions rows.

    ``query_id_type``: Spark DataType of ``query_id`` in the output.
    Callers holding the query frame should pass its schema type
    (``left.schema[left_id].dataType``); when omitted it is inferred from
    the first id — int → Long, str → String, anything else raises
    (ADVICE r2: silent StringType fallback crashed Arrow for float ids).

    ``metric``: ``"cosine"`` (score = cosine similarity, rank DESC — the
    reference's only metric) or ``"l2"`` (score = Euclidean distance,
    rank ASC — the truth metric for the PQ/IVF family). Both use one
    GEMM per Arrow batch: for l2 the distance matrix comes from
    ``||x||² − 2·x@qᵀ + ||q||²``, never a per-pair Python loop.

    ``dist_round_decimals`` (l2 only, default 6 — the repo's PQ-family
    convention): the expanded form carries ~1e-8 cancellation noise vs
    an in-order ``(x−q)²`` fold, so near-tied distances could flip
    ranks across the two formulations. Ranking (and the emitted score)
    uses the ROUNDED distance, making ties resolve by id ASC
    identically in both — up to the usual midpoint caveat: a true
    distance within ~1e-8 of a 0.5·10⁻⁶ rounding boundary can still
    round apart (same class as the ADC half-even/half-up note in
    operators/pq.py). ``None`` disables rounding.

    Output: query_id, docid, score, rank — same contract as knn_topk.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(
            f"knn_topk_gemm: unknown metric {metric!r}; use 'cosine' or 'l2'"
        )

    if isinstance(queries, pd.DataFrame):
        qids = queries.iloc[:, 0].to_numpy()
        qmat = np.asarray(list(queries.iloc[:, 1]), dtype=np.float64)
    else:
        qids = np.asarray([q[0] for q in queries])
        qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    # a None query id would lump queries under one window partition
    # downstream (and np.asarray silently object-types the whole id
    # array) — a query without an identity is a caller bug, raise
    if any(q is None for q in qids.tolist()):
        raise ValueError("knn_topk_gemm: query ids must not be None")
    if len(qids) == 0:
        # empty query set → empty result, not an AxisError mid-pipeline;
        # the id type honors query_id_type instead of hardcoding Long so
        # empty and non-empty results union cleanly in string-id pipelines
        return index_df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", query_id_type or LongType()),
                    StructField(id_col, index_df.schema[id_col].dataType),
                    StructField("score", DoubleType()),
                    StructField("rank", LongType()),
                ]
            ),
        )
    # zero-norm guard matches the index side below: a zero query vector
    # must score 0 everywhere (deterministic output), not NaN — NaN made
    # the local top-k select nothing and SILENTLY dropped the query
    # one metric-specific auxiliary array: the kernel closure serializes
    # every captured local to every task, so computing BOTH the
    # normalized query matrix and the squared norms shipped an unused
    # (Q x dim) float64 array per task
    if metric == "l2":
        qaux = (qmat * qmat).sum(axis=1)  # (Q,) squared query norms
    else:
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        qn[qn == 0.0] = 1.0
        qaux = qmat / qn  # (Q, dim) normalized queries

    # derive id types from the inputs: hardcoding LongType crashed the
    # Arrow serializer for string ids, making topk_join succeed or fail
    # depending on which strategy its row-count probe picked
    idx_id_type = index_df.schema[id_col].dataType
    q_id_type = query_id_type or _infer_query_id_type(qids)
    out_schema = StructType(
        [
            StructField("query_id", q_id_type),
            StructField(id_col, idx_id_type),
            StructField("score", DoubleType()),
        ]
    )

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vector_col]), dtype=np.float64)
            if metric == "l2":
                # ||x||² − 2 x·q + ||q||², clipped: fp cancellation can
                # dip a true-zero distance to ~-1e-13 and sqrt would NaN
                xsq = (mat * mat).sum(axis=1, keepdims=True)
                d2 = xsq - 2.0 * (mat @ qmat.T) + qaux[None, :]
                keys = np.sqrt(np.clip(d2, 0.0, None))  # (batch, Q)
                if dist_round_decimals is not None:
                    # rank on the rounded key (see docstring) so the
                    # local top-k and the final window agree with an
                    # expr-side round
                    keys = np.round(keys, dist_round_decimals)
            else:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                norms[norms == 0.0] = 1.0
                # negated similarities: topk_rows keeps the smallest
                # keys, and -(-s) == s bit for bit on the way out
                keys = -((mat / norms) @ qaux.T)  # (batch, Q)
            ids = pdf[id_col].to_numpy()
            rows = []
            for j in range(keys.shape[1]):
                key = keys[:, j]
                sel = topk_rows(key, ids, k)
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            id_col: ids[sel],
                            "score": key[sel] if metric == "l2" else -key[sel],
                        }
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    from weaviate_txtai_spark.sources.tables import spread

    local = spread(index_df.select(id_col, vector_col)).mapInPandas(
        score_partition, schema=out_schema
    )
    score_order = F.asc("score") if metric == "l2" else F.desc("score")
    w = Window.partitionBy("query_id").orderBy(score_order, F.asc(id_col))
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hamming_topk(
    codes: DataFrame,
    query_code: list[int],
    n: int,
    *,
    id_col: str = "vec_id",
    code_col: str = "sign_code",
) -> DataFrame:
    """Top-n rows by Hamming distance to a packed sign code (the
    1-bit/dim tier — see ``functions.vector.sign_pack``): distance is
    a per-word xor+popcount (JVM intrinsics) over a words-long array,
    then TakeOrderedAndProject (per-partition top-n, one n-row merge).
    Ascending distance, ties to the lowest id. Output: id, hamming,
    rank."""
    from weaviate_txtai_spark.functions.vector import hamming_dist

    # NULL-id rows are excluded up front (r13 join census): results are
    # keyed by id, and in the rerank composition an unkeyed shortlist
    # row can never re-join its float vector — it would silently waste
    # a shortlist slot and shrink the final top-n
    codes = codes.filter(F.col(id_col).isNotNull())
    qlit = F.array(*[F.lit(int(w)).cast("long") for w in query_code])
    scored = codes.select(
        id_col, hamming_dist(F.col(code_col), qlit).alias("hamming")
    )
    top = scored.orderBy(F.asc("hamming"), F.asc(id_col)).limit(n)
    w = Window.orderBy(F.asc("hamming"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def hamming_topk_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    query: list[float],
    query_code: list[int],
    n: int,
    *,
    shortlist: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sign_code",
    vector_col: str = "embedding",
) -> DataFrame:
    """Production composition for the binary tier: Hamming shortlist
    over the 1-bit codes (the only corpus-wide scan — 256× less I/O
    than float32), then the exact cosine re-rank (``exact_rerank``) of
    the ``shortlist×n`` survivors' float vectors (broadcast semi-join
    on the tiny id set). Same shape as ``pq.adc_topk_rerank``; exact
    when the shortlist covers the corpus regardless of how lossy the
    sign codes are. Output: id, score (cosine, descending), rank."""
    cand = hamming_topk(
        codes, query_code, shortlist * n, id_col=id_col, code_col=code_col
    ).select(F.lit(0).alias("__qid"), id_col)
    qdf = vectors.sparkSession.createDataFrame(
        [(0, [float(v) for v in query])], "__qid int, __qv array<double>"
    )
    return exact_rerank(
        F.broadcast(cand), vectors, F.broadcast(qdf), n,
        metric="cosine", id_col=id_col, vector_col=vector_col,
    ).drop("__qid")
