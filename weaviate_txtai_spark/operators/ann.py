"""IVF-style approximate nearest neighbor over a vector table.

Spark has no HNSW (the reference delegates kNN to Weaviate's server-side
HNSW — SURVEY §4 "ANN index"); the Spark-native scale path is IVF
(inverted file): k-means partition the corpus, prune to the nprobe nearest
centroids per query, exact cosine within the probed cells.

Why IVF and not a graph index: IVF is embarrassingly data-parallel — the
corpus is *physically partitioned by centroid id* (one shuffle at build
time), and a query touches nprobe partitions. Partition pruning does the
work Catalyst already knows how to do; on 100 TB the probed fraction is
nprobe/nlist of the data, and the scan stays columnar + codegen.

Build: driver-side numpy k-means on a sample, one pass to assign.
Search: queries × centroids (tiny crossJoin) → top-nprobe cells → equi-join
on cell id (shuffle only the query fan-out, never the corpus) → exact
score → window top-k.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weaviate_txtai_spark.cache import scoped_persist
from weaviate_txtai_spark.functions.vector import cosine_sim
from weaviate_txtai_spark.operators.topk import topk_rows


# decimal places of the probe key in every probe twin (see probe_cells_expr)
PROBE_DECIMALS = 9


def require_positive(caller: str, **knobs) -> None:
    """The one rule for search knobs (``nprobe``, ``shortlist``): a
    value below 1 raises ValueError naming the knob, before any work —
    0 would probe no cell or keep no candidate, and a negative slice
    end would silently probe nlist − 1 cells. None (unset) passes."""
    for key, value in knobs.items():
        if value is not None and value < 1:
            raise ValueError(f"{caller}: {key} must be at least 1, got {value!r}")


def probe_rank(Q, C, nprobe: int, *, metric: str):
    """The probe rule of every IVF/IVF-PQ probe: for each query row of
    ``Q`` (n, dim) the row indices into ``C`` (nlist, dim) of its
    ``nprobe`` nearest centroids, ranked by (key rounded to
    ``PROBE_DECIMALS``, row ASC). Callers sort ``C`` by cell id, so ties
    go to the lowest cell. ``metric``: 'l2' (squared L2 in its expanded
    GEMM form, ascending — the IVF-PQ probe) or 'cosine' (descending —
    the IVF probe). Shape (n, min(nprobe, nlist)).

    Shared by the Arrow kernel of ``probe_cells_gemm`` and the driver
    batch of ``IVFPQIndex.search``, so the two pick the same cells even
    where an unrounded distance would break a 9-dp tie the other way;
    ``probe_cells_expr`` is its DataFrame-expression twin."""
    import numpy as np

    if metric == "l2":
        # expanded form: one GEMM; clip the fp-cancellation dip
        d = np.clip(
            (Q * Q).sum(axis=1, keepdims=True)
            - 2.0 * (Q @ C.T)
            + (C * C).sum(axis=1)[None, :],
            0.0,
            None,
        )
        key = np.round(d, PROBE_DECIMALS)
    elif metric == "cosine":
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        qn[qn == 0.0] = 1.0
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        cn[cn == 0.0] = 1.0
        key = -np.round((Q / qn) @ (C / cn).T, PROBE_DECIMALS)
    else:
        raise ValueError(f"probe_rank: unknown metric {metric!r}")
    # stable: equal keys keep row (= cell) order
    return np.argsort(key, axis=1, kind="stable")[:, :nprobe]


def probe_cells_gemm(
    query_df: DataFrame,
    centroids: list[tuple[int, list]],
    nprobe: int,
    *,
    metric: str,
    query_id_col: str = "query_id",
    query_vector_col: str = "query_vector",
) -> DataFrame:
    """Map-only probe selection: for each query row emit its nprobe
    nearest cells. Output columns: ``__qid`` (input id type), ``__qv``
    (array<double>), ``cell`` (int).

    Replaces the crossJoin(centroids) + interpreted zip_with/aggregate
    fold + window plan of ``probe_cells_expr`` (VERDICT r5 perf note):
    that plan evaluates a per-element HOF over Q × nlist rows AND
    shuffles them for the row_number window — and nlist grows ∝ √N, so
    at 100× the fold is the same interpreted-HOF-on-a-large-frame
    pattern banned elsewhere (NOTES.md r4). Here each Arrow batch scores
    (batch × dim) @ (dim × nlist) with one BLAS call (``probe_rank``) —
    centroids are closure state, already bounded driver model state —
    and emits batch × nprobe rows directly: NO shuffle at all, where the
    window plan shuffled Q × nlist rows.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )
    from typing import Iterator

    if metric not in ("l2", "cosine"):
        raise ValueError(f"probe_cells_gemm: unknown metric {metric!r}")

    cents = sorted((int(c), list(v)) for c, v in centroids)
    cell_ids = np.asarray([c for c, _ in cents], dtype=np.int64)
    C = np.asarray([v for _, v in cents], dtype=np.float64)  # (nlist, dim)
    np_take = min(nprobe, len(cents))

    qid_type = query_df.schema[query_id_col].dataType
    out_schema = StructType(
        [
            StructField("__qid", qid_type),
            StructField("__qv", ArrayType(DoubleType())),
            StructField("cell", IntegerType()),
        ]
    )

    def probe(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.asarray(list(pdf[query_vector_col]), dtype=np.float64)
            order = probe_rank(Q, C, np_take, metric=metric)
            qids = pdf[query_id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "__qid": np.repeat(qids, np_take),
                    "__qv": [list(v) for v in np.repeat(Q, np_take, axis=0)],
                    "cell": cell_ids[order].ravel().astype("int32"),
                }
            )

    src = query_df.select(
        query_id_col,
        F.col(query_vector_col).cast("array<double>").alias(query_vector_col),
    )
    return src.mapInPandas(probe, schema=out_schema)


def probe_cells_expr(
    query_df: DataFrame,
    centroids: list[tuple[int, list]],
    nprobe: int,
    *,
    metric: str,
    query_id_col: str = "query_id",
    query_vector_col: str = "query_vector",
) -> DataFrame:
    """The reference twin of ``probe_cells_gemm``: same rule, same
    output columns, as DataFrame expressions — queries × nlist
    centroids (tiny broadcast crossJoin), an interpreted fold per pair,
    the key rounded to ``PROBE_DECIMALS`` BEFORE the (key, cell ASC)
    tie-break (unrounded, two centroids within ~1e-9 could rank
    differently across the twins — ADVICE r6), then a row_number window
    per query. Shuffles Q × nlist rows: the tests' reference, not a
    production path."""
    spark = query_df.sparkSession
    cent = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cell int, __cent array<double>",
    )
    if metric == "l2":
        key = F.aggregate(
            F.zip_with("__qv", "__cent", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        order = F.asc("__key")
    elif metric == "cosine":
        key = cosine_sim("__qv", "__cent")
        order = F.desc("__key")
    else:
        raise ValueError(f"probe_cells_expr: unknown metric {metric!r}")
    w = Window.partitionBy("__qid").orderBy(order, F.asc("cell"))
    return (
        query_df.select(
            F.col(query_id_col).alias("__qid"),
            F.col(query_vector_col).cast("array<double>").alias("__qv"),
        )
        .crossJoin(F.broadcast(cent))
        .withColumn("__key", F.round(key, PROBE_DECIMALS))
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= nprobe)
        .select("__qid", "__qv", "cell")
    )


def probe_cells(
    query_df: DataFrame,
    centroids: list[tuple[int, list]],
    nprobe: int,
    *,
    strategy: str,
    metric: str,
    query_id_col: str,
    query_vector_col: str,
) -> DataFrame:
    """The probe step of ``IVFIndex.search`` and ``IVFPQIndex.search_df``:
    ``strategy`` 'gemm' is the map-only Arrow GEMM probe (no crossJoin,
    no window shuffle — the expr twin shuffles Q × nlist rows and
    evaluates an interpreted HOF per pair, and nlist ∝ √N), 'expr' its
    reference twin. Both rank by the ``probe_rank`` rule."""
    twins = {"gemm": probe_cells_gemm, "expr": probe_cells_expr}
    probe = twins.get(strategy)
    if probe is None:
        raise ValueError(f"unknown probe_strategy {strategy!r}")
    return probe(
        query_df,
        centroids,
        nprobe,
        metric=metric,
        query_id_col=query_id_col,
        query_vector_col=query_vector_col,
    )


def _train_centroids_sampled(
    df: DataFrame,
    nlist: int,
    *,
    id_col: str,
    vector_col: str,
    seed: int,
    max_iter: int,
    train_sample: int,
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer training on a bounded deterministic sample,
    entirely driver-side (numpy k-means++ init + Lloyd's).

    Why not distributed k-means over the full corpus: centroid quality
    saturates long before the sample does (FAISS trains IVF coarse
    quantizers on O(100k) samples regardless of corpus size — public
    knowledge), while every distributed Lloyd iteration is a full
    corpus pass plus a scheduler round-trip. Training on
    ``train_sample`` rows caps driver work at sample×dim doubles (64k ×
    64 ≈ 32 MB) and replaces O(iters) corpus passes with ONE bounded
    TakeOrdered scan; the corpus is then touched exactly once more by
    the map-only assignment. The sample is hash-ordered
    (``uniform_sample_k``), so the trained centroids are a pure
    function of the corpus — no partitioning or cluster-layout
    dependence (MLlib's k-means|| init had both).

    Exactness-mode gates (nprobe == nlist) are invariant to WHICH
    centroids come out; production recall only needs balanced cells,
    which k-means++ on a uniform sample delivers.
    """
    import numpy as np

    from weaviate_txtai_spark.functions.sampling import uniform_sample_k

    rows = (
        uniform_sample_k(
            df.select(id_col, F.col(vector_col).cast("array<double>").alias("__v")),
            int(train_sample),
            id_col=id_col,
        )
        .select("__v")
        .collect()
    )
    if not rows:
        raise ValueError("IVFIndex.build: empty input")
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    n = X.shape[0]
    k = min(int(nlist), n)
    rng = np.random.default_rng(seed)

    # k-means++ seeding (Arthur & Vassilvitskii 2007) on the sample
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:  # all points identical to chosen centers
            centers[i:] = X[rng.integers(n, size=k - i)]
            break
        centers[i] = X[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))

    x_sq = (X * X).sum(axis=1, keepdims=True)
    for _ in range(int(max_iter)):
        scores = x_sq - 2.0 * (X @ centers.T) + (centers * centers).sum(axis=1)
        labels = np.argmin(scores, axis=1)
        new_centers = centers.copy()
        for c in range(k):
            members = X[labels == c]
            if len(members):
                new_centers[c] = members.mean(axis=0)
        shift = float(((new_centers - centers) ** 2).sum())
        centers = new_centers
        if shift <= 1e-12:
            break

    if k < int(nlist):
        # fewer rows than cells: duplicate-free padding is pointless —
        # keep k real centroids (every search still probes all of them
        # when nprobe >= nlist, and probe_cells_gemm clamps nprobe)
        pass
    return [(i, [float(v) for v in c]) for i, c in enumerate(centers)]


class IVFIndex:
    """nlist-cell IVF index materialized as a DataFrame (cache or write
    partitionBy('cell') for reuse)."""

    def __init__(self, assigned: DataFrame, centroids: list[tuple[int, list[float]]],
                 id_col: str, vector_col: str):
        self.assigned = assigned          # corpus + `cell` column
        self.centroids = centroids        # [(cell_id, centroid_vec)]
        self.id_col = id_col
        self.vector_col = vector_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        *,
        nlist: int = 16,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        seed: int = 42,
        max_iter: int = 20,
        train_sample: int = 65536,
    ) -> "IVFIndex":
        # An id-keyed index cannot return, delete, or upsert an unkeyed
        # row; a NULL-id row admitted here would later vanish silently
        # at the rerank/shortlist joins (NULL never equi-joins) after
        # consuming a result slot (r13 join census)
        df = df.filter(F.col(id_col).isNotNull())
        centroids = _train_centroids_sampled(
            df,
            nlist,
            id_col=id_col,
            vector_col=vector_col,
            seed=seed,
            max_iter=max_iter,
            train_sample=train_sample,
        )
        # keep EVERY input column (not just id+vector): metadata rides
        # along into the cell layout so filtered search (`where=`) can
        # push its predicate into the same scan as the cell pruning.
        # assign_clusters is the SAME deterministic argmin append() uses,
        # so build-time and append-time routing agree by construction.
        from weaviate_txtai_spark.operators.kmeans import assign_clusters

        assigned = assign_clusters(
            df, centroids, vector_col=vector_col, cluster_col="cell"
        )
        return cls(assigned, centroids, id_col, vector_col)

    def append(self, new_df: DataFrame) -> "IVFIndex":
        """Incremental maintenance: route NEW vectors to the EXISTING
        centroids and union them into the cell layout — no re-clustering,
        no touch of the old rows (the daily-ingest shape; a full rebuild
        is only worth it when drift degrades recall, which
        ``tune_nprobe`` on a sample detects).

        Map-only for the new batch: centroids broadcast, per-row argmin,
        then a union. On a SAVED index the cheap physical form is
        writing just the new rows into the existing ``cell=`` partition
        directories (``append_to_saved``) — this method returns the
        logical union for in-memory use."""
        # deterministic L2 argmin (operators/kmeans.py) — the same rule
        # MLlib's transform used at build time, so appended rows land in
        # the cell a rebuild would have chosen
        from weaviate_txtai_spark.operators.kmeans import assign_clusters

        # same NULL-id exclusion as build() — appended unkeyed rows
        # would silently vanish at the search-time rerank joins
        new_df = new_df.filter(F.col(self.id_col).isNotNull())
        return self.union_assigned(
            assign_clusters(
                new_df,
                self.centroids,
                vector_col=self.vector_col,
                cluster_col="cell",
            )
        )

    def union_assigned(self, assigned_new: DataFrame) -> "IVFIndex":
        """``append`` for rows already assigned to these centroids (the
        ``IVFPQIndex.append`` path, which encodes the same rows)."""
        merged = self.assigned.unionByName(
            assigned_new.select(*[f.name for f in self.assigned.schema.fields]),
            allowMissingColumns=False,
        )
        return IVFIndex(merged, self.centroids, self.id_col, self.vector_col)

    def append_to_saved(self, path: str, new_df: DataFrame) -> None:
        """Physical incremental append to a saved index: assign the new
        vectors (map-only) and append them into the existing
        ``cell=…/`` partition directories — the old files are never
        rewritten (dynamic partition APPEND, not overwrite), so the cost
        is O(new batch) regardless of index size."""
        self.assign_for_saved(new_df).write.mode("append").partitionBy(
            "cell"
        ).parquet(os.path.join(path, "cells"))

    def assign_for_saved(self, new_df: DataFrame) -> DataFrame:
        """The new rows of an ``append_to_saved`` (this index's and
        ``IVFPQIndex``'s), validated and assigned to cells."""
        from weaviate_txtai_spark.operators.kmeans import assign_clusters

        # align to the saved schema BEFORE the write, like append():
        # parquet append accepts mixed-schema files silently, and load()
        # (no mergeSchema) resolves columns from whichever footer wins —
        # a missing metadata column must fail HERE, not at search time
        expected = [
            f for f in self.assigned.schema.fields if f.name != "cell"
        ]
        missing = {f.name for f in expected} - set(new_df.columns)
        if missing:
            raise ValueError(
                f"append_to_saved: new rows lack index columns {sorted(missing)}"
            )
        # names are not enough: a present-but-differently-typed column
        # (int32 ids, float32 vectors) would append mixed-type footers
        # that only blow up at load()/search — validate types too
        new_types = {f.name: f.dataType for f in new_df.schema.fields}
        mismatched = [
            (f.name, f.dataType.simpleString(), new_types[f.name].simpleString())
            for f in expected
            if new_types[f.name] != f.dataType
        ]
        if mismatched:
            raise ValueError(
                "append_to_saved: column types differ from the saved index "
                f"(column, saved, new): {mismatched} — cast before appending"
            )
        # same NULL-id exclusion as build/append (r13 join census)
        new_df = new_df.filter(F.col(self.id_col).isNotNull())
        return assign_clusters(
            new_df.select(*[f.name for f in expected]),
            self.centroids,
            vector_col=self.vector_col,
            cluster_col="cell",
        )

    def save(self, path: str) -> None:
        """Materialize the index partitioned BY CELL on disk.

        ``partitionBy('cell')`` makes the cell id part of the directory
        layout (``cell=0/``, ``cell=1/`` …), so a probed search's
        ``cell IN (...)`` predicate becomes *partition pruning*: Spark
        lists only the probed directories and never opens the rest —
        the IVF promise (read nprobe/nlist of the data) enforced by the
        file layout itself, not just the join."""
        self.assigned.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(path, "cells")
        )
        meta = {
            "id_col": self.id_col,
            "vector_col": self.vector_col,
            "centroids": self.centroids,
        }
        # meta goes through a Spark writer too: builtin open() only works
        # on the driver's local filesystem, but index paths are
        # hdfs://-or-s3a://-shaped at scale — the cells and the meta must
        # land on the SAME filesystem or load() finds a half-usable index
        spark = self.assigned.sparkSession
        (
            spark.createDataFrame([(json.dumps(meta),)], "meta string")
            .coalesce(1)
            .write.mode("overwrite")
            .text(os.path.join(path, "ivf_meta"))
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        meta_rows = spark.read.text(os.path.join(path, "ivf_meta")).collect()
        meta = json.loads(meta_rows[0]["value"])
        assigned = spark.read.parquet(os.path.join(path, "cells"))
        centroids = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]
        return cls(assigned, centroids, meta["id_col"], meta["vector_col"])

    def search(
        self,
        query_df: DataFrame,
        k: int,
        *,
        nprobe: int = 4,
        query_id_col: str = "query_id",
        query_vector_col: str = "query_vector",
        broadcast_queries: bool = True,
        cell_salt: int | None = None,
        where=None,
        probe_strategy: str = "gemm",
    ) -> DataFrame:
        """Approximate top-k: probe the nprobe cells whose centroids are
        nearest (by cosine) to each query. Columns: query_id, id, score,
        rank.

        ``where``: optional predicate (Column or SQL string) over corpus
        columns, applied BEFORE scoring — filtered vector search at the
        index level. Catalyst folds it into the cell scan, so on a saved
        index the plan carries BOTH partition pruning (probed cells) and
        PushedFilters (the predicate) on the same parquet scan: the
        filter costs no extra pass, and top-k slots are never wasted on
        rows the caller would discard (post-filtering top-k instead
        silently returns < k rows — the classic filtered-ANN bug).
        Heavily selective predicates reduce per-cell candidate counts;
        recall still degrades with nprobe exactly as unfiltered (the
        probe set is chosen before the filter — same contract as FAISS
        IDSelector / Weaviate's filtered HNSW fallback).

        ``broadcast_queries=True`` (default, human-issued query batches):
        the probe fan-out broadcasts and the union of probed cells becomes
        a driver-side static IN-filter — partition pruning on a saved
        index. ``False`` (huge query side, i.e. a similarity JOIN): both
        sides shuffle by cell id into a co-partitioned equi-join and no
        driver-side collect happens — with millions of queries every cell
        is probed anyway, so pruning would be a no-op and the broadcast
        would OOM.

        ``cell_salt`` (non-broadcast path): the join key is widened to
        (cell, salt) — corpus salted deterministically by id, probes
        exploded over all salts — because a bare cell key caps the join's
        parallelism at nlist distinct values and lets AQE coalesce the
        byte-small but compute-heavy scoring stage onto ONE task
        (measured: 35 s single-task vs ~2 s salted at sf0.1). Default:
        enough salts for ~2 tasks per core. Probe rows multiply by the
        salt count (queries × nprobe × S — the small side); the corpus
        still shuffles exactly once."""
        require_positive("IVFIndex.search", nprobe=nprobe)
        spark = query_df.sparkSession
        # NULL query ids excluded: per-query probe/rank steps key on the
        # id, so unkeyed queries would lump into one merged result list
        query_df = query_df.filter(F.col(query_id_col).isNotNull())
        base = self.assigned
        if where is not None:
            base = base.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        # align the probe-side cell type with the corpus' (createDataFrame
        # infers bigint, MLlib's prediction col is int): an equi-join
        # would auto-cast, but the cogrouped scoring path repartitions
        # each side SEPARATELY by (cell, salt) — Murmur3 hashes int 3 and
        # bigint 3 differently, so mismatched types silently land the
        # same logical key in different partitions and the cogroup drops
        # most groups (observed: exactly ~nprobe/nlist of queries kept)
        cell_type = self.assigned.schema["cell"].dataType.simpleString()
        probes = probe_cells(
            query_df,
            self.centroids,
            nprobe,
            strategy=probe_strategy,
            metric="cosine",
            query_id_col=query_id_col,
            query_vector_col=query_vector_col,
        ).withColumn("cell", F.col("cell").cast(cell_type))
        if broadcast_queries:
            # The union of probed cells is collected driver-side (≤ nlist
            # ints, one tiny job over queries × centroids) and applied as a
            # static IN-filter BEFORE the join: on a saved index
            # (partitionBy('cell')) this is partition pruning — unprobed
            # directories are never listed. With enough queries the union
            # approaches all cells and the filter degrades to a no-op.
            probes = scoped_persist(probes)
            probed_cells = [
                r["cell"] for r in probes.select("cell").distinct().collect()
            ]
            corpus = base.filter(F.col("cell").isin(probed_cells))
            probes = F.broadcast(probes)
            join_keys = ["cell"]
        else:
            # widen the key: see cell_salt in the docstring
            nsalt = cell_salt or max(
                1,
                -(-spark.sparkContext.defaultParallelism * 2
                  // max(len(self.centroids), 1)),
            )
            nparts = min(
                max(len(self.centroids), 1) * nsalt,
                spark.sparkContext.defaultParallelism * 4,
            )
            corpus = base.withColumn(
                "__salt",
                F.pmod(F.xxhash64(F.col(self.id_col)), F.lit(nsalt)).cast("int"),
            ).repartition(nparts, "cell", "__salt")
            probes = probes.withColumn(
                "__salt",
                F.explode(
                    F.sequence(F.lit(0).cast("int"), F.lit(nsalt - 1).cast("int"))
                ),
            ).repartition(nparts, "cell", "__salt")
            # EXPLICIT partition count: AQE coalesces shuffle reads by
            # BYTE size, and vector scoring is compute-heavy per byte —
            # without this the whole scoring stage collapses onto one
            # task whenever the shuffle is byte-small (measured 35 s
            # single-task vs ~2 s wide at sf0.1). User-specified
            # repartition counts are exempt from AQE coalescing, and the
            # join reuses this partitioning (no extra exchange).
            #
            # Scoring is a COGROUPED per-(cell, salt) GEMM, not a pair
            # equi-join + cosine expr: with Q queries × nprobe probes ×
            # cell-sized candidate lists the expr path evaluates an
            # interpreted zip_with/aggregate fold per PAIR (measured ~2×
            # whole-search slowdown at sf0.1); the cogroup ships each
            # side's vectors ONCE per group over Arrow, scores with one
            # normalized chunked matmul, and emits only each query's
            # per-group top-k — the final window merges nprobe×salt
            # candidate sets per query, so its input is O(Q·nprobe·S·k)
            # rows, never O(pairs).
            scored = self._cogroup_scored(
                corpus, probes, k, query_id_col=query_id_col
            )
            w = Window.partitionBy(query_id_col).orderBy(
                F.desc("score"), F.asc(self.id_col)
            )
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
            )
        # broadcast path: equi-join on cell; Q is human-batch-sized, so
        # the per-pair cosine expr stays cheap and fully JVM-side
        scored = (
            corpus.join(probes, join_keys)
            .select(
                F.col("__qid").alias(query_id_col),
                F.col(self.id_col),
                cosine_sim(F.col(self.vector_col), F.col("__qv")).alias("score"),
            )
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("score"), F.asc(self.id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    def _cogroup_scored(
        self,
        corpus: DataFrame,
        probes: DataFrame,
        k: int,
        *,
        query_id_col: str,
    ) -> DataFrame:
        """Per-(cell, salt) cogrouped GEMM scoring (see search). Emits
        each probe query's top-k WITHIN the group by (cosine desc, id
        asc) — the same ordering the final window applies, so the merge
        over a query's nprobe×salt groups is exact."""
        import numpy as np
        import pandas as pd

        id_col = self.id_col
        id_ddl = corpus.schema[id_col].dataType.simpleString()
        qid_ddl = probes.schema["__qid"].dataType.simpleString()

        def score(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
            if cpdf.empty or qpdf.empty:
                return pd.DataFrame({"__qid": [], id_col: [], "score": []})
            ids = cpdf[id_col].to_numpy()
            C = np.asarray(list(cpdf["__vec"]), dtype=np.float64)
            Q = np.asarray(list(qpdf["__qv"]), dtype=np.float64)
            for M in (C, Q):
                n = np.linalg.norm(M, axis=1)
                n[n == 0.0] = 1.0
                M /= n[:, None]
            out_q, out_i, out_s = [], [], []
            chunk = 1024
            qids = qpdf["__qid"].to_numpy()
            for lo in range(0, len(qids), chunk):
                sims = Q[lo : lo + chunk] @ C.T  # (q, c)
                for j in range(sims.shape[0]):
                    row = sims[j]
                    order = topk_rows(-row, ids, k)
                    out_q.append(np.repeat(qids[lo + j], len(order)))
                    out_i.append(ids[order])
                    out_s.append(row[order])
            return pd.DataFrame(
                {
                    "__qid": np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "score": np.concatenate(out_s),
                }
            )

        cg = (
            corpus.select(
                "cell", "__salt", id_col,
                F.col(self.vector_col).cast("array<double>").alias("__vec"),
            )
            .groupBy("cell", "__salt")
            .cogroup(
                probes.select(
                    "cell", "__salt", "__qid",
                    F.col("__qv").cast("array<double>").alias("__qv"),
                ).groupBy("cell", "__salt")
            )
        )
        return cg.applyInPandas(
            score, schema=f"__qid {qid_ddl}, {id_col} {id_ddl}, score double"
        ).withColumnRenamed("__qid", query_id_col)


def tune_nprobe(
    index: "IVFIndex",
    sample_queries: DataFrame,
    k: int,
    *,
    recall_target: float = 0.9,
    query_id_col: str = "query_id",
    query_vector_col: str = "query_vector",
) -> tuple[int, dict[int, float]]:
    """Smallest nprobe meeting ``recall_target`` on a held-out sample.

    Ground truth is the exact brute-force top-k over the same corpus
    (one scan per measurement, fine on a sample). Probes nprobe =
    1, 2, 4, ... nlist doubling, measuring mean per-query recall@k;
    returns (chosen_nprobe, {nprobe: recall}). Deterministic: ties in
    the top-k break on id on both the exact and approximate side, so a
    recall number is reproducible. Run this once per index build on a
    few hundred sampled queries; the measured curve is the artifact
    that justifies the production nprobe — at 100 TB you cannot afford
    to guess it.
    """
    from weaviate_txtai_spark.operators.topk import knn_topk

    exact = knn_topk(
        index.assigned.select(
            F.col(index.id_col).alias("docid"),
            F.col(index.vector_col).alias("vector"),
        ),
        sample_queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("query_vector"),
        ),
        k,
    )
    truth: dict = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["docid"])
    if not truth:
        raise ValueError(
            "tune_nprobe: no ground truth (empty sample_queries or corpus) "
            "— nothing to measure"
        )

    nlist = len(index.centroids)
    curve: dict[int, float] = {}
    # probe 1, 2, 4, ... capped at nlist so the final measurement is the
    # exhaustive one even when nlist is not a power of two — the chosen
    # value always has a supporting curve entry
    nprobe = 1
    chosen = nlist
    while True:
        nprobe = min(nprobe, nlist)
        got: dict = {}
        res = index.search(
            sample_queries, k, nprobe=nprobe,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
        for r in res.collect():
            got.setdefault(r[query_id_col], set()).add(r[index.id_col])
        recalls = [
            len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
        ]
        curve[nprobe] = sum(recalls) / len(recalls)
        if curve[nprobe] >= recall_target or nprobe == nlist:
            chosen = nprobe
            break
        nprobe *= 2
    return chosen, curve
