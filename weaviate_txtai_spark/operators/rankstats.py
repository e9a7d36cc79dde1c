"""Rank-based statistics: distributed average-rank assignment and
Spearman rank correlation.

``lineitem_correlations`` (plans/relational.py) profiles Pearson
correlation / covariance; Pearson is blind to monotone-but-nonlinear
association and is wrecked by heavy-tailed outliers — both endemic in
pipeline telemetry (doc lengths, quality scores, token counts). The
robust companion is Spearman's ρ: Pearson on the columns' fractional
(tie-averaged) ranks.

Scale notes
-----------
The textbook formulation ranks with ``rank() OVER (ORDER BY v)`` — a
global-order window, i.e. every row through ONE task (the same
scale-killer ids.py documents for dense-id assignment, and exactly what
the DuckDB oracle twin does, correctly, at oracle scale). The
scale-safe identity used here: the average rank of value v is

    avg_rank(v) = (# rows with value < v) + (cnt(v) + 1) / 2

which needs per-ROW nothing — only a prefix sum over the per-VALUE
count table. The plan, per column:

1. ``groupBy(value).count()`` — one map-side-combined shuffle; the
   prefix-sum input shrinks from N rows to the distinct-value count.
2. exclusive prefix sum over the value-ordered count table via the
   ids.py two-pass scheme: ``repartitionByRange`` by value,
   ``sortWithinPartitions``, per-partition subtotals (≤ one row per
   partition to the driver), broadcast the cumulative offsets back.
   No unpartitioned window anywhere.
3. one value-keyed join maps each row to its avg rank; hot values are
   fine — the rank table has one row per value, so skew meets a
   broadcast-able side.

Determinism caveat (same as ids.py): the two-pass prefix sum evaluates
its input twice, so the source frame must be deterministic (file scans
and deterministic transforms are; fresh ``rand()`` is not — persist
first).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id packs the partition id above bit 33
_LOCAL_MASK = (1 << 33) - 1


def _prefix_sums(
    vc: DataFrame,
    value_col: str,
    count_col: str,
    *,
    by: str | None = None,
    pre_materialize: bool = False,
) -> DataFrame:
    """Exclusive prefix sum of ``count_col`` over ``vc`` ordered by
    ``value_col``, without a global window. Adds ``__before``.

    ``by``: optional grouping column — the prefix sum restarts per
    ``by`` value, so N independent rankings (e.g. one per unpivoted
    source column) share ONE range shuffle instead of N. The subtotal
    collect grows to ≤ n_part·|by-domain| rows — still driver-bounded
    for the column-unpivot use (|by| = a handful of column names).

    ``pre_materialize``: checkpoint ``vc`` BEFORE the range shuffle.
    ``repartitionByRange`` runs a boundary-SAMPLING pass over its
    input, so an expensive ``vc`` subtree (a wide explode + aggregate)
    is otherwise computed twice — once for sampling, once for the real
    shuffle. The checkpoint is domain-sized (distinct values, not
    rows); callers with a trivially-cheap ``vc`` keep the default."""
    keys = [by] if by else []
    n_part = max(2, min(32, vc.sparkSession.sparkContext.defaultParallelism))
    if pre_materialize:
        vc = vc.localCheckpoint(eager=False)
    ordered = (
        vc.repartitionByRange(
            n_part, *[F.col(k) for k in keys], F.col(value_col)
        )
        .sortWithinPartitions(*keys, value_col)
        .withColumn("__mii", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mii", 33).cast("long"))
        # the subtotal collect below and the returned frame BOTH read
        # this plan; repartitionByRange picks its boundaries by
        # sampling, so a re-evaluation could re-draw them and the
        # collected offsets would describe the wrong partitioning —
        # pin ONE materialization (table is distinct-values sized)
        .localCheckpoint(eager=False)
    )
    # per-partition subtotal + intra-partition running sum stay narrow;
    # only the ≤n_part·|by| subtotal rows are collected to build offsets
    part_tot = (
        ordered.groupBy("__pid", *keys)
        .agg(F.sum(count_col).alias("__tot"))
        .orderBy(*keys, "__pid")
        .collect()
    )
    offsets, accs = [], {}
    for r in part_tot:
        k = tuple(r[key] for key in keys)
        acc = accs.get(k, 0)
        offsets.append((r["__pid"], *k, acc))
        accs[k] = acc + r["__tot"]
    spark = vc.sparkSession
    off = (
        spark.createDataFrame(offsets, ["__pid", *keys, "__off"])
        if offsets
        else None
    )
    if off is None:
        return vc.withColumn("__before", F.lit(0).cast("long"))
    from pyspark.sql.window import Window

    # running sum WITHIN each range partition (and by-group): a
    # partitioned window, safe
    w = (
        Window.partitionBy("__pid", *keys)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ordered.join(F.broadcast(off), ["__pid", *keys])
        .withColumn(
            "__before",
            (
                F.col("__off")
                + F.coalesce(F.sum(count_col).over(w), F.lit(0))
            ).cast("long"),
        )
        .drop("__mii", "__pid", "__off")
    )


def avg_ranks(
    df: DataFrame, value_col: str, *, out_col: str = "avg_rank"
) -> DataFrame:
    """``df`` with fractional (tie-averaged, 1-based) ranks of
    ``value_col`` appended as ``out_col``. Null values are excluded
    from ranking and dropped."""
    rows = df.filter(F.col(value_col).isNotNull())
    vc = rows.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    ranked = _prefix_sums(vc, value_col, "__cnt").select(
        value_col,
        (
            F.col("__before") + (F.col("__cnt") + F.lit(1)) / F.lit(2.0)
        ).alias(out_col),
    )
    return rows.join(ranked, value_col)


def _bigcol_moments_local(
    per_x: DataFrame,
    x: str,
    pair_ids: "list[tuple[int, str]]",
    mean: float,
) -> DataFrame:
    """Single-task Spearman moments for one big column from its
    (value, cnt, Σ centered-partner-rank…) domain table: sort by value,
    exclusive prefix counts → centered ranks, then the Σcnt·cx² and
    Σcx·(Σcy) reductions — one 1-row output. Runs executor-side via
    ``repartition(1).mapInPandas`` (never a driver collect). Sort order
    parity: pandas mergesort on the raw column orders numerics,
    decimals, and strings identically to Spark's ordering (UTF-8 byte
    order preserves codepoint order)."""
    import pandas as pd

    sxx_name = f"__sxx_{x}"
    out_cols = [sxx_name] + [f"__sxy_{i}" for i, _ in pair_ids]
    schema = ", ".join(f"{c} double" for c in out_cols)

    def kernel(batches):
        import numpy as np

        parts = [b for b in batches if len(b)]
        if not parts:
            yield pd.DataFrame({c: [None] for c in out_cols})
            return
        pdf = pd.concat(parts, ignore_index=True)
        pdf = pdf.sort_values(x, kind="mergesort", ignore_index=True)
        cnt = pdf["__cnt"].to_numpy(dtype="int64")
        before = np.concatenate(([0], np.cumsum(cnt[:-1])))
        crx = before + (cnt + 1) / 2.0 - mean
        out = {sxx_name: [float((crx * crx * cnt).sum())]}
        for i, y in pair_ids:
            s = pdf[f"__s_{y}"].to_numpy(dtype="float64")
            out[f"__sxy_{i}"] = [float((crx * s).sum())]
        yield pd.DataFrame(out)

    return per_x.repartition(1).mapInPandas(kernel, schema)


def _spearman_listwise_moments(
    sub: DataFrame,
    pairs: Sequence[tuple[str, str]],
    cols: Sequence[str],
    round_decimals: int,
    *,
    broadcast_domain: int = 16384,
    small_cols: "Sequence[str] | None" = None,
    local_finish_domain: int = 4_000_000,
):
    """Listwise Spearman WITHOUT any row-level rank join — the moments
    path (r9, VERDICT r8 item 2). Returns None when the shape doesn't
    fit (some pair has two big-domain columns) and the caller falls
    back to the row-join formulation.

    The identity: with listwise ranks sharing one population of size n,
    every column's mean rank is exactly (n+1)/2, so for centered ranks
    c = r − (n+1)/2,  ρ(x,y) = Σcx·cy / √(Σcx²·Σcy²). Each moment is
    computable from DOMAIN-sized tables:

    - small column (≲``broadcast_domain`` distinct values, probed with
      one approx_count_distinct pass): its (value → centered rank, cnt)
      map comes from a tiny grouped count (map-side collapsed) and
      BROADCASTS; Σcy² = Σ cnt·cy² over the map.
    - small × small pair: Σcx·cy = Σ cnt₂·cx·cy over the pair's joint
      value table — another map-side-collapsed groupBy.
    - big × small pair: ONE groupBy(big) over the corpus accumulates,
      per big value, the row count AND Σcy of each small partner
      (partner ranks joined map-side from the broadcast maps); the big
      column's own ranks then come from ``_prefix_sums`` over that SAME
      table, and Σcx·cy = Σ cx·(per-value Σcy) — domain-sized end to
      end. No row ever meets a big rank map.

    Precision: centered moments avoid the Σr² ≈ n³ cancellation that
    overflows double precision at n ≳ 1e6 raw ranks; Σcx² ≈ n³/12 is
    all-positive (no cancellation) and Σcx·cy errors stay ~1e-16
    relative, far inside the 6-dp gate rounding.

    At 100 TB: two corpus scans (probe + one per big column, each a
    pruned 2–4 column projection) and one small-partner broadcast; the
    shuffles carry value domains, never rows."""
    if small_cols is not None:
        # caller-supplied domain knowledge (e.g. the gate knows its
        # dimension-like columns): skip the cardinality probe; n comes
        # from the tiny domain table below instead of a corpus count.
        # A wrong hint costs performance (an oversized "small" map),
        # never correctness — every moment identity holds for any split.
        n = None
        probe = {c: 1 for c in cols}  # joint-size guard falls back
        small = [c for c in cols if c in set(small_cols)]
    else:
        probe = sub.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.approx_count_distinct(c).alias(c) for c in cols],
        ).collect()[0]
        n = probe["__n"]
        if n == 0:
            return None  # row path yields the NULL-corr convention
        small = [c for c in cols if probe[c] <= broadcast_domain]
    big = [c for c in cols if c not in set(small)]
    if any(x in set(big) and y in set(big) for x, y in pairs):
        return None

    # small domain tables per dtype group: one stacked map-side-collapsed
    # pass per group, CHECKPOINTED — every downstream moment frame below
    # is a separate crossJoin branch, and Spark shares no common subplans
    # across branches, so an un-materialized dom would re-scan the corpus
    # once per branch (the no-common-subplan trap, NOTES.md). The table
    # stores the raw exclusive prefix count __b; centered ranks derive
    # lazily once n is known.
    dtypes = dict(sub.dtypes)
    doms: list[DataFrame] = []
    by_dtype: dict[str, list[str]] = {}
    for c in small:
        by_dtype.setdefault(dtypes[c], []).append(c)
    from pyspark.sql.window import Window

    for group in by_dtype.values():
        stacked = sub.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("__col"), F.col(c).alias("__val")
                        )
                        for c in group
                    ]
                )
            ).alias("s")
        ).select("s.__col", "s.__val")
        vc = stacked.groupBy("__col", "__val").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        w = (
            Window.partitionBy("__col")
            .orderBy("__val")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        dom = vc.select(
            "__col",
            "__val",
            "__cnt",
            F.coalesce(F.sum("__cnt").over(w), F.lit(0)).alias("__b"),
        ).localCheckpoint(eager=False)
        doms.append(dom)
    # ---- ONE action: n (hint mode) + a domain-size probe per big
    # column. The only decision the per-x domain size feeds is the
    # local-vs-distributed finish threshold, and BOTH finishes are
    # value-identical (parity-pinned), so approx_count_distinct is
    # safe — it replaces what used to be a sequential corpus-pass
    # per_x.count() job per big column. The branches fuse into one
    # tagged-union collect (the fs_pattern_counts fused-barrier idiom):
    # the n branch's aggregate doubles as the dom checkpoint's
    # materialization, the probe branches scan `sub` directly and run
    # as concurrent stages of the same job (r13 opt).
    probes_u: list[DataFrame] = []
    if n is None:
        # hint mode: every column shares the listwise population, so
        # any small column's counts sum to n — a 1-row agg over the
        # tiny checkpointed domain, not a corpus job
        if doms:
            first_col = next(iter(by_dtype.values()))[0]
            probes_u.append(
                doms[0].filter(F.col("__col") == first_col).agg(
                    F.coalesce(F.sum("__cnt"), F.lit(0))
                    .cast("long").alias("__v")
                ).select(F.lit("__n").alias("__k"), "__v")
            )
        else:
            probes_u.append(
                sub.agg(F.count(F.lit(1)).cast("long").alias("__v"))
                .select(F.lit("__n").alias("__k"), "__v")
            )
    # materialize EVERY dom checkpoint inside the same fused collect
    # (one 1-row count branch per dom): the doms feed many concurrent
    # consumer stages of the final action (the maps broadcasts, the
    # variance aggregates), and on an unfilled lazy checkpoint those
    # racers each recomputed the stacked corpus pass (4.5 s@32c vs
    # 2.6 s@8c, driver r13; r14 opt). In hint mode doms[0] is already
    # fully scanned by the n branch above — skip its extra branch.
    first_materialized = 0 if (n is None and doms) else -1
    for di, dom in enumerate(doms):
        if di == first_materialized:
            continue
        probes_u.append(
            dom.agg(F.count(F.lit(1)).cast("long").alias("__v")).select(
                F.lit(f"__dom{di}").alias("__k"), "__v"
            )
        )
    if big:
        probes_u.append(
            sub.agg(
                *[
                    F.approx_count_distinct(x).cast("long").alias(x)
                    for x in big
                ]
            ).select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(x).alias("__k"),
                                F.col(x).alias("__v"),
                            )
                            for x in big
                        ]
                    )
                ).alias("s")
            ).select("s.__k", "s.__v")
        )
    got: dict[str, int] = {}
    if probes_u:
        u = probes_u[0]
        for p in probes_u[1:]:
            u = u.unionByName(p)
        got = {r["__k"]: int(r["__v"]) for r in u.collect()}
    if n is None:
        n = got.get("__n", 0)
        if n == 0:
            return None
    mean = (n + 1) / 2.0

    def _cr():
        return (
            F.col("__b")
            + (F.col("__cnt") + F.lit(1)) / F.lit(2.0)
            - F.lit(mean)
        )

    maps: dict[str, DataFrame] = {}
    for dom, group in zip(doms, by_dtype.values()):
        for c in group:
            maps[c] = dom.filter(F.col("__col") == c).select(
                "__val", _cr().alias("__cr"), "__cnt"
            )

    frames: list[DataFrame] = []
    # ALL small-column variance moments in one agg per (tiny) dom
    for dom, group in zip(doms, by_dtype.values()):
        frames.append(
            dom.agg(
                *[
                    F.sum(
                        F.when(
                            F.col("__col") == c,
                            F.col("__cnt") * _cr() * _cr(),
                        )
                    ).alias(f"__sxx_{c}")
                    for c in group
                ]
            )
        )
    # small × small pairs: ONE corpus groupBy over every small column
    # (map-side collapsed; the product domain is probed ≤ domain^k —
    # guarded below), then each pair's joint re-aggregates the tiny
    # grouped table instead of paying its own corpus scan
    ss_pairs = [
        (i, x, y) for i, (x, y) in enumerate(pairs)
        if x in maps and y in maps
    ]
    if ss_pairs:
        est = 1
        for c in small:
            est *= max(int(probe[c]), 1)
        if len(small) <= 4 and est <= 4_000_000:
            # eager iff several joint groupBys will fan out over it as
            # concurrent stages of the final action — a lazy checkpoint
            # had them racing the fill, each racer a corpus groupBy
            # (the r13 fan-out regression; r14 opt). Single-consumer
            # stays lazy: the one consumer materializes it.
            allj = (
                sub.groupBy(*small)
                .agg(F.count(F.lit(1)).alias("__c2"))
                .localCheckpoint(eager=len(ss_pairs) > 1)
            )
            joint_src = {
                (x, y): allj.groupBy(x, y).agg(
                    F.sum("__c2").alias("__c2")
                )
                for _, x, y in ss_pairs
            }
        else:
            joint_src = {
                (x, y): sub.groupBy(x, y).agg(
                    F.count(F.lit(1)).alias("__c2")
                )
                for _, x, y in ss_pairs
            }
        for i, x, y in ss_pairs:
            joint = (
                joint_src[(x, y)]
                .join(
                    F.broadcast(
                        maps[x].select(
                            F.col("__val").alias(x),
                            F.col("__cr").alias("__crx"),
                        )
                    ),
                    x,
                )
                .join(
                    F.broadcast(
                        maps[y].select(
                            F.col("__val").alias(y),
                            F.col("__cr").alias("__cry"),
                        )
                    ),
                    y,
                )
            )
            frames.append(
                joint.agg(
                    F.sum(
                        F.col("__c2") * F.col("__crx") * F.col("__cry")
                    ).alias(f"__sxy_{i}")
                )
            )
    # big columns: one corpus groupBy each, carrying partner Σcy; the
    # table stays LAZY (materialized by the final action, not by a
    # build-time count — the finish choice uses the fused approx probe)
    for x in big:
        partners = sorted(
            {y for p in pairs for y in p if x in p and y != x}
        )
        base = sub.select(x, *partners)
        for y in partners:
            base = base.join(
                F.broadcast(
                    maps[y].select(
                        F.col("__val").alias(y),
                        F.col("__cr").alias(f"__cr_{y}"),
                    )
                ),
                y,
            )
        per_x = base.groupBy(x).agg(
            F.count(F.lit(1)).alias("__cnt"),
            *[F.sum(f"__cr_{y}").alias(f"__s_{y}") for y in partners],
        ).localCheckpoint(eager=False)
        pair_ids = []
        for i, (px, py) in enumerate(pairs):
            if x in (px, py):
                pair_ids.append((i, py if px == x else px))
        n_vals = got[x]
        if n_vals <= local_finish_domain:
            # single-task numpy finish (the connected_components /
            # hits_exact local-finish discipline): the value-domain
            # table fits one task, so sort + prefix + moment reduction
            # run in ONE cheap job instead of the range-shuffle +
            # subtotal-collect + window machinery — pure job-floor
            # savings, measured, with the distributed path kept for
            # larger domains and parity-pinned in tests
            frames.append(
                _bigcol_moments_local(per_x, x, pair_ids, mean)
            )
        else:
            ranked = _prefix_sums(per_x, x, "__cnt")
            crx = (
                F.col("__before")
                + (F.col("__cnt") + F.lit(1)) / F.lit(2.0)
                - F.lit(mean)
            )
            aggs = [F.sum(crx * crx * F.col("__cnt")).alias(f"__sxx_{x}")]
            for i, y in pair_ids:
                aggs.append(
                    F.sum(crx * F.col(f"__s_{y}")).alias(f"__sxy_{i}")
                )
            frames.append(ranked.agg(*aggs))

    one = frames[0]
    for fr in frames[1:]:
        one = one.crossJoin(fr)
    return one.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(x).alias("col_x"),
                        F.lit(y).alias("col_y"),
                        F.round(
                            F.try_divide(
                                F.col(f"__sxy_{i}"),
                                F.sqrt(
                                    F.col(f"__sxx_{x}")
                                    * F.col(f"__sxx_{y}")
                                ),
                            ),
                            round_decimals,
                        ).alias("spearman"),
                    )
                    for i, (x, y) in enumerate(pairs)
                ]
            )
        )
    )


def spearman(
    df: DataFrame,
    pairs: Sequence[tuple[str, str]],
    *,
    dropna: str = "pairwise",
    round_decimals: int = 6,
    small_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """Spearman rank correlation for each (x, y) column pair: one row
    per pair — ``col_x, col_y, spearman``.

    ``dropna='pairwise'`` (default, the standard convention): each
    pair ranks over ITS null-complete subset — one ranking job per
    (pair, column). ``dropna='listwise'``: rows with a null in ANY
    involved column drop once, and each unique column is ranked ONCE
    over the shared population and reused across its pairs — on
    null-free data (enforced fact tables) the results are identical.
    When every ranked column shares one dtype (the usual fact-table
    case) the columns are additionally UNPIVOTED to (col, value) rows
    and all of them rank in a SINGLE ``_prefix_sums`` pass keyed by
    column name — ONE ranking job total instead of one per column (the
    gate's 3-pair profile: 6 → 4 → 1); mixed-dtype column sets fall
    back to one pass per column (stacking would cast, and a lossy cast
    can merge distinct values into one tie)."""
    if not pairs:
        raise ValueError("no column pairs")
    if dropna not in ("pairwise", "listwise"):
        raise ValueError(f"unknown dropna mode {dropna!r}")
    outs = []
    if dropna == "listwise":
        cols = sorted({c for p in pairs for c in p})
        cond = F.lit(True)
        for c in cols:
            cond = cond & F.col(c).isNotNull()
        sub = df.filter(cond).select(*cols)
        fast = _spearman_listwise_moments(
            sub, pairs, cols, round_decimals, small_cols=small_cols
        )
        if fast is not None:
            return fast
        # each column's (value → rank) map builds from the BASE frame
        # (chaining avg_ranks would make map N's count aggregate
        # re-evaluate N−1 prior joins — measured 10.8 s vs 4 s at
        # sf0.1); the maps then join onto sub once each
        ranked = sub
        dtypes = dict(df.dtypes)
        if len({dtypes[c] for c in cols}) == 1:
            # same-dtype stack: one count shuffle + one range pass ranks
            # every column; the per-column maps below are filters over
            # the one checkpointed domain table, not new jobs
            stacked = sub.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("__col"),
                                F.col(c).alias("__val"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("s")
            ).select("s.__col", "s.__val")
            vc = stacked.groupBy("__col", "__val").agg(
                F.count(F.lit(1)).alias("__cnt")
            )
            dom = _prefix_sums(
                vc, "__val", "__cnt", by="__col", pre_materialize=True
            ).select(
                "__col",
                "__val",
                (
                    F.col("__before") + (F.col("__cnt") + F.lit(1)) / F.lit(2.0)
                ).alias("__r"),
            )
            for c in cols:
                m = dom.filter(F.col("__col") == c).select(
                    F.col("__val").alias(c), F.col("__r").alias(f"__r_{c}")
                )
                ranked = ranked.join(m, c)
        else:
            for c in cols:
                vc = sub.groupBy(c).agg(F.count(F.lit(1)).alias("__cnt"))
                m = _prefix_sums(vc, c, "__cnt").select(
                    c,
                    (
                        F.col("__before")
                        + (F.col("__cnt") + F.lit(1)) / F.lit(2.0)
                    ).alias(f"__r_{c}"),
                )
                ranked = ranked.join(m, c)
        # ALL pair correlations in ONE aggregation job over the joined
        # frame (corr is algebraic — every pair's moments accumulate in
        # the same map-side pass), then the 1-row result inlines to one
        # row per pair. One consumer ⇒ no persist needed; the previous
        # per-pair agg loop paid a persist materialization plus
        # |pairs|−1 extra scans of it.
        one = ranked.agg(
            *[
                F.round(F.corr(f"__r_{x}", f"__r_{y}"), round_decimals).alias(
                    f"__c{i}"
                )
                for i, (x, y) in enumerate(pairs)
            ]
        )
        return one.select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(x).alias("col_x"),
                            F.lit(y).alias("col_y"),
                            F.col(f"__c{i}").alias("spearman"),
                        )
                        for i, (x, y) in enumerate(pairs)
                    ]
                )
            )
        )
    else:
        for x, y in pairs:
            sub = df.filter(
                F.col(x).isNotNull() & F.col(y).isNotNull()
            ).select(x, y)
            rx = avg_ranks(sub, x, out_col="__rx")
            rxy = avg_ranks(rx, y, out_col="__ry")
            outs.append(
                rxy.agg(
                    F.lit(x).alias("col_x"),
                    F.lit(y).alias("col_y"),
                    F.round(F.corr("__rx", "__ry"), round_decimals).alias(
                        "spearman"
                    ),
                )
            )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def group_percentile_rank(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str,
    out_col: str = "pct_rank",
    round_decimals: int = 6,
) -> DataFrame:
    """Within-group percentile rank (``cume_dist`` semantics: fraction
    of the group's rows with value ≤ this row's value) — the quantile
    normalization that makes per-source quality thresholds comparable
    ("keep each source's top 30%" instead of one global cutoff that a
    verbose source dominates).

    Scale: NO per-row window. One (group, value) count aggregate, an
    inclusive prefix sum over each group's VALUE DOMAIN (window
    partitioned by group over count rows), and one value-keyed join
    back — the same shape as ``inequality.gini``. Ties share the
    inclusive rank, exactly like ``cume_dist``. Nulls are dropped.
    """
    from pyspark.sql.window import Window

    base = df.filter(F.col(value_col).isNotNull())
    counts = base.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = counts.groupBy(group_col).agg(F.sum("__c").alias("__n"))
    ranked = (
        counts.withColumn("__le", F.sum("__c").over(w))
        .join(totals, group_col)
        .select(
            group_col,
            value_col,
            F.round(F.col("__le") / F.col("__n"), round_decimals).alias(
                out_col
            ),
        )
    )
    return base.join(ranked, [group_col, value_col])


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str,
    out_col: str = "qnorm",
    round_decimals: int = 6,
) -> DataFrame:
    """Quantile normalization: replace each value with the POOLED
    empirical quantile at its within-group fractional rank, so every
    group's distribution becomes (a resampling of) the pooled one —
    the batch-effect remover that makes per-source quality/length
    features comparable when sources have systematically different
    scales (microarray lineage, Bolstad 2003).

    Mapping: within group g, a value with tie-averaged rank r̄ out of
    n_g maps to fraction f = (r̄ − 1)/(n_g − 1) (singleton groups map
    to f = 0.5), and the output is the pooled DISCRETE quantile: the
    smallest pooled value whose inclusive cumulative fraction ≥ f.

    Scale: everything runs on VALUE-DOMAIN tables. Per-group ranks
    come from (group, value) counts + a group-partitioned prefix sum;
    the pooled CDF is a window over pooled DISTINCT values (the
    ks_drift grid discipline); the fraction→quantile lookup is a
    forward as-of over the UNION of the two domain tables (one
    domain-sized unpartitioned window, bounded by distinct values,
    never rows); rows join the mapping back by (group, value).
    """
    from pyspark.sql.window import Window

    base = df.filter(F.col(value_col).isNotNull())
    counts = base.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    wg = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = counts.groupBy(group_col).agg(F.sum("__c").alias("__n"))
    gv = (
        counts.withColumn(
            "__r", F.coalesce(F.sum("__c").over(wg), F.lit(0)) + (F.col("__c") + 1) / 2.0
        )
        .join(totals, group_col)
        .select(
            group_col,
            value_col,
            F.coalesce(
                F.try_divide(F.col("__r") - 1, F.col("__n") - 1), F.lit(0.5)
            ).alias("__f"),
        )
    )
    pooled = base.groupBy(value_col).agg(F.count(F.lit(1)).alias("__pc"))
    n_pool = pooled.agg(F.sum("__pc").alias("__np"))
    wp = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    pooled_cdf = (
        pooled.withColumn("__le", F.sum("__pc").over(wp))
        .join(F.broadcast(n_pool))
        .select(
            F.col(value_col).cast("double").alias("__pv"),
            (F.col("__le") / F.col("__np")).alias("__frac"),
        )
    )
    # forward as-of on the union: at each query fraction, the first
    # pooled value at-or-after it. Query rows sort BEFORE pooled rows
    # at equal fraction so an exact hit maps to itself.
    q_rows = gv.select(
        F.col("__f").alias("__frac"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast("double").alias("__pv"),
        group_col,
        value_col,
    )
    p_rows = pooled_cdf.select(
        "__frac",
        F.lit(1).alias("__tag"),
        "__pv",
        F.lit(None).alias(group_col),
        F.lit(None).cast(dict(df.dtypes)[value_col]).alias(value_col),
    )
    w_fwd = Window.orderBy("__frac", "__tag").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    mapping = (
        q_rows.unionByName(p_rows)
        .withColumn(
            "__q", F.first("__pv", ignorenulls=True).over(w_fwd)
        )
        .filter(F.col("__tag") == 0)
        .select(
            group_col,
            value_col,
            F.round("__q", round_decimals).alias(out_col),
        )
    )
    return base.join(mapping, [group_col, value_col])


def group_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: Sequence[float],
    *,
    group_col: str,
    round_decimals: int = 6,
) -> DataFrame:
    """EXACT interpolated percentiles per group WITHOUT buffering
    (``F.percentile`` materializes every value of a group in one
    aggregation buffer — the hidden OOM when a group holds billions of
    rows; ``approx_percentile`` trades exactness away). This is the
    third tier: exact values from the (group, value) COUNT table.

    Method: value v covers sorted positions [before, before+cnt−1]
    (exclusive prefix sums over each group's value domain); percentile
    p needs positions ⌊h⌋ and ⌈h⌉ with h = (n−1)·p, each resolved by a
    backward as-of against the 'before' offsets (union + one
    group-partitioned window over domain+query rows), then linear
    interpolation — identical to quantile_cont / percentile().

    Output: one row per (group, percentile): ``group, p, value``.
    """
    from pyspark.sql.window import Window

    ps = sorted(set(float(p) for p in percentiles))
    if not ps or any(not (0 <= p <= 1) for p in ps):
        raise ValueError(f"percentiles must be in [0,1]: {percentiles}")
    base = df.filter(F.col(value_col).isNotNull())
    counts = base.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    wg = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dom = counts.withColumn(
        "__before", F.coalesce(F.sum("__c").over(wg), F.lit(0))
    )
    totals = counts.groupBy(group_col).agg(F.sum("__c").alias("__n"))
    # query rows: for each (group, p) the two integer positions + frac
    pdf = totals.select(
        group_col,
        "__n",
        F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"),
    ).select(
        group_col,
        "p",
        ((F.col("__n") - 1) * F.col("p")).alias("__h"),
    )
    q = pdf.select(
        group_col,
        "p",
        "__h",
        F.explode(
            F.array_distinct(
                F.array(F.floor("__h").cast("long"), F.ceil("__h").cast("long"))
            )
        ).alias("__pos"),
    )
    # backward as-of: the domain row covering __pos is the one with the
    # greatest __before ≤ __pos (ranges partition the position space)
    d_rows = dom.select(
        group_col,
        F.col("__before").cast("long").alias("__pos"),
        F.lit(0).alias("__tag"),
        F.col(value_col).cast("double").alias("__v"),
        F.lit(None).cast("double").alias("p"),
        F.lit(None).cast("double").alias("__h"),
    )
    q_rows = q.select(
        group_col,
        "__pos",
        F.lit(1).alias("__tag"),
        F.lit(None).cast("double").alias("__v"),
        "p",
        "__h",
    )
    w_back = (
        Window.partitionBy(group_col)
        .orderBy("__pos", "__tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = (
        d_rows.unionByName(q_rows)
        .withColumn("__val", F.last("__v", ignorenulls=True).over(w_back))
        .filter(F.col("__tag") == 1)
        .select(group_col, "p", "__h", "__pos", "__val")
    )
    # one row per (group,p) when h is integral, two otherwise — fold
    # the pair back with interpolation
    agg = resolved.groupBy(group_col, "p").agg(
        F.max("__h").alias("__h"),
        F.min_by("__val", "__pos").alias("__lo"),
        F.max_by("__val", "__pos").alias("__hi"),
    )
    frac = F.col("__h") - F.floor("__h")
    return agg.select(
        group_col,
        "p",
        F.round(
            F.col("__lo") + frac * (F.col("__hi") - F.col("__lo")),
            round_decimals,
        ).alias("value"),
    )


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    percentiles: Sequence[float],
    *,
    group_col: str,
    round_decimals: int = 6,
) -> DataFrame:
    """WEIGHTED discrete percentiles per group: the smallest value
    whose cumulative WEIGHT reaches p·W — "the NLL cutoff that keeps
    the best 60% of TOKENS (not documents)", the knob a token-budgeted
    quality filter actually needs (doc-level percentiles over-weight
    short docs).

    Same count-table discipline as ``group_percentiles``: one
    (group, value) weight-sum aggregate, a group-partitioned inclusive
    prefix sum over each group's value domain, and one threshold pick
    per (group, p) — no per-row buffering, no sort of the data. Rows
    with null/non-positive weight are dropped.

    Output: one row per (group, p): ``group, p, value``.
    """
    from pyspark.sql.window import Window

    ps = sorted(set(float(p) for p in percentiles))
    if not ps or any(not (0 < p <= 1) for p in ps):
        raise ValueError(
            f"percentiles must be in (0,1] for the discrete rule: {percentiles}"
        )
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col).cast("double") > 0)
    )
    wsum = base.groupBy(group_col, value_col).agg(
        F.sum(F.col(weight_col).cast("double")).alias("__w")
    )
    wg = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = wsum.groupBy(group_col).agg(F.sum("__w").alias("__tw"))
    cum = wsum.withColumn("__cw", F.sum("__w").over(wg))
    qs = totals.select(
        group_col,
        "__tw",
        F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"),
    )
    # smallest value with cum weight >= p*W: per (group,p), min value
    # among qualifying domain rows — a join on the value-domain table
    hit = (
        qs.join(cum, group_col)
        .filter(F.col("__cw") >= F.col("p") * F.col("__tw"))
        .groupBy(group_col, "p")
        .agg(F.min(value_col).alias("value"))
    )
    return hit.select(
        group_col,
        "p",
        F.round(F.col("value").cast("double"), round_decimals).alias("value"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    round_decimals: int = 6,
    max_cells: int = 100_000,
    count_type: str = "long",
) -> DataFrame:
    """Kendall rank correlation τ-b between two columns (Kendall 1938,
    tie-corrected form) — the concordant-vs-discordant companion to the
    listwise Spearman: τ-b = (C − D) / √((n₀−T₁)(n₀−T₂)) with
    n₀ = n(n−1)/2 and T₁/T₂ the same-value pair counts in x / y.

    Scale shape: the corpus reduces to the 2-D VALUE-DOMAIN contingency
    table in one groupBy(x, y); C and D are Σ n_a·n_b over cell pairs
    with strictly ordered x — a domain² join (|x-domain|·|y-domain|
    squared PAIRS of CELLS, never of rows), intended for the
    low-cardinality numeric pairs rank correlation is asked of (the
    Spearman value-domain precedent). Everything is exact integer
    counts; the only float work is one sqrt of a product of two exact
    ≤2⁵³ integers — correctly rounded IEEE on every engine.

    Output (1 row): ``n, n_concordant, n_discordant, tie_x, tie_y,
    tau_b`` (NULL τ when either column is constant). ``max_cells``
    guards the quadratic: a near-continuous column makes the cell
    table row-sized and the pair join a disaster — fail loudly and
    tell the caller to bucket first.

    All count ARITHMETIC runs in decimal(38,0): C ≈ n²/2 passes int64
    at n ≈ 4.3e9 rows, trivially reached at corpus scale, and a long
    pipeline would die mid-aggregate under ANSI (r13 overflow review).
    ``count_type`` sets the OUTPUT type of the pair/tie counts:
    ``'long'`` (default — raises loudly on a genuine int64 overflow,
    the right readout at oracle-able scales) or ``'decimal'``
    (decimal(38,0), exact to 1e38 — the 1e12-row mode; τ itself is a
    double either way).
    """
    if count_type not in ("long", "decimal"):
        raise ValueError(
            f"kendall_tau_b: count_type must be 'long' or 'decimal', "
            f"got {count_type!r}"
        )
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    from weaviate_txtai_spark.cache import scoped_persist

    # probe before fill: the bounded probe runs on the un-persisted
    # aggregate (a probe on a lazy cache fills it), so an over-limit
    # input raises without caching the oversized table
    n_cells = cells.limit(int(max_cells) + 1).count()
    if n_cells > max_cells:
        raise ValueError(
            f"kendall_tau_b: > {max_cells} distinct (x, y) cells — the "
            f"cell-pair join is quadratic in the value domain; bucket "
            f"or quantize the columns first"
        )
    cells = scoped_persist(cells, eager=True)  # fill before fan-out
    a = cells.select(
        F.col("__x").alias("xa"), F.col("__y").alias("ya"),
        F.col("__c").alias("ca"),
    )
    b = cells.select(
        F.col("__x").alias("xb"), F.col("__y").alias("yb"),
        F.col("__c").alias("cb"),
    )
    # coalesce(0): a constant-x input empties the cell-pair join, and a
    # sum over zero rows is NULL — the counts must come back 0 (tau_b
    # itself is NULL then, via try_divide's 0 denominator)
    # decimal(19,0) factors -> decimal(38,0) products/sums: exact to
    # 1e38 where long products die at 9.2e18 (ca·cb > int64 the moment
    # two cells each hold >3e9 rows)
    d19 = "decimal(19,0)"
    ca_d, cb_d = F.col("ca").cast(d19), F.col("cb").cast(d19)
    zero38 = F.lit(0).cast("decimal(38,0)")
    pairs = a.join(b, F.col("xa") < F.col("xb")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("ya") < F.col("yb"), ca_d * cb_d)
                .otherwise(zero38)
            ),
            zero38,
        ).alias("__C"),
        F.coalesce(
            F.sum(
                F.when(F.col("ya") > F.col("yb"), ca_d * cb_d)
                .otherwise(zero38)
            ),
            zero38,
        ).alias("__D"),
    )
    def _choose2(c):
        # c·(c−1)/2 without decimal DIVISION (Spark types decimal/int
        # as (38,6), capping exactness at 1e32 — r13 review): halve the
        # EVEN factor via shiftright (exact long, unlike `/2` which
        # routes through double and drops bits past 2^53), then one
        # decimal(38,0) product
        cl = F.col(c)
        return F.when(
            cl % 2 == 0,
            F.shiftright(cl, 1).cast(d19) * (cl.cast(d19) - 1),
        ).otherwise(cl.cast(d19) * F.shiftright(cl - 1, 1).cast(d19))

    xm = cells.groupBy("__x").agg(F.sum("__c").alias("__cx")).agg(
        F.coalesce(F.sum(_choose2("__cx")), zero38).alias("__t1x")
    )
    ym = cells.groupBy("__y").agg(F.sum("__c").alias("__cy")).agg(
        F.coalesce(F.sum(_choose2("__cy")), zero38).alias("__t1y")
    )
    tot = cells.agg(F.sum("__c").cast("long").alias("__n"))
    joined = pairs.join(F.broadcast(xm)).join(F.broadcast(ym)).join(
        F.broadcast(tot)
    )
    nl = F.col("__n")
    n0 = F.when(  # n·(n−1)/2, same even-factor halving, (38,0)-exact
        nl % 2 == 0, F.shiftright(nl, 1).cast(d19) * (nl.cast(d19) - 1)
    ).otherwise(nl.cast(d19) * F.shiftright(nl - 1, 1).cast(d19))
    tau = F.round(
        F.try_divide(
            (F.col("__C") - F.col("__D")).cast("double"),
            F.sqrt(
                (n0 - F.col("__t1x")).cast("double")
                * (n0 - F.col("__t1y")).cast("double")
            ),
        ),
        round_decimals,
    )
    ct = "decimal(38,0)" if count_type == "decimal" else "long"
    return joined.select(
        F.col("__n").alias("n"),
        F.col("__C").cast(ct).alias("n_concordant"),
        F.col("__D").cast(ct).alias("n_discordant"),
        F.col("__t1x").cast(ct).alias("tie_x"),
        F.col("__t1y").cast(ct).alias("tie_y"),
        tau.alias("tau_b"),
    )
