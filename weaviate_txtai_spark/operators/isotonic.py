"""Isotonic regression (pool-adjacent-violators) over a bucketed domain.

The calibration fit (Zadrozny & Elkan 2002; Barlow et al. 1972) that
turns a monotone-ish score→outcome relation into a provably monotone
step function — the non-parametric alternative to the Platt/logistic
calibrators, and the standard way to calibrate a learned quality
classifier's scores before thresholding a 100 TB corpus on them.

Instead of the sequential PAV stack (inherently serial), this uses the
closed-form minimax characterization of the isotonic solution

    fit(x_i) = max_{j ≤ i} min_{k ≥ j} mean(y over buckets j..k)

which is embarrassingly parallel over the BUCKET domain: after one
groupBy(x) the corpus is reduced to B = |distinct x| rows, and the
max-min evaluates as two B×B range self-joins (prefix sums give every
interval mean in O(1)). B is domain-bounded by construction — the
caller buckets continuous scores first — so the quadratic stays tiny
while the corpus-sized stage remains a single aggregate. No
unpartitioned window anywhere.

Cross-engine determinism: with integer-valued y (the 0/1 calibration
case) every interval mean is an exact-integer ratio, so the doubles
compared by min/max are identical on both engines and the fit needs no
rounding discipline at all; ``round_decimals`` still rounds the output
for general float y.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weaviate_txtai_spark.cache import scoped_persist


def isotonic_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    round_decimals: int = 6,
    max_buckets: int = 100_000,
) -> DataFrame:
    """Monotone (non-decreasing) least-squares fit of mean-``y_col``
    as a function of ``x_col``.

    Output: one row per distinct x — ``x_col, n, y_mean, y_iso`` with
    ``y_iso`` the isotonic fit (weighted by bucket size, as PAV
    requires). NULL x or y rows are excluded.

    ``max_buckets`` guards the B² range self-joins against a mis-called
    CONTINUOUS x (the kendall/cliffs_delta cardinality-guard
    discipline): a raw-score x makes B ≈ corpus and the quadratic
    explodes — bucket the scores first. The probe is a bounded
    ``limit(cap+1)`` count on the aggregated bucket table, run before
    that table is cached.
    """
    b = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"))
        .agg(
            F.sum(F.col(y_col).cast("double")).alias("sy"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
    )
    # probe before fill: the bounded probe runs on the un-persisted
    # aggregate (a probe on a lazy cache fills it), so an over-limit
    # input raises without caching the oversized table
    if b.limit(max_buckets + 1).count() > max_buckets:
        raise ValueError(
            f"isotonic_fit: more than {max_buckets} distinct x values — "
            "the B^2 isotonic evaluation needs a bucketed domain; "
            "quantize x first (e.g. functions.sampling.quantile_buckets)"
        )
    # eager: fill before the B^2 self-join consumers fan out
    b = scoped_persist(b, eager=True)
    # inclusive prefix sums via a range self-join (B² pairs, B =
    # bucket-domain size); exclusive = inclusive − own bucket
    l, r = b.alias("l"), b.alias("r")
    pref = scoped_persist(
        l.join(r, F.col("l.x") >= F.col("r.x"))
        .groupBy(F.col("l.x").alias("x"))
        .agg(
            F.sum("r.sy").alias("s_incl"),
            F.sum("r.n").alias("n_incl"),
        )
        .join(b, "x")
        .select(
            "x", "sy", "n", "s_incl", "n_incl",
            (F.col("s_incl") - F.col("sy")).alias("s_excl"),
            (F.col("n_incl") - F.col("n")).alias("n_excl"),
        ),
        eager=True,  # r14: fill before the consumer fan-out
    )
    j = pref.select(
        F.col("x").alias("xj"),
        F.col("s_excl").alias("sj"),
        F.col("n_excl").alias("nj"),
    )
    k = pref.select(
        F.col("x").alias("xk"),
        F.col("s_incl").alias("sk"),
        F.col("n_incl").alias("nk"),
    )
    # m_j = min over k>=j of mean(y over buckets j..k)
    m = (
        j.join(k, F.col("xj") <= F.col("xk"))
        .select(
            "xj",
            (
                (F.col("sk") - F.col("sj"))
                / (F.col("nk") - F.col("nj"))
            ).alias("__avg"),
        )
        .groupBy("xj")
        .agg(F.min("__avg").alias("mj"))
    )
    # fit_i = max over j<=i of m_j
    fit = (
        pref.select(F.col("x"))
        .join(m, F.col("xj") <= F.col("x"))
        .groupBy("x")
        .agg(F.max("mj").alias("__fit"))
    )
    return (
        b.join(fit, "x")
        .select(
            F.col("x").alias(x_col),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sy") / F.col("n"), round_decimals).alias(
                "y_mean"
            ),
            F.round(F.col("__fit"), round_decimals).alias("y_iso"),
        )
    )
