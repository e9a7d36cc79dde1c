"""Vector column expressions — native Catalyst, no Python UDFs.

These are the engine's scoring kernel (reference Q1/Q2: cosine top-k search
and score normalization, ``/root/reference/weaviate_txtai/ann/weaviate.py:
17-20,175-201``). Everything here is a pure Column expression built from
``F.zip_with`` / ``F.aggregate`` higher-order functions: JVM-side with no
Python boundary and no Arrow transfer — but NOTE that Spark evaluates
HOF lambdas INTERPRETED, outside whole-stage codegen, so each fold step
costs an expression-tree walk (measured ~10× vs the Arrow GEMM kernels
on O(pairs) frames — NOTES.md r4). That is fine here: these exprs serve
single-/few-query scans and oracle twins. All arithmetic is promoted to
double so results match a double-precision oracle (DuckDB
``list_cosine_similarity``) to ~1e-16.

For anything pair-heavy the Arrow kernels are the production path and
exist for every tier: ``operators/topk.py`` ``knn_topk_gemm`` (batch
kNN), the cogrouped scorers in ``operators/ann.py``/``ivfpq.py``, the
per-batch gather kernel in ``operators/pq.py``, and the exact re-rank
kernel ``topk.exact_dist`` behind every shortlist search; these exprs
remain the canonical, oracle-matching definition. ``exact_dist``
reproduces the squared-L2 fold and :func:`cosine_sim` bit for bit: it
sums over the dimensions in the same left-to-right order from 0.0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = "Column | str"


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def dot(a, b) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double."""
    a, b = _c(a), _c(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> Column:
    """Euclidean norm of an array column."""
    return F.sqrt(dot(a, a))


def l2_dist(a, b) -> Column:
    """Euclidean distance between two array columns."""
    a, b = _c(a), _c(b)
    diff_sq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a, b) -> Column:
    """Cosine similarity in [-1, 1].

    The only metric the reference backend accepts
    (weaviate.py:101-104); txtai reports similarity = 1 - distance.
    """
    a, b = _c(a), _c(b)
    # zero-norm guard: ANSI mode (Spark 4 default) turns x/0 into a job-
    # killing DIVIDE_BY_ZERO; a zero vector (e.g. HashingEncoder on an
    # empty document) scores 0 against everything instead
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_dist(a, b) -> Column:
    """Cosine distance = 1 - cosine similarity (Weaviate's convention)."""
    return F.lit(1.0) - cosine_sim(a, b)


def normalize_cosine_distance(d) -> Column:
    """Map cosine distance back to txtai similarity: ``1 - d``.

    Parity with the reference's only pure function
    (``normalize_cosine_distance``, weaviate.py:17-20; unit test
    tests/ann/test_weaviate.py:249-251).
    """
    return F.lit(1.0) - _c(d)


def normalize_vec(a) -> Column:
    """L2-normalize an array column (returns array<double>).

    Pre-normalizing the stored vectors turns cosine into a plain dot
    product at query time — the standard trick for large-scale cosine
    search; ``VectorIndex`` stores vectors as-is and normalizes lazily.
    """
    a = _c(a)
    n = l2_norm(a)
    safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)  # zero vec stays zeros
    return F.transform(a, lambda x: x.cast("double") / safe)


def int8_quantize(a) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round(127·x_i / max|x|)
    (all zeros for a zero vector). Returns ``array<bigint>`` in [-127, 127].

    The memory-scale path for vector search: an int8 index is 4× smaller
    than float32 ((dim + 4) bytes/vector with the scale), so 4× more of
    the corpus fits per executor and scan cost drops proportionally —
    the same trade every production ANN store (FAISS SQ8) makes. Exact
    reconstruction: x ≈ q · max|x| / 127, error ≤ max|x|/254 per
    component. Pure native exprs (transform/aggregate) — codegen, no
    Python. Oracle-checkable because round-half-away-from-zero agrees
    between Spark and DuckDB and the accumulation is order-identical.

    The zero-branch keys on the SCALE (max|x|/127) underflowing to 0.0,
    not on max|x| == 0: for denormal inputs (max|x| < ~6.3e-322) the
    scale is exactly 0.0, and emitting nonzero codes with a zero scale
    would break reconstruction. Such vectors quantize to all-zeros with
    scale 0 (reconstruction error < 2^-1070 — below any metric's noise
    floor). For any normally-ranged input the branch is identical to
    the max|x| == 0 test, so oracles are unaffected.
    """
    a = _c(a)
    ma = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    sc = ma / F.lit(127.0)
    return F.transform(
        a,
        lambda x: F.when(sc == 0.0, F.lit(0).cast("bigint")).otherwise(
            F.round(F.lit(127.0) * x.cast("double") / ma).cast("bigint")
        ),
    )


def int8_scale(a) -> Column:
    """Dequantization scale for ``int8_quantize``: max|x| / 127 (0.0 for a
    zero vector); x_i ≈ q_i · scale."""
    a = _c(a)
    ma = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    return ma / F.lit(127.0)


def sign_pack(a, *, word_bits: int = 32) -> Column:
    """Binary (sign) quantization: bit j of word w is 1 iff
    ``x[w·word_bits + j] > 0`` (ties at exactly 0.0 pack as 0).
    Returns ``array<bigint>`` of ceil(dim / word_bits) words — the
    COARSEST memory tier of the quantization ladder (1 bit/dim: 256×
    smaller than float32, 32× smaller than the int8 SQ tier, the
    standard "binary hashing" trade; Hamming distance between sign
    patterns approximates angular distance for roughly-centered data).

    ``word_bits=32`` (default ≤ 62) keeps every packed word positive
    and exactly representable through a double — the same 2^53-safe
    discipline as ``pq_encode`` — so the packing replays verbatim in
    a DuckDB oracle with no sign-bit edge cases.

    Encode-time expression (higher-order fold — interpreted, but run
    once per ingest like ``int8_quantize``); the HOT path is
    :func:`hamming_dist`, whose per-word kernel (xor + bit_count) is
    a JVM intrinsic.
    """
    if not 1 <= word_bits <= 62:
        raise ValueError("sign_pack: word_bits must be in [1, 62]")
    a = _c(a)
    nwords = F.ceil(F.size(a) / F.lit(word_bits)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nwords - 1),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(word_bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                (w * word_bits + j < F.size(a))
                & (F.element_at(a, (w * word_bits + j + 1).cast("int"))
                   .cast("double") > 0.0),
                F.pow(F.lit(2.0), j.cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def hamming_dist(a, b) -> Column:
    """Hamming distance between two packed sign codes
    (``array<bigint>`` of equal length): sum over words of
    ``bit_count(a XOR b)``. The per-word kernel is a JVM intrinsic
    (popcount); only the length-nwords fold wraps it — for any real
    dim that is a handful of words, so the scan stays cheap even
    where higher-order folds evaluate interpreted."""
    return F.aggregate(
        F.zip_with(
            _c(a), _c(b), lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )
