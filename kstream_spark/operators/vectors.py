"""Embedding-vector transforms for similarity / retrieval pipelines.

L2 normalization (cosine becomes a plain dot product downstream) and
symmetric int8 quantization (4x memory + bandwidth reduction for ANN at
100 TB — the standard first compression step before IVF/PQ indexing).

Everything stays inside whole-stage codegen: higher-order array functions
(`transform` / `aggregate`) over the embedding column — no UDF, no shuffle,
no explode.  Values are rounded where emitted so results are engine-exact
(the [[oracle-parity]] discipline: IEEE sqrt/divide of identical inputs is
bit-identical; rounding kills fold-order noise in the sums).

No reference analog: tryfix/kstream carries opaque bytes and leaves all
math to user callbacks (kstream/encoding/encoder.go:10-15); this module is
part of the training-data capability superset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sq_sum(vec: Column) -> Column:
    return F.aggregate(vec, F.lit(0.0),
                       lambda a, x: a + x.cast("double") * x.cast("double"))


def l2_normalize(df: DataFrame, vec_col: str, out_col: str = "unit",
                 norm_col: str = "norm") -> DataFrame:
    """Attach the L2 norm (rounded 6) and the unit vector (components
    rounded 6).  Zero vectors normalize to zeros, not NaN."""
    vec = F.col(vec_col)
    # materialize the norm BEFORE the per-component lambda references it:
    # an outer aggregate referenced inside a higher-order lambda is
    # re-evaluated per element (O(dim^2) folds per vector; 3.3x measured
    # at dim 64 — same hazard as operators/dedup.py winnow_pairs)
    df = df.withColumn(norm_col, F.round(F.sqrt(_sq_sum(vec)), 6))
    norm = F.col(norm_col)
    unit = F.when(norm > 0,
                  F.transform(vec, lambda x: F.round(x.cast("double") / norm, 6))
                  ).otherwise(F.transform(vec, lambda x: F.lit(0.0)))
    return df.withColumn(out_col, unit)


def quantize_int8(df: DataFrame, vec_col: str, scale_col: str = "scale",
                  out_col: str = "qvec") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127
    (rounded 9 so every engine divides by the identical double), component
    q = round(x / scale) in [-127, 127].  Zero vectors get scale 0 and an
    all-zero code.  Dequantize with q * scale; cosine on dequantized
    vectors tracks exact cosine to ~1e-2 at dim 64 (tests assert this).
    """
    vec = F.col(vec_col)
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    # materialized before the lambda references it — see l2_normalize
    df = df.withColumn(scale_col, F.round(maxabs / 127.0, 9))
    scale = F.col(scale_col)
    qvec = F.when(scale > 0,
                  F.transform(vec, lambda x: F.round(x.cast("double") /
                                                     scale, 0).cast("long"))
                  ).otherwise(F.transform(vec, lambda x: F.lit(0).cast("long")))
    return df.withColumn(out_col, qvec)


def dequantize(qvec: Column, scale: Column) -> Column:
    """Inverse of quantize_int8 (lossy): component x ~= q * scale."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def rp_sign_matrix(in_dim: int, out_dim: int,
                   seed: str = "rp") -> list[list[int]]:
    """Deterministic Rademacher (+-1) projection matrix derived from md5
    parity of (seed, out_row, in_dim_index) — the Achlioptas'01 database-
    friendly JL construction with every entry reproducible by ANY engine
    that can hash a string, so a SQL oracle can embed the identical
    literals.  No RNG state: the matrix is a pure function of the seed."""
    import hashlib

    def sign(j: int, d: int) -> int:
        h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
        return 1 if int(h[:8], 16) % 2 == 0 else -1

    return [[sign(j, d) for d in range(in_dim)] for j in range(out_dim)]


def random_projection(df: DataFrame, vec_col: str, in_dim: int,
                      out_dim: int = 16, seed: str = "rp",
                      out_col: str = "rp") -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims: each
    output component is sign-flipped sum of the input components
    (Rademacher rows from ``rp_sign_matrix``) scaled by 1/sqrt(out_dim),
    rounded 6.  The workhorse dimensionality reduction BEFORE expensive
    ANN indexing at 100 TB: a 64->16 projection cuts every downstream
    dot product 4x while approximately preserving inner products (JL).

    Plan shape: the matrix rides as ONE nested array Literal and each
    output component is a zip_with-product left fold over it — a
    constant-size expression tree, zero shuffle, zero UDF, zero driver
    traffic.  (The unrolled per-term add/subtract chain form blows the
    generated-method size limit at 16x64 terms — Janino
    InternalCompilerException, interpreted fallback — the same hazard
    nearest_cell documents; the literal-matrix fold stays inside
    the normal expression evaluator.)  [[oracle-parity]]: x*(+-1.0) is an
    exact sign flip and the 0.0-seeded left fold in input order equals a
    left-associated add/subtract chain, so any engine replaying that
    chain over the same doubles produces bit-identical sums.  Prefer
    out_dim a power of 4 (16, 64): 1/sqrt(out_dim) is then a negative
    power of two and the scaling is EXACT (no rounding error enters
    before the final round-6).

    No reference analog (tryfix/kstream carries opaque byte payloads);
    part of the training-data capability superset.
    """
    signs = rp_sign_matrix(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    from kstream_spark.functions.vectors import lit_double_matrix
    smat = lit_double_matrix(signs)
    vec = F.col(vec_col).cast("array<double>")
    rp = F.transform(
        smat,
        # + 0.0 normalizes IEEE signed zero: a tiny negative sum rounds to
        # -0.0 under engines that round in binary (DuckDB) but to +0.0
        # under Spark's BigDecimal HALF_UP — numerically equal, hash-
        # DIFFERENT once formatted ("-0" vs "0"); x + 0.0 maps -0.0 -> 0.0
        # and is the identity everywhere else (measured: 1 component in
        # 320k at sf1)
        lambda srow: F.round(
            F.aggregate(F.zip_with(vec, srow, lambda x, s: x * s),
                        F.lit(0.0), lambda a, x: a + x) * F.lit(scale), 6)
        + F.lit(0.0))
    return df.withColumn(out_col, rp)
