"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, O(|Q|·|N|), fine when the query
set is small and broadcastable (the common "find neighbors for this batch"
shape).  Scale path: random-hyperplane LSH bucketing — candidates meet only
inside a bucket, turning the |N|² all-pairs search into sum-of-bucket²; an
IVF-style coarse quantizer is the same pattern with learned centroids.

Similarities are rounded in-query and ranked on the ROUNDED value with id
tie-breaks, so results are deterministic across engines (oracle parity).

Vector quantization has one definition per step, and every searcher, both
arms of each trainer and ``streaming/ann`` call it.  The rule they share:
round-6 HALF_UP, lowest-index ties, contiguous subspaces.

* ``round6`` — binary round-6 for per-row numpy paths
  (``np_round6_half_up`` is the exact decimal form for driver-bounded
  matrices);
* ``functions/vectors.nearest_cell`` — nearest-centroid assignment as a
  literal projection;
* ``pq_codes`` — PQ subspace assignment; ``_encode`` is the one
  ``mapInPandas`` encoder around it (carries ``cell_id``, subtracts the
  cell centroid in residual mode);
* ``adc_tables`` — per-query ADC distance tables; ``_adc_topk`` is the one
  ADC scorer (m ``element_at`` lookups + ``_per_query_topk``);
* ``probe_cells`` — driver-side probe ranking, (cos DESC, cell ASC);
  ``fold_norm`` is the JVM/oracle fold-order query norm;
* ``kmeans_partials`` / ``pq_partials`` — the Lloyd assign-and-partial-sum
  kernels, run by the local training arm on the whole matrix and by the
  distributed arm per Arrow batch; ``_lloyd_reduce`` sums the partials;
* ``_sq8_dequantized`` — SQ8 quantize + dequantize.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level so pandas_udf string type hints resolve

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from kstream_spark.functions.vectors import (as_double, dot, lit_doubles,
                                             nearest_cell, norm)
from kstream_spark.util import fits_driver, local_df


def cosine_topk(emb: DataFrame, id_col: str, vec_col: str,
                query_ids: list | None = None, queries: DataFrame | None = None,
                k: int = 10) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    Returns (query_id, neighbor_id, cos, rank).  The query side is broadcast:
    the corpus side streams through one scan, no shuffle of the corpus, and
    the rank goes through the narrow per-partition top-k (_per_query_topk)
    so no reducer ever sorts a corpus-sized slice.  Still O(|Q|*|N|)
    scoring by design — this is the exact baseline; the scale paths are
    the LSH/IVF/PQ candidate generators.
    """
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    if queries is None:
        queries = emb.filter(F.col(id_col).isin(query_ids))
    # norms precomputed per vector (identical doubles, computed once) so the
    # |Q| x |N| scoring join folds ONE dot product per pair, not three
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   as_double(F.col(vec_col)).alias("qv"))
                    .withColumn("qn", norm(F.col("qv"))))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv")))
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(dot(F.col("qv"), F.col("nv"))
                        / (F.col("qn") * F.col("nn")), 6).alias("cos"))
    )
    return _per_query_topk(scored, k, score_col="cos", asc=False)


def cosine_pairs(emb: DataFrame, id_col: str, vec_col: str,
                 threshold: float = 0.9,
                 n_blocks: int | None = None) -> DataFrame:
    """All pairs with cosine >= threshold (brute force; use lsh_cosine_pairs
    at corpus scale).  Returns (id_a, id_b, cos).

    Blocked upper-triangle tiles: each vector hashes into one of B blocks,
    replicates to its B tiles (tile (i, j), i<=j, holds blocks i and j),
    and each tile scores as ONE ``(rows x dim) @ (dim x rows)`` numpy
    matmul inside applyInPandas.  An unordered pair meets in exactly one
    tile (the sorted block-id pair), so no trailing distinct.  A per-pair
    ``F.aggregate(F.zip_with(...))`` scorer would be an INTERPRETED
    higher-order function (no codegen), so millions of pairs would pay
    per-element lambda dispatch — the matmul replaces ~n²·dim interpreted
    lambdas with BLAS (sf1 standalone: 37.7s -> well under the oracle).
    Shuffle volume is B x corpus (the standard blocked all-pairs shape);
    task memory is one tile's sim matrix.

    Block count: tiles should be big enough to amortize Arrow/task
    overhead but bounded in memory — target ~4k rows per block (a tile's
    sim matrix is then <=(8k)² doubles ~ 0.5 GB peak per task worst-case,
    typically (4k)² ~ 128 MB).  Estimated from Catalyst size stats when
    not given; the estimate only affects performance, never results.

    Rounding parity: norms come from the JVM ``norm()`` doubles, and
    similarities round HALF_UP to 6 dp exactly as the lsh_cosine_pairs
    bucket verify does (oracle-proven discipline).  Zero-norm vectors
    pair with nothing, as in the SQL oracle.
    """
    from kstream_spark.util import ensure_parallelism, plan_size_bytes

    emb = ensure_parallelism(emb)
    if n_blocks is None:
        size = plan_size_bytes(emb)
        dim_probe = (emb.select(F.size(vec_col).alias("d")).first()
                     if size is not None else None)
        if size is None or dim_probe is None:   # no stats / empty input
            n_blocks = 16
        else:
            row_bytes = max(1, (dim_probe["d"] or 0) * 5 + 16)
            est_rows = size // row_bytes
            n_blocks = int(min(256, max(4, -(-est_rows // 4096))))
    B = int(n_blocks)
    thr = float(threshold)
    id_dt = emb.schema[id_col].dataType.simpleString()

    base = emb.select(F.col(id_col).alias("_id"),
                      as_double(F.col(vec_col)).alias("_v")) \
        .withColumn("_n", norm(F.col("_v"))) \
        .withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(B)))
    # vector in block i joins tiles {(min(i,j), max(i,j)) : j in 0..B-1}
    tiles = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda j: F.struct(F.least(F.col("_blk"), j).alias("ta"),
                           F.greatest(F.col("_blk"), j).alias("tb")))
    member = base.select("_id", "_v", "_n", "_blk",
                         F.explode(tiles).alias("_t")) \
        .select("_id", "_v", "_n", "_blk",
                F.col("_t.ta").alias("ta"), F.col("_t.tb").alias("tb"))

    def tile_pairs(key, pdf):
        ta, tb = key
        empty = pd.DataFrame(dict(id_a=np.empty(0, dtype=object),
                                  id_b=np.empty(0, dtype=object),
                                  cos=np.empty(0, dtype=np.float64)))
        blk = pdf["_blk"].to_numpy()
        if ta == tb:
            if len(pdf) < 2:
                return empty
            # within-block triangle, ids sorted so id_a < id_b by position
            order = np.argsort(pdf["_id"].to_numpy())
            ids = pdf["_id"].to_numpy(dtype=object)[order]
            mat = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
            nr = pdf["_n"].to_numpy()[order]
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = (mat @ mat.T) / np.outer(nr, nr)
            # zero-norm vectors divide to inf/nan — mask to -inf so they
            # never pass
            raw[~np.isfinite(raw)] = -np.inf
            sims = round6(raw)
            iu, ju = np.triu_indices(len(ids), k=1)
            m = sims[iu, ju] >= thr
            return pd.DataFrame({"id_a": ids[iu[m]], "id_b": ids[ju[m]],
                                 "cos": sims[iu[m], ju[m]]})
        am, bm = blk == ta, blk == tb
        if not am.any() or not bm.any():
            return empty
        ids_a = pdf["_id"].to_numpy(dtype=object)[am]
        ids_b = pdf["_id"].to_numpy(dtype=object)[bm]
        ma = np.vstack(pdf["_v"].to_numpy()[am]).astype(np.float64)
        mb = np.vstack(pdf["_v"].to_numpy()[bm]).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = (ma @ mb.T) / np.outer(pdf["_n"].to_numpy()[am],
                                         pdf["_n"].to_numpy()[bm])
        raw[~np.isfinite(raw)] = -np.inf
        sims = round6(raw)
        ii, jj = np.nonzero(sims >= thr)
        if not len(ii):
            return empty
        # orient survivors only (id_a < id_b by value): post-threshold the
        # survivor count is small, so Python-level compares are cheap
        xa, xb = ids_a[ii], ids_b[jj]
        swap = np.array([a > b for a, b in zip(xa, xb)], dtype=bool)
        return pd.DataFrame({
            "id_a": np.where(swap, xb, xa),
            "id_b": np.where(swap, xa, xb),
            "cos": sims[ii, jj]})

    return (member.groupBy("ta", "tb")
            .applyInPandas(tile_pairs,
                           f"id_a {id_dt}, id_b {id_dt}, cos double"))


def hard_negatives(emb: DataFrame, id_col: str, vec_col: str,
                   label_col: str, query_ids: list, k: int = 10) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the top-k most SIMILAR vectors carrying a DIFFERENT
    label — the negatives closest to the decision boundary, which is what
    contrastive losses want in the batch (random negatives are too easy).

    Same scale shape as cosine_topk: the query side broadcasts, the corpus
    streams through one scan with no shuffle, and the label exclusion is a
    join predicate so Catalyst folds it into the broadcast probe.  Returns
    (query_id, neg_id, cos, rank).  At corpus scale swap the scoring join
    for the IVF/LSH candidate generators (same composition as the dedup
    family) — this exact ranker is then the per-candidate verify.
    """
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    q = F.broadcast(
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"),
                as_double(F.col(vec_col)).alias("qv"),
                F.col(label_col).alias("_qlab"))
        .withColumn("qn", norm(F.col("qv"))))
    c = emb.select(F.col(id_col).alias("neg_id"),
                   as_double(F.col(vec_col)).alias("nv"),
                   F.col(label_col).alias("_nlab")) \
        .withColumn("nn", norm(F.col("nv")))
    scored = (
        q.join(c, (F.col("query_id") != F.col("neg_id"))
               & (F.col("_qlab") != F.col("_nlab")))
        .select("query_id", "neg_id",
                F.round(dot(F.col("qv"), F.col("nv"))
                        / (F.col("qn") * F.col("nn")), 6).alias("cos")))
    return _per_query_topk(scored, k, score_col="cos", id_col="neg_id",
                           asc=False)


def np_round6_half_up(a):
    """Round to 6 dp HALF_UP (half away from zero) — the convention of
    Spark's ``F.round`` and DuckDB's ``round()``.  numpy's ``np.round`` is
    half-to-EVEN, so a cosine landing on a representable .5e-6 boundary
    inside a numpy verify pass could flip a ``>= threshold`` gate relative
    to the SQL oracle; routing every numpy-side round through this helper
    keeps ONE rounding discipline across the Spark, numpy, and oracle
    paths.  (float summation order can still differ in the last ulp
    between engines — rounding to 6 dp is what absorbs that, and it only
    absorbs it if all engines round the same way.)

    Exactness: Spark's F.round goes through BigDecimal.valueOf(double) —
    the SHORTEST DECIMAL REPR of the double, then decimal HALF_UP — and
    DuckDB agrees; the binary shortcut floor(|x|*1e6 + 0.5) does NOT when
    x's shortest repr lands exactly on a .5e-6 boundary but |x|*1e6
    accumulates below it (e.g. 0.2030395*1e6 = 203039.49999...: decimal
    HALF_UP says 0.20304, the shortcut said 0.203039 — caught by the MMR
    oracle, round 7).  Python's repr is the same shortest-repr algorithm,
    so Decimal(repr(x)) reproduces the JVM/DuckDB result bit-for-bit.
    This helper only ever runs on DRIVER-BOUNDED arrays (k*dim centroid /
    m*k codebook matrices, per-step MMR scores), so per-element Decimal
    cost is irrelevant; the per-row Arrow paths keep the binary round
    (``round6``), where 7 rounds of oracle evidence show the boundary case
    does not arise for raw similarity values."""
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal("0.000001")
    arr = np.asarray(a, dtype=np.float64)
    out = np.array([float(Decimal(repr(float(x))).quantize(
        q, rounding=ROUND_HALF_UP)) for x in arr.ravel()],
        dtype=np.float64).reshape(arr.shape)
    return out if arr.shape else np.float64(out)


def round6(x):
    """Binary round-6 HALF_UP, ``floor(|x|*1e6 + 0.5)/1e6`` with x's sign
    — the per-row numpy rounding (see np_round6_half_up for why the
    per-row paths keep the binary form).  Works on scalars and arrays;
    +-inf stay +-inf."""
    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)


def pq_codes(mat, books):
    """PQ codes of the rows of ``mat``: the vector splits into
    ``len(books)`` contiguous subspaces, and code j is the index of the
    codeword of ``books[j]`` (a (k, sub) array) at the lowest round-6
    squared distance, lowest index on ties (ORDER BY dist ASC, code ASC).
    Returns an (n, m) int array."""
    sub = books[0].shape[1]
    return np.stack([
        np.argmin(round6(((mat[:, j * sub:(j + 1) * sub][:, None, :]
                           - cb[None, :, :]) ** 2).sum(-1)), axis=1)
        for j, cb in enumerate(books)], axis=1)


def adc_tables(qv, books) -> list:
    """A query's ADC distance tables: for each subspace j, the round-6
    squared distance from qv's j-th subvector to every codeword of
    ``books[j]``.  Returns m lists of k floats."""
    sub = books[0].shape[1]
    return [[float(d) for d in round6(
                ((cb - qv[j * sub:(j + 1) * sub][None, :]) ** 2).sum(-1))]
            for j, cb in enumerate(books)]


def fold_norm(qv) -> float:
    """L2 norm with the squares added left to right — the summation order
    of the JVM ``norm()`` fold and the oracle's ``list_sum``; numpy's
    pairwise sum can differ in the last ulp."""
    acc = 0.0
    for x in qv:
        acc += float(x) * float(x)
    return float(np.sqrt(acc))


def probe_cells(qv, cents, n_probe: int, qnorm: float | None = None) -> list:
    """The ``n_probe`` cells a query probes: round-6 cosine of ``qv``
    against every row of ``cents``, ordered (cos DESC, cell ASC).
    ``qnorm`` is the query norm; None means numpy's
    ``sqrt(sum(qv ** 2))``."""
    cnorm = np.sqrt((cents ** 2).sum(-1))
    if qnorm is None:
        qnorm = float(np.sqrt((qv ** 2).sum()))
    cos = round6((cents @ qv) / (cnorm * qnorm))
    return [int(c) for c in np.lexsort((np.arange(len(cos)), -cos))[:n_probe]]


def kmeans_partials(mat, cents) -> dict:
    """One Lloyd step of ``kmeans_centroids`` over a block of rows: each
    row goes to the centroid of highest cosine, rounded with ``np.round``
    to 6 dp before the argmax (first maximum, so ties go to the lowest
    cell), and the block emits one (cell, n, s) row per cell it touched,
    s being the component sum of the raw rows."""
    normed = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                              1e-12)
    cells = np.argmax(np.round(normed @ cents.T, 6), axis=1)
    out = {"cell": [], "n": [], "s": []}
    for cell in np.unique(cells):
        sel = mat[cells == cell]
        out["cell"].append(int(cell))
        out["n"].append(int(sel.shape[0]))
        out["s"].append(sel.sum(axis=0).tolist())
    return out


def pq_partials(mat, books) -> dict:
    """One Lloyd step of ``pq_codebooks`` over a block of rows: assign
    every subvector with ``pq_codes`` and emit one (j, code, n, s) row per
    (subspace, codeword) touched, s being the subvector component sum."""
    sub = books[0].shape[1]
    codes = pq_codes(mat, books)
    out = {"j": [], "code": [], "n": [], "s": []}
    for j in range(len(books)):
        x = mat[:, j * sub:(j + 1) * sub]
        for c in np.unique(codes[:, j]):
            sel = x[codes[:, j] == c]
            out["j"].append(j)
            out["code"].append(int(c))
            out["n"].append(int(sel.shape[0]))
            out["s"].append(sel.sum(axis=0).tolist())
    return out


def md5_plane_matrix(dim: int, nbits: int, seed: int = 42):
    """Engine-portable pseudo-random hyperplanes: component (d, j) is
    md5("seed:d:j") first-8-hex-chars scaled to [-0.5, 0.5).  Every value
    is an exact dyadic rational, so Spark, DuckDB, or any engine derives
    the IDENTICAL matrix — signatures become oracle-checkable.  Uniform
    (not Gaussian) components are fine for sign-LSH: only the direction
    distribution changes slightly, and candidate precision is unaffected
    because survivors are exact-verified."""
    import hashlib

    def u(d: int, j: int) -> float:
        h = hashlib.md5(f"{seed}:{d}:{j}".encode()).hexdigest()[:8]
        return int(h, 16) / 4294967296.0 - 0.5

    return np.array([[u(d, j) for j in range(nbits)] for d in range(dim)])


def lsh_cosine_pairs(emb: DataFrame, id_col: str, vec_col: str,
                     threshold: float = 0.9, planes: int = 16,
                     tables: int = 4, seed: int = 42,
                     plane_source: str = "gaussian") -> DataFrame:
    """Random-hyperplane LSH near-dup pairs, exactly verified.

    Signature bit b = sign(v · r_b) for deterministic pseudo-random planes
    r_b derived from ``seed`` (every executor re-derives the same plane
    matrix — data-independent, no driver state to broadcast).  Vectors meet
    iff they share a full ``planes``-bit signature in at least one of
    ``tables`` tables; survivors are verified with exact cosine, so
    precision is exact and only recall depends on the LSH parameters.

    Tuning: per-table collision probability at similarity s is
    (1 - acos(s)/pi)^planes; recall over b tables is 1-(1-p)^b.  Use
    fewer planes / more tables for low thresholds, more planes for
    near-dup (>=0.9) thresholds.

    All table signatures are computed in ONE Arrow-batched pandas UDF —
    a single (batch x dim) @ (dim x planes*tables) numpy matmul per batch
    — then bucketed with a posexplode + self-join per (table, signature).
    tables*planes Catalyst ``aggregate`` dot-products would dwarf the
    actual join cost (~10x slower end-to-end measured at 2k vectors).
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    dim_probe = emb.select(F.size(vec_col).alias("d")).first()
    dim = dim_probe["d"]
    nbits = tables * planes
    # deterministic plane matrix: every worker derives the same planes
    if plane_source == "md5":
        # engine-portable planes (see md5_plane_matrix) — the SQL oracle
        # reproduces the signatures; no normalization (sign-invariant)
        plane_mat = md5_plane_matrix(dim, nbits, seed)
    else:
        rng = np.random.default_rng(seed)
        plane_mat = rng.standard_normal((dim, nbits))
        plane_mat /= np.linalg.norm(plane_mat, axis=0, keepdims=True)

    @pandas_udf(T.ArrayType(T.StringType()))
    def signatures(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        # round before the sign test: kills float-summation-order noise so
        # an engine summing in a different order derives the same bit
        bits = (np.round(mat @ plane_mat, 6) >= 0).astype(np.uint8)
        out = []
        for row in bits:
            out.append(["".join("1" if b else "0"
                                for b in row[t * planes:(t + 1) * planes])
                        for t in range(tables)])
        return pd.Series(out)

    signed = emb.select(F.col(id_col), signatures(F.col(vec_col)).alias("sigs"))
    buckets = signed.select(id_col, F.posexplode("sigs").alias("t", "s"))

    # candidate generation + exact verify fused per bucket: each (table,
    # signature) bucket is ONE numpy matmul over its members, so a vector's
    # data crosses the shuffle once per TABLE membership (tables x corpus
    # volume) instead of once per candidate PAIR — at low thresholds the
    # candidate set is orders of magnitude larger than the bucket rows.
    # The same pair verified in several buckets derives the identical
    # rounded cosine, so the trailing distinct dedups exactly.  Task memory
    # is O(|bucket|^2): a hot bucket means too few planes for the
    # threshold (the documented LSH tuning dial).
    vecs = emb.select(F.col(id_col).alias("_bid"),
                      as_double(F.col(vec_col)).alias("_v")) \
        .withColumn("_n", norm(F.col("_v")))
    member = buckets.join(vecs, F.col(id_col) == F.col("_bid")) \
        .select("t", "s", F.col(id_col).alias("_id"), "_v", "_n")
    thr = float(threshold)
    # the pair schema inherits the corpus id type (long/string/... alike);
    # ids stay object arrays in pandas so Arrow casts, never truncates
    id_dt = emb.schema[id_col].dataType.simpleString()

    def bucket_pairs(pdf):
        empty = dict(id_a=np.empty(0, dtype=object),
                     id_b=np.empty(0, dtype=object),
                     cos=np.empty(0, dtype=np.float64))
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        order = np.argsort(pdf["_id"].to_numpy())
        ids = pdf["_id"].to_numpy(dtype=object)[order]
        mat = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        nr = pdf["_n"].to_numpy()[order]
        sims = round6((mat @ mat.T) / np.outer(nr, nr))
        iu, ju = np.triu_indices(len(ids), k=1)
        m = sims[iu, ju] >= thr
        return pd.DataFrame({"id_a": ids[iu[m]], "id_b": ids[ju[m]],
                             "cos": sims[iu[m], ju[m]]})

    return (member.groupBy("t", "s")
            .applyInPandas(bucket_pairs, f"id_a {id_dt}, id_b {id_dt}, "
                                         "cos double")
            .distinct())


def embedding_dedup_survivors(emb: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.9,
                              pair_fn=None) -> DataFrame:
    """Embedding-cosine near-dup dedup: keep a vector iff no LOWER-id vector
    is within ``threshold`` cosine — the embedding-space member of the dedup
    family (exact/Jaccard/MinHash/SimHash live in operators/dedup.py).

    ``pair_fn`` picks the pair generator: default brute-force
    ``cosine_pairs`` (exact, oracle-checkable); pass ``lsh_cosine_pairs``
    for the 100 TB path (bucketed candidates, same survivor logic).
    Returns the surviving rows of ``emb``.

    The exact default is O(n^2) in the vector count — kept as the
    oracle-checkable baseline, but above ~100k vectors the pair space is
    the scale-killer, so a warning nudges callers to the LSH generator
    (Catalyst size stats, no job triggered; ~100k vecs x ~1 KB/vec).
    """
    if pair_fn is None:
        from kstream_spark.util import plan_size_bytes
        size = plan_size_bytes(emb)
        if size is not None and size > 100 << 20:
            import warnings
            warnings.warn(
                "embedding_dedup_survivors: exact O(n^2) cosine_pairs over a "
                f"~{size >> 20} MiB input — pass pair_fn=lsh_cosine_pairs for "
                "the bucketed scale path", RuntimeWarning, stacklevel=2)
    pairs = (pair_fn or cosine_pairs)(emb, id_col, vec_col, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(losers, id_col, "left_anti")


def decontaminate_embedding(corpus: DataFrame, eval_set: DataFrame,
                            id_col: str, vec_col: str,
                            threshold: float = 0.9) -> DataFrame:
    """Semantic decontamination: drop every corpus vector within
    ``threshold`` cosine of ANY eval-set vector — the embedding-space
    counterpart of the n-gram ``operators/corpus.decontaminate`` (n-gram
    overlap misses paraphrased benchmark leakage; embedding similarity
    catches it).

    Scale shape: the eval side is small by construction (benchmark suites,
    not corpora) and is BROADCAST; the corpus streams through in one scan
    with a broadcast-nested-loop LEFT ANTI join — no shuffle of the corpus,
    no candidate materialization, cost O(|corpus| x |eval|) fully
    parallel over corpus splits.  Returns the surviving corpus rows.
    """
    from kstream_spark.util import ensure_parallelism
    corpus = ensure_parallelism(corpus)
    c = corpus.withColumn("__v", as_double(F.col(vec_col))) \
        .withColumn("__n", norm(F.col("__v")))
    e = F.broadcast(
        eval_set.select(as_double(F.col(vec_col)).alias("__ev"))
        .withColumn("__en", norm(F.col("__ev"))))
    hit = (F.round(dot(F.col("__v"), F.col("__ev"))
                   / (F.col("__n") * F.col("__en")), 6) >= threshold)
    return c.join(e, hit, "left_anti").drop("__v", "__n")


def _collect_vecs_sorted_seeds(emb: DataFrame, vec_col: str, sort_key: str,
                               k: int):
    """One bounded action for the local training arm: collect the (vec,
    sort-key) projection in scan order and derive the k lowest-key seed
    ROW INDICES driver-side (same seed set as the distributed arm's
    ``orderBy(sort_key).limit(k)``; keys are unique in every caller, so
    tie order cannot differ).  Returns (mat, seed_indices)."""
    rows = emb.select(as_double(F.col(vec_col)).alias("v"),
                      F.col(sort_key).alias("_sk")).collect()
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    order = sorted(range(len(rows)), key=lambda i: rows[i]["_sk"])
    return mat, order[:k]


def _local_sums(kernel, mat, state, keys: tuple):
    """The local training arm's Lloyd step: ``kernel`` (kmeans_partials /
    pq_partials) over the whole collected matrix, as the ``(sums,
    counts)`` dicts ``_lloyd_reduce`` returns, keyed by ``keys`` tuples."""
    out = kernel(mat, state)
    ks = list(zip(*(out[c] for c in keys)))
    return ({key: np.asarray(s, dtype=np.float64)
             for key, s in zip(ks, out["s"])}, dict(zip(ks, out["n"])))


def _lloyd_reduce(vecs: DataFrame, nparts: int, kernel, state, keys: tuple,
                  width: int):
    """The distributed training arm's Lloyd step: ``kernel`` runs inside
    every Arrow batch of ``vecs`` (column ``v``) and emits at most one
    partial per key, and the partials are summed into ``(sums, counts)``
    keyed by ``keys`` tuples.

    Up to 64 partitions the raw partials are collected and summed on the
    driver.  Past that they reduce DISTRIBUTED per (key, component) — a
    posexplode and one map-side-combinable aggregate — so the driver
    collects at most keys x ``width`` rows at any partition count.  The
    distributed fold adds each component's partials in ASCENDING
    PARTITION-ID order (array_sort + aggregate), the order of the driver
    collect loop, so both paths give BIT-identical sums (a free-order
    F.sum could differ in the last ulp and flip a HALF_UP round)."""
    def partials(batches):
        for pdf in batches:
            yield pd.DataFrame(kernel(
                np.vstack(pdf["v"].to_numpy()).astype(np.float64), state))

    schema = ", ".join(f"{c} int" for c in keys) + ", n long, s array<double>"
    part = vecs.mapInPandas(partials, schema=schema)
    sums: dict = {}
    counts: dict = {}
    if nparts <= 64:
        for r in part.collect():
            key = tuple(r[c] for c in keys)
            sums[key] = sums.get(key, np.zeros(width)) \
                + np.array(r["s"], dtype=np.float64)
            counts[key] = counts.get(key, 0) + r["n"]
        return sums, counts
    red = (part
           .withColumn("pid", F.spark_partition_id())
           .select("pid", *keys, "n", F.posexplode("s").alias("sd", "x"))
           .groupBy(*keys, "sd")
           .agg(F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pid", "x"))),
                    F.lit(0.0),
                    lambda acc, e: acc + e["x"]).alias("sx"),
                F.sum("n").alias("nn"))
           .collect())
    for r in red:
        key = tuple(r[c] for c in keys)
        sums.setdefault(key, np.zeros(width))[r["sd"]] = r["sx"]
        counts[key] = r["nn"]          # the same across a key's components
    return sums, counts


def kmeans_centroids(emb: DataFrame, vec_col: str, k: int = 16,
                     iters: int = 5, seed: int = 7,
                     id_col: str | None = None,
                     local: bool | None = None) -> list:
    """Lloyd's k-means over the embedding column, cosine-style (vectors and
    centroids L2-normalized each round).

    The heavy step — assigning every vector to its nearest centroid — runs
    distributed as one Arrow-batched matmul per batch (kmeans_partials);
    only the k x dim centroid matrix ever reaches the driver (per-cell
    sums reduced by _lloyd_reduce, so the pattern survives any corpus
    size).  Returns the centroid matrix as a list of lists (broadcastable
    literal).

    DETERMINISM / ORACLE PARITY: seeds are the k lowest rows by ``id_col``
    (falling back to ordering by the vector column itself — never an
    unordered limit, which is partition-order-dependent), and every derived
    quantity (seed components, assignment scores, cell means, re-normalized
    centroids) is rounded to 6 dp, so any engine replaying the same recipe
    — including the DuckDB SQL oracle — derives bit-identical centroids.
    Ties in assignment break toward the lowest cell id.

    HYBRID EXECUTION (r13): at the bench SFs the embeddings relation is
    thousands of rows, and each Lloyd iteration's cost is the ACTION
    (plan + Arrow round-trip + collect), not the math — k=8 x iters=3 paid
    4 driver actions ~0.2 s each for ~1 ms of numpy.  When the driver
    size gate (``util.fits_driver``: Catalyst stats prove the input <=
    32 MB — the same class as the centroid/codebook collects) passes and
    ``id_col`` orders the seeds, ONE action collects the vector column and
    every iteration runs kmeans_partials on the driver over the whole
    matrix.  On a single-partition single-Arrow-batch input
    (all bench SFs) that is bit-identical to the distributed arm, and
    under any batching the round-6 HALF_UP discipline absorbs
    summation-order ulps as it does between the two reduce paths and the
    SQL oracle.  ``local=True/False`` pins the arm (parity tests); missing
    stats or no ``id_col`` keep the distributed arm.
    """
    sort_key = id_col if id_col is not None else vec_col
    vecs = None
    # without id_col the seeds are ordered by the vector itself, so only
    # a pin picks the local arm
    train_local = (fits_driver(emb, local) if id_col is not None
                   else bool(local))
    if train_local:
        mat, seed_idx = _collect_vecs_sorted_seeds(emb, vec_col, sort_key, k)
        cents = mat[seed_idx]

        def sums_of(c):
            return _local_sums(kmeans_partials, mat, c, ("cell",))
    else:
        first = (emb.orderBy(sort_key).limit(k)
                 .select(as_double(F.col(vec_col)).alias("v")).collect())
        cents = np.array([r["v"] for r in first], dtype=np.float64)
        vecs = emb.select(as_double(F.col(vec_col)).alias("v")).persist()
        # partition count is fixed for the persisted relation — resolve the
        # reduction-path gate ONCE, not through a per-iteration .rdd trip
        nparts = vecs.rdd.getNumPartitions()
        dim = cents.shape[1]

        def sums_of(c):
            return _lloyd_reduce(vecs, nparts, kmeans_partials, c, ("cell",),
                                 dim)
    cents = np_round6_half_up(
        cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True),
                           1e-12))
    for _ in range(iters):
        sums, counts = sums_of(cents)
        new = cents.copy()
        for (cell,), s in sums.items():
            m = np_round6_half_up(s / counts[(cell,)])
            nrm = np.linalg.norm(m)
            if nrm > 1e-12:
                new[cell] = np_round6_half_up(m / nrm)
        if np.allclose(new, cents, atol=1e-9):
            cents = new
            break
        cents = new
    if vecs is not None:
        vecs.unpersist()
    return cents.tolist()


def collect_query_rows(emb: DataFrame, id_col: str, vec_col: str,
                       query_ids: list) -> list:
    """One |Q|-bounded collect of the query vectors — the shared setup
    step of every ANN searcher here.  r14 (guide §1/§5, VERDICT r13 #7):
    the recall audit queries run an approximate arm AND an exact arm
    over the SAME query ids; collecting once and passing the rows to
    both (``query_rows=`` / a local ``queries`` relation) removes a
    duplicate scan-and-filter job per audit.  Values are the exact
    doubles the per-arm collects produced, so results are bit-identical."""
    return (emb.filter(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("query_id"),
                    as_double(F.col(vec_col)).alias("qv")).collect())


def ivf_topk(emb: DataFrame, id_col: str, vec_col: str,
             query_ids: list, k: int = 10, n_cells: int = 16,
             n_probe: int = 4, centroids: list | None = None,
             query_rows: list | None = None) -> DataFrame:
    """IVF-style approximate top-k: coarse quantizer + cell-probed search.

    The corpus is partitioned into ``n_cells`` Voronoi cells; centroids are
    either the lowest-id vectors (default — deterministic, zero training) or
    a learned matrix passed via ``centroids`` (see ``kmeans_centroids`` —
    the production path; same operator shape either way).  A query probes
    only its ``n_probe`` nearest cells, so the scan cost drops by
    ~n_cells/n_probe versus brute force — the standard recall/cost dial.
    Results are exact cosines over the probed subset, ranked like
    cosine_topk.
    """

    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    if centroids is not None:
        cent_list = [[float(x) for x in c] for c in centroids]
    else:
        cent_list = [list(r["cv"]) for r in
                     emb.orderBy(id_col).limit(n_cells)
                     .select(as_double(F.col(vec_col)).alias("cv"))
                     .collect()]

    # nearest-cell assignment is a LITERAL PROJECTION (no join, no
    # shuffle of the corpus); the queries' probes are chosen driver-side
    # on the |Q|-bounded query rows.  ``qn`` stays a JVM ``norm()``
    # column so the score arithmetic matches the oracle's fold.
    assigned = emb.select(F.col(id_col).alias("neighbor_id"),
                          as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv"))) \
        .withColumn("cell_id",
                    nearest_cell(F.col("nv"), F.col("nn"), cent_list))
    qrows = (query_rows if query_rows is not None
             else collect_query_rows(emb, id_col, vec_col, query_ids))
    probes = _probe_relation(emb, id_col, qrows, cent_list, n_probe) \
        .withColumn("qn", norm(F.col("qv")))
    scored = (F.broadcast(probes).join(assigned, "cell_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(dot(F.col("qv"), F.col("nv"))
                              / (F.col("qn") * F.col("nn")), 6).alias("cos")))
    return _per_query_topk(scored, k, score_col="cos", asc=False)


def _probe_relation(emb: DataFrame, id_col: str, qrows, centroids,
                    n_probe: int) -> DataFrame:
    """(query_id, qv, cell_id): every (query_id, qv) of ``qrows`` paired
    with each of its ``probe_cells``, as a tiny local relation."""
    cents = np.asarray(centroids, dtype=np.float64)
    rows = [(qid, list(qv), cell) for qid, qv in qrows
            for cell in probe_cells(np.asarray(qv, dtype=np.float64), cents,
                                    n_probe)]
    id_dt = emb.schema[id_col].dataType.simpleString()
    return local_df(emb.sparkSession, rows,
                    f"query_id {id_dt}, qv array<double>, cell_id long")


def semantic_dedup(emb: DataFrame, id_col: str, vec_col: str,
                   k: int = 8, iters: int = 3, threshold: float = 0.9,
                   centroids: list | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means clustering bounds the
    quadratic, cosine pruning happens only WITHIN a cluster.

    The public SemDeDup recipe (Abbas et al. 2023): cluster the embedding
    space coarsely, then inside each cluster drop every vector whose cosine
    to another cluster member clears ``threshold``, keeping one survivor per
    near-dup group.  Survival rule here: lowest id in the pair wins (the
    same deterministic rule as embedding_dedup_survivors, so the two
    operators compose).  Returns (id, cell_id) survivors.

    Scale shape: the all-pairs comparison never crosses a cluster boundary,
    so cost is sum(|cell|^2) instead of |corpus|^2 — the clustering IS the
    blocking step.  Assignment is one broadcast pass (k x dim centroid
    matrix); the within-cell self-join shuffles the corpus once on cell_id.
    A pathologically hot cell is the signal to re-train with a larger k (or
    sub-split the cell with lsh_cosine_pairs — same composition as
    dedup_embedding_lsh).  Deterministic end-to-end: id-ordered k-means
    seeds + round-6 parity at every step (kmeans_centroids), so a SQL
    oracle replays the identical cluster -> pair -> prune pipeline.
    """

    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    if centroids is None:
        centroids = kmeans_centroids(emb, vec_col, k=k, iters=iters,
                                     id_col=id_col)
    # nearest-cell assignment is a pure PROJECTION over the literal
    # centroid matrix: no k x n join blow-up, no row_number shuffle
    assigned = emb.select(F.col(id_col).alias("_id"),
                          as_double(F.col(vec_col)).alias("v")) \
        .withColumn("n", norm(F.col("v"))) \
        .withColumn("cell_id", nearest_cell(F.col("v"), F.col("n"),
                                            centroids))
    # within-cell pairs as ONE Arrow matmul per cell (vectors cross the
    # Python boundary once per cell, pairs are generated inside numpy) —
    # a pair-expanded join would fold a 64-dim dot per pair in the
    # interpreted higher-order-function evaluator instead.  Task memory is
    # O(|cell|^2) doubles: size k so cells fit (the SemDeDup contract —
    # a hot cell means the quantizer is too coarse).
    thr = float(threshold)
    # drop-list schema inherits the corpus id type (string ids work too)
    id_dt = emb.schema[id_col].dataType.simpleString()

    def cell_pairs(pdf):
        order = np.argsort(pdf["_id"].to_numpy())
        ids = pdf["_id"].to_numpy(dtype=object)[order]
        if len(ids) < 2:
            return pd.DataFrame({"_drop": np.empty(0, dtype=object)})
        mat = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        norms = pdf["n"].to_numpy()[order]
        sims = round6((mat @ mat.T) / np.outer(norms, norms))
        iu, ju = np.triu_indices(len(ids), k=1)
        # id_b of every above-threshold (lower-id, higher-id) pair is dropped
        return pd.DataFrame(
            {"_drop": np.unique(ids[ju[sims[iu, ju] >= thr]])})

    dropped = (assigned.groupBy("cell_id")
               .applyInPandas(cell_pairs, f"`_drop` {id_dt}"))
    return (assigned.join(dropped, assigned["_id"] == dropped["_drop"],
                          "left_anti")
            .select(F.col("_id").alias(id_col), "cell_id"))


def save_centroids(spark, centroids: list, path: str) -> None:
    """Persist a learned centroid matrix (the IVF coarse quantizer) as
    parquet — the index-lifecycle half of IVF: train once with
    kmeans_centroids, reuse across every subsequent search job instead of
    re-clustering 100 TB per query batch."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    local_df(spark, rows, "cell_id long, cv array<double>") \
        .write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list:
    """Inverse of save_centroids: returns the centroid matrix in cell-id
    order, ready to pass to ivf_topk(centroids=...)."""
    rows = spark.read.parquet(path).orderBy("cell_id").collect()
    return [r["cv"] for r in rows]


def save_codebooks(spark, codebooks: list, path: str) -> None:
    """Persist trained PQ codebooks as parquet — completes the IVF-PQ
    production lifecycle (train ONCE, encode/probe many): together with
    save_centroids, a search job can load both halves of the index and
    skip training entirely.  One row per (subspace j, code c) codeword."""
    rows = [(j, c, [float(x) for x in cw])
            for j, book in enumerate(codebooks)
            for c, cw in enumerate(book)]
    local_df(spark, rows, "j long, code long, cw array<double>") \
        .write.mode("overwrite").parquet(path)


def load_codebooks(spark, path: str) -> list:
    """Inverse of save_codebooks: returns the m x k codeword structure in
    (subspace, code) order, ready for pq_encode / pq_adc_topk /
    ivfpq_topk(codebooks=...)."""
    rows = spark.read.parquet(path).orderBy("j", "code").collect()
    books: dict = {}
    for r in rows:
        books.setdefault(r["j"], []).append(r["cw"])
    return [books[j] for j in sorted(books)]


def pq_codebooks(emb: DataFrame, vec_col: str, m: int = 4, k: int = 16,
                 iters: int = 2, id_col: str | None = None,
                 local: bool | None = None) -> list:
    """Train product-quantization codebooks: the vector space splits into
    ``m`` contiguous subspaces (dim/m components each) and each learns an
    independent ``k``-codeword Euclidean k-means codebook (Jegou et al.
    2011) — the compressed-index half of a classical IVF-PQ ANN stack
    (operators/similarity.ivf_topk is the coarse half).

    Same scale + determinism discipline as kmeans_centroids: the heavy
    assign step is pq_partials, one Arrow-batched numpy pass per batch
    emitting at most m*k partial sums (driver traffic is O(partitions * m
    * k), corpus-size independent), seeds are the k lowest-``id_col``
    rows' subvectors, and every distance/mean is rounded to 6 dp HALF_UP
    with ties toward the lowest code — so a SQL oracle replays training
    bit-for-bit.  Returns ``m`` lists of ``k`` codewords (list of lists
    of floats).

    HYBRID EXECUTION (r13): the same size-gated driver-local arm as
    kmeans_centroids — when the driver size gate passes (Catalyst stats
    prove the input <= 32 MB, ``id_col`` given) the whole training runs
    pq_partials off ONE collect (seed collect + iters actions collapse to
    a single action); ``local=True/False`` pins an arm, missing stats
    keep the distributed path.  Callers whose input
    has no stats (e.g. the residual mapInPandas chain) pass ``local=``
    derived from their own source relation.
    """
    sort_key = id_col if id_col is not None else vec_col
    vecs = None
    train_local = (fits_driver(emb, local) if id_col is not None
                   else bool(local))
    if train_local:
        mat, seed_idx = _collect_vecs_sorted_seeds(emb, vec_col, sort_key, k)
        seed_mat = mat[seed_idx]
    else:
        first = (emb.orderBy(sort_key).limit(k)
                 .select(as_double(F.col(vec_col)).alias("v")).collect())
        seed_mat = np.array([r["v"] for r in first], dtype=np.float64)
    dim = seed_mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # books[j]: (k, sub) codewords for subspace j — raw data, no rounding
    books = [seed_mat[:, j * sub:(j + 1) * sub].copy() for j in range(m)]
    if train_local:
        def sums_of(bks):
            return _local_sums(pq_partials, mat, bks, ("j", "code"))
    else:
        vecs = emb.select(as_double(F.col(vec_col)).alias("v")).persist()
        nparts = vecs.rdd.getNumPartitions()   # fixed while persisted

        def sums_of(bks):
            return _lloyd_reduce(vecs, nparts, pq_partials, bks,
                                 ("j", "code"), sub)
    for _ in range(iters):
        sums, counts = sums_of([b.copy() for b in books])
        for (j, c), s in sums.items():
            books[j][c] = np_round6_half_up(s / counts[(j, c)])
    if vecs is not None:
        vecs.unpersist()
    return [b.tolist() for b in books]


def _encode(src: DataFrame, codebooks: list,
            centroids: list | None = None) -> DataFrame:
    """The one PQ encoder: ``src`` is (_id, v) or (_id, cell_id, v), and
    the result keeps its id (and cell_id) columns next to ``codes
    array<int>`` from pq_codes, in one Arrow pass — the codebooks ride
    into the closure as literals, no join, no shuffle.  With
    ``centroids`` the encoded vector is the residual v - centroids[cell_id]
    (exact double subtraction)."""
    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    cents = (None if centroids is None
             else np.asarray(centroids, dtype=np.float64))
    keep = [c for c in ("_id", "cell_id") if c in src.columns]

    def encode(batches):
        for pdf in batches:
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            if cents is not None:
                mat = mat - cents[pdf["cell_id"].to_numpy().astype(np.int64)]
            out = {c: pdf[c].to_numpy(dtype=object) for c in keep}
            out["codes"] = list(pq_codes(mat, bks).astype(int).tolist())
            yield pd.DataFrame(out)

    id_dt = src.schema["_id"].dataType.simpleString()
    cell = ", cell_id long" if "cell_id" in keep else ""
    return src.mapInPandas(encode,
                           schema=f"_id {id_dt}{cell}, codes array<int>")


def _assign_cells(emb: DataFrame, id_col: str, vec_col: str,
                  centroids: list, unit: bool = False) -> DataFrame:
    """(_id, cell_id, v): ``nearest_cell`` as a literal projection.
    ``unit`` divides v by its JVM ``norm()`` — a left-to-right fold, the
    summation order of the oracle's list_sum — for the spherical residual
    formulation."""
    src = emb.select(F.col(id_col).alias("_id"),
                     as_double(F.col(vec_col)).alias("v")) \
        .withColumn("n", norm(F.col("v")))
    v = (F.transform(F.col("v"), lambda x: x / F.col("n")) if unit
         else F.col("v"))
    return src.select("_id", nearest_cell(F.col("v"), F.col("n"),
                                          centroids).alias("cell_id"),
                      v.alias("v"))


def _encode_cells(emb: DataFrame, id_col: str, vec_col: str,
                 centroids: list, codebooks: list,
                 residual: bool = False) -> DataFrame:
    """(_id, cell_id, codes): nearest-cell assignment, then ``_encode`` —
    of the raw vector, or with ``residual`` of v/||v|| - centroid[cell].
    The IVF-PQ searchers and streaming/ann.encode_against_index share
    it, so streamed codes equal batch codes by construction."""
    src = _assign_cells(emb, id_col, vec_col, centroids, unit=residual)
    return _encode(src, codebooks, centroids if residual else None)


def pq_encode(emb: DataFrame, id_col: str, vec_col: str,
              codebooks: list) -> DataFrame:
    """Encode each vector as ``m`` codebook indices — dim*8 bytes become m
    bytes (the PQ compression step), through ``_encode``.  Returns (id,
    codes array<int>); deterministic (round-6 HALF_UP distances,
    lowest-code ties) so the oracle re-derives every code."""
    src = emb.select(F.col(id_col).alias("_id"),
                     as_double(F.col(vec_col)).alias("v"))
    return _encode(src, codebooks).withColumnRenamed("_id", id_col)


def _adc_topk(cands: DataFrame, tab_rows: list, id_dt: str, m: int, k: int,
              on: str | None = None) -> DataFrame:
    """The one ADC scorer.  ``cands`` carries (neighbor_id, codes) — plus
    query_id or cell_id when ``on`` names the join key — and ``tab_rows``
    are (query_id, tabs) rows, or (query_id, cell_id, tabs) when ``on`` is
    "cell_id".  The tables broadcast; with ``on=None`` every query scores
    every candidate.  adist = round-6 of sum_j tabs[j][codes[j]], m
    codegen ``element_at`` lookups, ranked ascending through the narrow
    _per_query_topk.  Returns (query_id, neighbor_id, adist, rank)."""
    cell = ", cell_id long" if on == "cell_id" else ""
    tables = F.broadcast(local_df(
        cands.sparkSession, tab_rows,
        f"query_id {id_dt}{cell}, tabs array<array<double>>"))
    adist = None
    for j in range(m):
        term = F.element_at(F.element_at("tabs", j + 1),
                            F.element_at("codes", j + 1) + 1)
        adist = term if adist is None else adist + term
    other = F.col("query_id") != F.col("neighbor_id")
    pairs = (cands.join(tables, other) if on is None
             else cands.join(tables, on).filter(other))
    return _per_query_topk(pairs.select("query_id", "neighbor_id",
                                        F.round(adist, 6).alias("adist")), k)


def _per_query_topk(scored: DataFrame, k: int, score_col: str = "adist",
                    id_col: str = "neighbor_id", asc: bool = True,
                    rank_col: str = "rank") -> DataFrame:
    """Scale-safe per-query top-k: a NARROW (zero-shuffle, same-stage)
    per-partition top-k pass shrinks the rank window's input from
    |corpus| rows per query to <= partitions*k, so no reducer ever sorts
    a corpus-sized slice (the classic top-k-via-window scale killer —
    ``row_number().over(partitionBy(query))`` alone sends each query's
    ENTIRE scored corpus to one task).  Exactness: (score, id) is a
    total order (ids unique within a query), so the global top-k is
    contained in the union of per-partition top-k's — output is
    bit-identical to the plain window form.

    NaN/null scores (e.g. a 0/0 cosine from a zero-norm vector) are
    DROPPED up front: pandas sorts NaN last regardless of order while a
    Spark desc window sorts NaN first, so an unguarded NaN would rank
    first under a plain window yet be pruned by the local top-k — the
    guard makes both paths agree (and a NaN is never a meaningful
    similarity score)."""
    scored = scored.filter(~F.isnan(F.col(score_col)))
    schema = scored.schema

    def local_topk(batches):
        import pandas as pd  # noqa: F811
        best: dict = {}
        for pdf in batches:
            for qid, grp in pdf.groupby("query_id", sort=False):
                cur = best.get(qid)
                both = grp if cur is None else pd.concat((cur, grp))
                best[qid] = both.sort_values(
                    [score_col, id_col], ascending=[asc, True],
                    kind="mergesort").head(k)
        if best:
            yield pd.concat(best.values())

    pruned = scored.mapInPandas(local_topk, schema=schema)
    order = F.asc(score_col) if asc else F.desc(score_col)
    w = W.partitionBy("query_id").orderBy(order, F.asc(id_col))
    return (pruned.withColumn(rank_col,
                              F.row_number().over(w).cast("long"))
            .filter(F.col(rank_col) <= k))


def pq_adc_topk(emb: DataFrame, id_col: str, vec_col: str,
                query_ids: list, codebooks: list, k: int = 10,
                query_rows: list | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes an m x k lookup table of exact subvector-to-codeword
    distances, and a candidate's approximate distance is the SUM of m
    table lookups on its codes — the corpus is scanned as m-byte codes,
    never as raw vectors (the memory/IO win that makes billion-scale ANN
    fit in RAM).

    Plan shape: corpus -> pq_encode (projection) -> broadcast-join the
    tiny query table -> per-pair distance as m array lookups (codegen
    element_at, no UDF) -> narrow per-partition top-k -> final rank
    window over <= partitions*k rows per query (never a corpus-sized
    single-task sort; see _per_query_topk).  Returns
    (query_id, neighbor_id, adist, rank) ranked by approximate distance
    ASC with id tie-breaks — fully deterministic (round-6 HALF_UP at the
    subvector-distance level, exactly what the encode step used)."""
    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    codes = pq_encode(emb, id_col, vec_col, codebooks) \
        .withColumnRenamed(id_col, "neighbor_id")
    # ``query_rows`` (r14) lets a recall audit share one collect across
    # its arms
    qrows = (query_rows if query_rows is not None
             else collect_query_rows(emb, id_col, vec_col, query_ids))
    tab_rows = [(qid, adc_tables(np.asarray(qv, dtype=np.float64), bks))
                for qid, qv in qrows]
    id_dt = emb.schema[id_col].dataType.simpleString()
    return _adc_topk(codes, tab_rows, id_dt, len(bks), k)


def ivfpq_topk(emb: DataFrame, id_col: str, vec_col: str,
               query_ids: list, centroids: list, codebooks: list,
               k: int = 10, n_probe: int = 3,
               query_rows: list | None = None) -> DataFrame:
    """IVF-PQ: the billion-scale ANN composition — a coarse quantizer
    restricts the scan to ``n_probe`` probed cells (the IVF half,
    cosine-assigned as in ivf_topk/semantic_dedup), and within those
    cells candidates rank by PQ asymmetric distance over m-byte codes
    (the pq_adc_topk half) instead of raw vectors.

    Plan shape at scale: nearest-cell assignment is a pure PROJECTION
    (literal centroid matrix — no join), codes are an Arrow projection,
    the tiny probe table (|Q| x n_probe) and per-query distance tables
    broadcast, so the corpus crosses ZERO shuffles before the per-query
    top-k.  Deterministic end-to-end (round-6 HALF_UP everywhere, lowest
    cell/code/id ties), so the oracle replays train -> assign -> encode ->
    probe -> ADC-rank exactly.  Returns (query_id, neighbor_id, adist,
    rank) — ascending approximate distance."""
    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    cents = np.asarray(centroids, dtype=np.float64)
    encoded = _encode_cells(emb, id_col, vec_col, centroids, codebooks) \
        .withColumnRenamed("_id", "neighbor_id")
    # probes (|Q| x n_probe) and per-query ADC tables, built driver-side
    qrows = (query_rows if query_rows is not None
             else collect_query_rows(emb, id_col, vec_col, query_ids))
    probe_rows, tab_rows = [], []
    for qid, qv in qrows:
        qv = np.asarray(qv, dtype=np.float64)
        probe_rows += [(qid, c) for c in probe_cells(qv, cents, n_probe)]
        tab_rows.append((qid, adc_tables(qv, bks)))
    id_dt = emb.schema[id_col].dataType.simpleString()
    probes = F.broadcast(local_df(emb.sparkSession, probe_rows,
                                  f"query_id {id_dt}, cell_id long"))
    return _adc_topk(encoded.join(probes, "cell_id"), tab_rows, id_dt,
                     len(bks), k, on="query_id")


def ivfpq_residual_topk(emb: DataFrame, id_col: str, vec_col: str,
                        query_ids: list, centroids: list,
                        m: int = 4, pq_k: int = 16, pq_iters: int = 2,
                        k: int = 10, n_probe: int = 3) -> DataFrame:
    """IVF-PQ with SPHERICAL RESIDUAL encoding — the accuracy-critical
    refinement of the classical composition (Jegou et al. 2011 sec. III;
    what FAISS's IndexIVFPQ does, on the unit sphere since the coarse
    quantizer here is cosine): PQ codebooks are trained on, and codes
    encode, the residual ``v/||v|| - centroid[cell]`` of the NORMALIZED
    vector against its (unit-norm) cell centroid.  On the sphere,
    ADC-L2 distance is monotone in cosine (||a-b||^2 = 2 - 2cos for
    unit vectors), so the compressed ranking targets the same order as
    the exact cosine ground truth, and residuals genuinely concentrate
    near the origin — the same m-byte budget quantizes them far more
    finely than the full-magnitude corpus.  A query builds a SEPARATE
    ADC table per probed cell (its residual differs per cell), which is
    exactly n_probe times the tiny table cost.  Measured at sf0.01
    (near-random 64-d fixture vectors, n_probe=3): recall@10
    spherical-residual vs raw-vector ADC is 0.40 vs 0.36 at m=8/k=32
    and 0.36 vs 0.32 at m=4/k=32 — the residual wins once the code
    budget can resolve it; below that (m=4/k=16) the two tie within
    noise on this fixture.

    Scale shape (same zero-corpus-shuffle discipline as ivfpq_topk):
    cell assignment is a literal projection; residual + encode is ONE
    Arrow-batched pass (codes never round-trip through a join back to
    cells); codebook training sees only the residual column with
    partition-bounded partial sums; the (query, cell) probe/table
    relation is |Q| x n_probe rows and broadcasts; ranking goes through
    the narrow local-top-k (_per_query_topk), never a corpus-sized
    window.  Deterministic end-to-end: residual subtraction is exact
    IEEE double arithmetic on round-6 centroid literals, every distance
    and codeword mean is round-6 HALF_UP with lowest-index ties, so a
    SQL oracle replays assign -> residual -> train -> encode -> probe ->
    per-cell ADC bit-for-bit.  Returns (query_id, neighbor_id, adist,
    rank), ascending approximate distance."""
    cents = np.asarray(centroids, dtype=np.float64)
    id_dt = emb.schema[id_col].dataType.simpleString()
    # --- residuals for training: one Arrow pass of v/||v|| -
    # centroid[cell] (exact double subtraction on the already-normalized
    # components)
    def residual(batches):
        for pdf in batches:
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            res = mat - cents[pdf["cell_id"].to_numpy().astype(np.int64)]
            yield pd.DataFrame({"_id": pdf["_id"].to_numpy(dtype=object),
                                "rv": list(res.tolist())})

    res_df = _assign_cells(emb, id_col, vec_col, centroids, unit=True) \
        .mapInPandas(residual, schema=f"_id {id_dt}, rv array<double>")
    # --- PQ codebooks trained ON RESIDUALS (seeds: k lowest-id residuals).
    # res_df is a mapInPandas child — no Catalyst stats — but its row set
    # is exactly emb's, so the local-arm gate reads the SOURCE relation's
    # scan stats (r13: one collect instead of seed collect + persist fill
    # + per-iteration actions, each re-running the assign+residual chain).
    books = pq_codebooks(res_df, "rv", m=m, k=pq_k, iters=pq_iters,
                         id_col="_id",
                         local=fits_driver(emb) or None)
    bks = [np.asarray(b, dtype=np.float64) for b in books]
    encoded = _encode_cells(emb, id_col, vec_col, centroids, books,
                            residual=True) \
        .withColumnRenamed("_id", "neighbor_id")
    # --- driver-side probes + PER-(query, cell) ADC tables (|Q| x n_probe
    # rows, each m x pq_k doubles — tiny, broadcast).  The table is built
    # for the fold-order-normalized query, the probe uses numpy's norm.
    tab_rows = []
    for qid, qv in collect_query_rows(emb, id_col, vec_col, query_ids):
        qv = np.asarray(qv, dtype=np.float64)
        qvn = qv / fold_norm(qv)
        tab_rows += [(qid, cell, adc_tables(qvn - cents[cell], bks))
                     for cell in probe_cells(qv, cents, n_probe)]
    return _adc_topk(encoded, tab_rows, id_dt, m, k, on="cell_id")


def sq8_stats(emb: DataFrame, vec_col: str) -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    training step.  One posexplode + 64-group aggregation (map-side
    combinable, dim result rows); the collect is dim-bounded (the same
    bounded-driver-traffic discipline as the k-means centroid collects).
    min/max are exact data picks (no arithmetic), so they are bit-identical
    in every engine."""
    rows = (emb.select(F.posexplode(as_double(F.col(vec_col)))
                       .alias("i", "x"))
            .groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .orderBy("i").collect())
    return [float(r.mn) for r in rows], [float(r.mx) for r in rows]


def sq8_topk(emb: DataFrame, id_col: str, vec_col: str, query_ids: list,
             k: int = 10, queries: DataFrame | None = None) -> DataFrame:
    """Scalar-quantized (SQ8) asymmetric top-k: corpus vectors compress to
    one uint8 code per dimension (4x smaller than float32 — the standard
    memory/IO tier between raw vectors and PQ), queries stay full
    precision, and the score is the inner product of the query with the
    DEQUANTIZED corpus vector.  The FAISS ScalarQuantizer shape, expressed
    as pure codegen arithmetic.

    Determinism: code = least(255, floor((x - mn_i) * (255/(mx_i - mn_i))))
    and dequant = mn_i + code * ((mx_i - mn_i)/255) with the per-dim scale
    factors computed ONCE driver-side — identical IEEE double ops in Spark
    and the SQL oracle, so codes and scores match bit-for-bit.  Scores are
    rounded 6 dp and ranked with id tie-breaks through the narrow
    per-partition top-k.

    Scale shape: quantization bounds ride as dim-sized literal arrays (one
    constant-size projection, no shuffle — the IVF cell-assignment
    discipline); the scoring join broadcasts |Q| queries against one
    corpus scan of the 1-byte codes.  At 100 TB the code table is the
    persisted artifact (re-derive = one scan); compose with the IVF
    partitioner for sub-linear probes.
    """
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    # No local-setup arm (one collect of every vector for min/max + query
    # rows): a controlled alternating A/B measured it 15-30% SLOWER than
    # this distributed setup (distributed faster in 4/5 rounds, e.g. 1.13
    # vs 1.46 s warm) — unlike ivfsq_topk, which collapses three setup
    # jobs and keeps its gated arm, sq8 setup is only two cheap jobs: a
    # 64-row aggregated collect and a broadcast filter.
    mn, mx = sq8_stats(emb, vec_col)
    # `queries`: a caller that already holds the query vectors (the recall
    # audits' shared collect) passes them as a local relation instead of
    # paying another corpus filter scan
    q_src = queries if queries is not None else \
        emb.filter(F.col(id_col).isin(query_ids))
    q = F.broadcast(q_src
                    .select(F.col(id_col).alias("query_id"),
                            as_double(F.col(vec_col)).alias("qv")))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   _sq8_dequantized(as_double(F.col(vec_col)), mn, mx)
                   .alias("dv"))
    scored = (q.join(c, F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(dot(F.col("qv"), F.col("dv")), 6)
                      .alias("score")))
    return _per_query_topk(scored, k, score_col="score", asc=False)


def _sq8_dequantized(v: Column, mn: list, mx: list) -> Column:
    """SQ8 quantize then dequantize ``v``: code = least(255, floor((x -
    mn_i) * (255/(mx_i - mn_i)))) and dequant = mn_i + code * ((mx_i -
    mn_i)/255), the per-dim factors computed ONCE driver-side and riding
    as dim-sized literal arrays."""
    scale = [255.0 / (b - a) if b > a else 0.0 for a, b in zip(mn, mx)]
    step = [(b - a) / 255.0 for a, b in zip(mn, mx)]
    mnl, scl, stl = lit_doubles(mn), lit_doubles(scale), lit_doubles(step)
    codes = F.transform(
        v,
        lambda x, i: F.least(
            F.lit(255.0),
            F.floor((x - F.element_at(mnl, (i + F.lit(1)).cast("int")))
                    * F.element_at(scl, (i + F.lit(1)).cast("int")))
            .cast("double")))
    return F.zip_with(
        codes, F.transform(codes, lambda _c, i: (i + F.lit(1)).cast("int")),
        lambda c, idx: F.element_at(mnl, idx) + c * F.element_at(stl, idx))


def ivfsq_topk(emb: DataFrame, id_col: str, vec_col: str, query_ids: list,
               k: int = 10, n_cells: int = 16, n_probe: int = 4,
               local: bool | None = None) -> DataFrame:
    """IVF + SQ8 composed index (the FAISS "IVF,SQ8" shape — the most
    common production tier before PQ): the corpus is partitioned into
    ``n_cells`` Voronoi cells on the RAW vectors (assignment happens at
    add time, before quantization), stored as 1-byte-per-dimension SQ8
    codes, and a query probes its ``n_probe`` nearest cells scoring
    against DEQUANTIZED candidates — sub-linear probe cost from IVF, 4x
    memory/IO reduction from SQ8, in one index.

    Deterministic end-to-end (lowest-id centroids, round-6 scores, id
    tie-breaks) so the SQL oracle replays the whole
    quantize->assign->probe->rank pipeline exactly.

    Scale shape: cell assignment and quantization are both constant-size
    literal projections over one corpus scan (no shuffle); the probe join
    broadcasts |Q| x n_probe rows against the cell-pruned code scan; the
    rank rides the narrow per-partition top-k.  Persist (cell_id, codes)
    as the index artifact at 100 TB — cell-partitioned files mean a probe
    reads only n_probe/n_cells of the data (the layout
    streaming/ann.compact_code_store produces).
    """
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    # r13 local-setup arm (training-loop size gate): seeds, per-dim
    # min/max and the query rows each cost a job over a tiny relation;
    # one collect derives all three.  Both arms probe with
    # _probe_relation, and corpus-side assignment, quantize and scoring
    # stay distributed — only bounded setup localizes, so the 100 TB
    # shape is untouched.
    if fits_driver(emb, local):
        rows = emb.select(F.col(id_col).alias("_id"),
                          as_double(F.col(vec_col)).alias("v")).collect()
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        order = sorted(range(len(rows)), key=lambda i: rows[i]["_id"])
        cent_list = [[float(x) for x in mat[i]] for i in order[:n_cells]]
        mn = [float(x) for x in mat.min(axis=0)]
        mx = [float(x) for x in mat.max(axis=0)]
        want = set(query_ids)
        qrows = [(r["_id"], r["v"]) for r in rows if r["_id"] in want]
    else:
        cent_list = [list(r["cv"]) for r in
                     emb.orderBy(id_col).limit(n_cells)
                     .select(as_double(F.col(vec_col)).alias("cv"))
                     .collect()]
        mn, mx = sq8_stats(emb, vec_col)
        qrows = collect_query_rows(emb, id_col, vec_col, query_ids)
    probes = _probe_relation(emb, id_col, qrows, cent_list, n_probe)

    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv")))
    assigned = corpus.select(
        "neighbor_id",
        nearest_cell(F.col("nv"), F.col("nn"), cent_list).alias("cell_id"),
        _sq8_dequantized(F.col("nv"), mn, mx).alias("dv"))
    scored = (F.broadcast(probes).join(assigned, "cell_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(dot(F.col("qv"), F.col("dv")), 6)
                      .alias("score")))
    return _per_query_topk(scored, k, score_col="score", asc=False)


def rp_rerank_topk(emb: DataFrame, id_col: str, vec_col: str,
                   query_ids: list, k: int = 10, shortlist: int = 100,
                   out_dim: int = 16, seed: str = "rp",
                   in_dim: int | None = None) -> DataFrame:
    """JL-shortlist + exact re-rank: the production pattern for a random-
    projection tier.  Stage 1 scores cosine in the PROJECTED ``out_dim``-
    dim space (operators/vectors.random_projection — 4x cheaper dots at
    64->16) and keeps a ``shortlist`` of candidates per query; stage 2
    re-ranks ONLY the shortlist with exact full-dim cosine and returns
    top ``k``.  Projection is never the final ranker — JL preserves
    distances, not the last-ulp gaps between near-ties, so raw projected
    top-k recall is poor on isotropic data (measured 1-2/10 at sf0.01);
    the shortlist-then-rerank composition recovers it (4-8/10 at
    shortlist=100 over 500 vectors) and the exact arm touches only
    |Q| x shortlist rows.

    Plan shape: one projected-space broadcast-probe scan (zero corpus
    shuffle, narrow per-partition top-k), then the shortlist —
    |Q| x shortlist ids, driver-bounded — joins BACK to the corpus by id
    for exact scoring, again broadcast.  Returns (query_id, neighbor_id,
    cos, rank).
    """
    from kstream_spark.operators.vectors import random_projection
    if in_dim is None:  # cheap scalar probe; empty input -> empty result
        row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            return emb.sparkSession.createDataFrame(
                [], f"query_id long, neighbor_id long, cos double, "
                    f"rank long")
        in_dim = int(row["d"])
    dim = in_dim
    proj = random_projection(emb, vec_col, in_dim=dim, out_dim=out_dim,
                             seed=seed)
    cand = cosine_topk(proj.select(id_col, "rp"), id_col, "rp",
                       query_ids=query_ids, k=shortlist) \
        .select("query_id", "neighbor_id")
    q = F.broadcast(
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"),
                as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qn", norm(F.col("qv"))))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv")))
    scored = (F.broadcast(cand).join(c, "neighbor_id").join(q, "query_id")
              .select("query_id", "neighbor_id",
                      F.round(dot(F.col("qv"), F.col("nv"))
                              / (F.col("qn") * F.col("nn")), 6)
                      .alias("cos")))
    return _per_query_topk(scored, k, score_col="cos", asc=False)
