"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, O(|Q|·|N|), fine when the query
set is small and broadcastable (the common "find neighbors for this batch"
shape).  Scale path: random-hyperplane LSH bucketing — candidates meet only
inside a bucket, turning the |N|² all-pairs search into sum-of-bucket²; an
IVF-style coarse quantizer is the same pattern with learned centroids.

All arithmetic is JVM-side (functions/vectors.py) — no Python UDFs.
Similarities are rounded in-query and ranked on the ROUNDED value with id
tie-breaks, so results are deterministic across engines (oracle parity).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf string type hints resolve

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from kstream_spark.functions.vectors import as_double
from kstream_spark.util import local_df


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
    from kstream_spark.functions.vectors import dot, norm
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
    import numpy as np

    from kstream_spark.functions.vectors import norm
    from kstream_spark.util import ensure_parallelism, input_size_bytes

    emb = ensure_parallelism(emb)
    if n_blocks is None:
        size = input_size_bytes(emb)
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
            # HALF_UP to 6 dp, inlined (see np_round6_half_up); zero-norm
            # vectors divide to inf/nan — mask to -inf so they never pass
            raw[~np.isfinite(raw)] = -np.inf
            sims = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
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
        sims = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
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
    from kstream_spark.functions.vectors import dot, norm
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
    cost is irrelevant; the per-row Arrow paths keep their inlined binary
    round, where 7 rounds of oracle evidence show the boundary case does
    not arise for raw similarity values."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal("0.000001")
    arr = np.asarray(a, dtype=np.float64)
    out = np.array([float(Decimal(repr(float(x))).quantize(
        q, rounding=ROUND_HALF_UP)) for x in arr.ravel()],
        dtype=np.float64).reshape(arr.shape)
    return out if arr.shape else np.float64(out)


def md5_plane_matrix(dim: int, nbits: int, seed: int = 42):
    """Engine-portable pseudo-random hyperplanes: component (d, j) is
    md5("seed:d:j") first-8-hex-chars scaled to [-0.5, 0.5).  Every value
    is an exact dyadic rational, so Spark, DuckDB, or any engine derives
    the IDENTICAL matrix — signatures become oracle-checkable.  Uniform
    (not Gaussian) components are fine for sign-LSH: only the direction
    distribution changes slightly, and candidate precision is unaffected
    because survivors are exact-verified."""
    import hashlib

    import numpy as np

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
    import numpy as np
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
    from kstream_spark.functions.vectors import norm
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
        import numpy as np
        empty = dict(id_a=np.empty(0, dtype=object),
                     id_b=np.empty(0, dtype=object),
                     cos=np.empty(0, dtype=np.float64))
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        order = np.argsort(pdf["_id"].to_numpy())
        ids = pdf["_id"].to_numpy(dtype=object)[order]
        mat = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        nr = pdf["_n"].to_numpy()[order]
        raw = (mat @ mat.T) / np.outer(nr, nr)
        # HALF_UP to 6 dp, inlined (see np_round6_half_up — kept
        # closure-local so the pickled function has no module deps)
        sims = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
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
        from kstream_spark.util import input_size_bytes
        size = input_size_bytes(emb)
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
    from kstream_spark.functions.vectors import dot, norm
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


def _train_local(emb: DataFrame, id_col: str | None,
                 local_bytes: int | None, local: bool | None) -> bool:
    """Arm gate shared by the training loops: run Lloyd's driver-local
    when the INPUT is provably tiny (Catalyst scan stats — no job), the
    seed order is well-defined (id_col given), and the caller didn't pin
    an arm.  Missing stats (mapInPandas children, views) mean "can't
    prove small" and keep the distributed arm — the safe default at any
    scale."""
    if local is not None:
        return local
    if id_col is None or local_bytes is None:
        return False
    from kstream_spark.util import _plan_size_bytes
    size = _plan_size_bytes(emb)
    return size is not None and size <= local_bytes


def _collect_vecs_sorted_seeds(emb: DataFrame, vec_col: str, sort_key: str,
                               k: int):
    """One bounded action for the local training arm: collect the (vec,
    sort-key) projection in scan order and derive the k lowest-key seed
    ROW INDICES driver-side (same seed set as the distributed arm's
    ``orderBy(sort_key).limit(k)``; keys are unique in every caller, so
    tie order cannot differ).  Returns (mat, seed_indices)."""
    import numpy as np

    rows = emb.select(as_double(F.col(vec_col)).alias("v"),
                      F.col(sort_key).alias("_sk")).collect()
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    order = sorted(range(len(rows)), key=lambda i: rows[i]["_sk"])
    return mat, order[:k]


def kmeans_centroids(emb: DataFrame, vec_col: str, k: int = 16,
                     iters: int = 5, seed: int = 7,
                     id_col: str | None = None,
                     local_bytes: int | None = 32 << 20,
                     local: bool | None = None) -> list:
    """Lloyd's k-means over the embedding column, cosine-style (vectors and
    centroids L2-normalized each round).

    The heavy step — assigning every vector to its nearest centroid — runs
    distributed as one Arrow-batched matmul per batch; only the k x dim
    centroid matrix ever reaches the driver (per-cell sums reduced with a
    groupBy, so the pattern survives any corpus size).  Returns the centroid
    matrix as a list of lists (broadcastable literal).

    DETERMINISM / ORACLE PARITY: seeds are the k lowest rows by ``id_col``
    (falling back to ordering by the vector column itself — never an
    unordered limit, which is partition-order-dependent), and every derived
    quantity (seed components, assignment scores, cell means, re-normalized
    centroids) is rounded to 6 dp, so any engine replaying the same recipe
    — including the DuckDB SQL oracle — derives bit-identical centroids.
    Ties in assignment break toward the lowest cell id (np.argmax picks the
    first maximum), matching ORDER BY score DESC, cell ASC.

    HYBRID EXECUTION (r13, guide §1/§5): at the bench SFs the embeddings
    relation is thousands of rows, and each Lloyd iteration's cost is the
    ACTION (plan + Arrow round-trip + collect), not the math — k=8 x
    iters=3 paid 4 driver actions ~0.2 s each for ~1 ms of numpy.  When
    Catalyst scan stats prove the input <= ``local_bytes`` (default 32 MB
    — comfortably bounded driver traffic, the same class as the existing
    centroid/codebook collects), ONE action collects the vector column
    and every iteration runs driver-side with the IDENTICAL numpy
    expressions the executor partials use — on a single-partition
    single-Arrow-batch input (all bench SFs) that is bit-identical, and
    under any batching the shared round-6 HALF_UP discipline absorbs
    summation-order ulps exactly as it already does between the two
    distributed reduce paths and the SQL oracle.  ``local=True/False``
    pins the arm (parity tests); missing stats or ``local_bytes=None``
    keep the distributed arm — at 100 TB nothing changes.
    """
    import numpy as np

    sort_key = id_col if id_col is not None else vec_col
    if _train_local(emb, id_col, local_bytes, local):
        mat, seed_idx = _collect_vecs_sorted_seeds(emb, vec_col, sort_key, k)
        cents = mat[seed_idx].copy()
        cents = np_round6_half_up(
            cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True),
                               1e-12))
        for _ in range(iters):
            # same expressions as the executor partials, one full batch
            normed = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cells = np.argmax(np.round(normed @ cents.T, 6), axis=1)
            new = cents.copy()
            for cell in np.unique(cells):
                sel = mat[cells == cell]
                m = np_round6_half_up(sel.sum(axis=0) / sel.shape[0])
                nrm = np.linalg.norm(m)
                if nrm > 1e-12:
                    new[cell] = np_round6_half_up(m / nrm)
            if np.allclose(new, cents, atol=1e-9):
                cents = new
                break
            cents = new
        return cents.tolist()
    first = (emb.orderBy(sort_key).limit(k)
             .select(as_double(F.col(vec_col)).alias("v")).collect())
    cents = np.array([r["v"] for r in first], dtype=np.float64)
    cents = np_round6_half_up(
        cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True),
                           1e-12))
    dim = cents.shape[1]

    vecs = emb.select(as_double(F.col(vec_col)).alias("v")).persist()
    # partition count is fixed for the persisted relation — resolve the
    # reduction-path gate ONCE, not through a per-iteration .rdd round-trip
    nparts = vecs.rdd.getNumPartitions()
    schema = "cell int, n long, s array<double>"
    for _ in range(iters):
        c = cents  # capture current centroids in the closure

        def partials(batches):
            # assign + partially reduce inside each Arrow batch: emits at
            # most k rows per batch, so the driver only ever collects
            # ~num_partitions x k partial sums regardless of corpus size
            import numpy as np  # noqa: F811 — runs on executors
            for pdf in batches:
                mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
                normed = mat / np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                # round before argmax: any engine summing the dot product in
                # a different order assigns the identical cell (ties -> the
                # first/lowest cell, matching ORDER BY score DESC, cell ASC)
                cells = np.argmax(np.round(normed @ c.T, 6), axis=1)
                out = {"cell": [], "n": [], "s": []}
                for cell in np.unique(cells):
                    sel = mat[cells == cell]
                    out["cell"].append(int(cell))
                    out["n"].append(int(sel.shape[0]))
                    out["s"].append(sel.sum(axis=0).tolist())
                yield pd.DataFrame(out)

        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        # reduce the per-partition partials: up to a few dozen partitions
        # the raw k-rows-per-partition collect is cheapest; past that the
        # partials reduce DISTRIBUTED per (cell, component) — posexplode +
        # one map-side-combinable sum — so the driver collects <= k*dim
        # rows no matter how many partitions the corpus has (raw partials
        # would be O(partitions * k * dim) driver traffic at cluster
        # scale).  The distributed reduce folds each component's partials
        # in ASCENDING PARTITION-ID order (array_sort + aggregate), the
        # same order the driver path's collect loop uses — so both paths
        # produce BIT-identical sums (a free-order F.sum could differ in
        # the last ulp run-to-run and flip the HALF_UP round).
        part = vecs.mapInPandas(partials, schema=schema)
        if nparts <= 64:
            for r in part.collect():
                sums[r["cell"]] = sums.get(r["cell"], np.zeros(dim)) \
                    + np.array(r["s"], dtype=np.float64)
                counts[r["cell"]] = counts.get(r["cell"], 0) + r["n"]
        else:
            red = (part
                   .withColumn("pid", F.spark_partition_id())
                   .select("pid", "cell", "n",
                           F.posexplode("s").alias("sd", "x"))
                   .groupBy("cell", "sd")
                   .agg(F.aggregate(
                            F.array_sort(F.collect_list(
                                F.struct("pid", "x"))),
                            F.lit(0.0),
                            lambda acc, e: acc + e["x"]).alias("sx"),
                        F.sum("n").alias("nn"))
                   .collect())
            for r in red:
                sums.setdefault(r["cell"],
                                np.zeros(dim))[r["sd"]] = r["sx"]
                counts[r["cell"]] = r["nn"]   # same across a cell's sds
        new = cents.copy()
        for cell, s in sums.items():
            m = np_round6_half_up(s / counts[cell])
            norm = np.linalg.norm(m)
            if norm > 1e-12:
                new[cell] = np_round6_half_up(m / norm)
        if np.allclose(new, cents, atol=1e-9):
            cents = new
            break
        cents = new
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

    from kstream_spark.functions.vectors import dot, norm
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    if centroids is not None:
        cent_list = [[float(x) for x in c] for c in centroids]
    else:
        cent_list = [list(r["cv"]) for r in
                     emb.orderBy(id_col).limit(n_cells)
                     .select(as_double(F.col(vec_col)).alias("cv"))
                     .collect()]
    spark = emb.sparkSession

    # assign every corpus vector to its nearest centroid as a LITERAL
    # PROJECTION (the centroid matrix rides into the expression; no join,
    # no shuffle of the corpus — the ivfpq_topk shape; the old
    # join+per-row window form pushed corpus x n_cells rows through an
    # exchange just to argmax).  The matrix is a single nested Literal
    # (cell_cosine_scores) so the plan stays constant-size; argmax ties
    # toward the lowest cell via array_position's first-match.
    from kstream_spark.functions.vectors import cell_cosine_scores
    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv")))
    cell_scores = cell_cosine_scores(F.col("nv"), F.col("nn"), cent_list)
    assigned = corpus.withColumn(
        "cell_id",
        (F.array_position(cell_scores, F.array_max(cell_scores)) - 1)
        .cast("long")).select("neighbor_id", "nv", "nn", "cell_id")

    # queries probe their n_probe nearest cells — probe selection runs
    # DRIVER-SIDE on the |Q|-bounded query rows (the ivfpq_topk recipe,
    # r13: same round-6 cos, same (cos DESC, cell ASC) lexsort), which
    # replaces the centroid-relation broadcast join + rank window with a
    # tiny literal relation.  ``qn`` stays a JVM ``norm()`` column so the
    # downstream score arithmetic is bit-identical to the old plan.
    import numpy as np
    id_dt = emb.schema[id_col].dataType.simpleString()
    qrows = (query_rows if query_rows is not None
             else collect_query_rows(emb, id_col, vec_col, query_ids))
    cents_np = np.asarray(cent_list, dtype=np.float64)
    cnorm = np.sqrt((cents_np ** 2).sum(-1))
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        raw = (cents_np @ qv) / (cnorm * float(np.sqrt((qv ** 2).sum())))
        cos = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
        cell_order = np.lexsort((np.arange(len(cos)), -cos))
        for cell in cell_order[:n_probe]:
            probe_rows.append((r["query_id"], list(r["qv"]), int(cell)))
    probes = F.broadcast(local_df(
        spark, probe_rows, f"query_id {id_dt}, qv array<double>, "
                           f"cell_id long")
        .withColumn("qn", norm(F.col("qv"))))

    scored = (probes.join(assigned, "cell_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(dot(F.col("qv"), F.col("nv"))
                              / (F.col("qn") * F.col("nn")), 6).alias("cos")))
    return _per_query_topk(scored, k, score_col="cos", asc=False)


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

    from kstream_spark.functions.vectors import dot, norm
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    if centroids is None:
        centroids = kmeans_centroids(emb, vec_col, k=k, iters=iters,
                                     id_col=id_col)
    corpus = emb.select(F.col(id_col).alias("_id"),
                        as_double(F.col(vec_col)).alias("v")) \
        .withColumn("n", norm(F.col("v")))
    # the centroid matrix is a driver-side literal, so nearest-cell
    # assignment is a pure PROJECTION (k dot folds + argmax per row): no
    # k x n join blow-up, no row_number shuffle.  array_position picks the
    # FIRST maximum — ties break toward the lowest cell id, same as
    # ORDER BY score DESC, cell ASC in the oracle
    from kstream_spark.functions.vectors import cell_cosine_scores
    scores = cell_cosine_scores(F.col("v"), F.col("n"), centroids)
    assigned = corpus.withColumn(
        "cell_id",
        (F.array_position(scores, F.array_max(scores)) - 1).cast("long"))
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
        import numpy as np
        order = np.argsort(pdf["_id"].to_numpy())
        ids = pdf["_id"].to_numpy(dtype=object)[order]
        if len(ids) < 2:
            return pd.DataFrame({"_drop": np.empty(0, dtype=object)})
        mat = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        norms = pdf["n"].to_numpy()[order]
        raw = (mat @ mat.T) / np.outer(norms, norms)
        # HALF_UP to 6 dp, inlined (see np_round6_half_up)
        sims = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
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
                 local_bytes: int | None = 32 << 20,
                 local: bool | None = None) -> list:
    """Train product-quantization codebooks: the vector space splits into
    ``m`` contiguous subspaces (dim/m components each) and each learns an
    independent ``k``-codeword Euclidean k-means codebook (Jegou et al.
    2011) — the compressed-index half of a classical IVF-PQ ANN stack
    (operators/similarity.ivf_topk is the coarse half).

    Same scale + determinism discipline as kmeans_centroids: the heavy
    assign step is one Arrow-batched numpy pass per batch emitting at most
    m*k partial sums (driver traffic is O(partitions * m * k), corpus-size
    independent), seeds are the k lowest-``id_col`` rows' subvectors, and
    every distance/mean is rounded to 6 dp HALF_UP with ties toward the
    lowest code — so a SQL oracle replays training bit-for-bit.  Returns
    ``m`` lists of ``k`` codewords (list of lists of floats).

    HYBRID EXECUTION (r13): same size-gated driver-local arm as
    kmeans_centroids — when scan stats prove the input <= ``local_bytes``
    the whole training runs off ONE collect with the executor partials'
    exact numpy expressions (seed collect + iters actions collapse to a
    single action); ``local=True/False`` pins an arm, missing stats keep
    the distributed path.  Callers whose input has no stats (e.g. the
    residual mapInPandas chain) pass ``local=`` derived from their own
    source relation.
    """
    import numpy as np

    sort_key = id_col if id_col is not None else vec_col
    if _train_local(emb, id_col, local_bytes, local):
        mat, seed_idx = _collect_vecs_sorted_seeds(emb, vec_col, sort_key, k)
        dim = mat.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        seed_mat = mat[seed_idx]
        books = [seed_mat[:, j * sub:(j + 1) * sub].copy() for j in range(m)]
        for _ in range(iters):
            for j, cb in enumerate(books):
                # identical expressions to the executor partials
                x = mat[:, j * sub:(j + 1) * sub]
                raw = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                d = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
                codes = np.argmin(d, axis=1)
                for c in np.unique(codes):
                    sel = x[codes == c]
                    books[j][c] = np_round6_half_up(
                        sel.sum(axis=0) / sel.shape[0])
        return [b.tolist() for b in books]
    first = (emb.orderBy(sort_key).limit(k)
             .select(as_double(F.col(vec_col)).alias("v")).collect())
    seed_mat = np.array([r["v"] for r in first], dtype=np.float64)
    dim = seed_mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # books[j]: (k, sub) codewords for subspace j — raw data, no rounding
    books = [seed_mat[:, j * sub:(j + 1) * sub].copy() for j in range(m)]

    vecs = emb.select(as_double(F.col(vec_col)).alias("v")).persist()
    nparts = vecs.rdd.getNumPartitions()   # fixed while persisted; see kmeans
    schema = "j int, code int, n long, s array<double>"
    for _ in range(iters):
        bks = [b.copy() for b in books]

        def partials(batches):
            import numpy as np  # noqa: F811 — runs on executors
            for pdf in batches:
                mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
                out = {"j": [], "code": [], "n": [], "s": []}
                for j, cb in enumerate(bks):
                    x = mat[:, j * sub:(j + 1) * sub]
                    # sum((x - c)^2) per (row, code); HALF_UP round-6 then
                    # argmin with first-minimum tie-break == the oracle's
                    # ORDER BY dist ASC, code ASC
                    raw = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                    d = np.copysign(
                        np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
                    codes = np.argmin(d, axis=1)
                    for c in np.unique(codes):
                        sel = x[codes == c]
                        out["j"].append(j)
                        out["code"].append(int(c))
                        out["n"].append(int(sel.shape[0]))
                        out["s"].append(sel.sum(axis=0).tolist())
                yield pd.DataFrame(out)

        import numpy as np  # reimport for driver scope clarity
        # same hybrid as kmeans_centroids: direct collect while the
        # partial count is small; distributed per-(j, code, component)
        # reduction past 64 partitions, so driver traffic is <= m*k*sub
        # rows at any corpus size (raw partials grow O(partitions * m * k));
        # the fold runs in ascending partition-id order so the result is
        # BIT-identical to the driver path (see kmeans_centroids)
        sums: dict = {}
        counts: dict = {}
        part = vecs.mapInPandas(partials, schema=schema)
        if nparts <= 64:
            for r in part.collect():
                key = (r["j"], r["code"])
                sums[key] = sums.get(key, np.zeros(sub)) \
                    + np.array(r["s"], dtype=np.float64)
                counts[key] = counts.get(key, 0) + r["n"]
        else:
            red = (part
                   .withColumn("pid", F.spark_partition_id())
                   .select("pid", "j", "code", "n",
                           F.posexplode("s").alias("sd", "x"))
                   .groupBy("j", "code", "sd")
                   .agg(F.aggregate(
                            F.array_sort(F.collect_list(
                                F.struct("pid", "x"))),
                            F.lit(0.0),
                            lambda acc, e: acc + e["x"]).alias("sx"),
                        F.sum("n").alias("nn"))
                   .collect())
            for r in red:
                key = (r["j"], r["code"])
                sums.setdefault(key, np.zeros(sub))[r["sd"]] = r["sx"]
                counts[key] = r["nn"]     # identical across a code's sds
        for (j, c), s in sums.items():
            books[j][c] = np_round6_half_up(s / counts[(j, c)])
    vecs.unpersist()
    return [b.tolist() for b in books]


def pq_encode(emb: DataFrame, id_col: str, vec_col: str,
              codebooks: list) -> DataFrame:
    """Encode each vector as ``m`` codebook indices — dim*8 bytes become m
    bytes (the PQ compression step).  Pure Arrow-batched projection: the
    codebooks ride into the closure as literals, no join, no shuffle.
    Returns (id, codes array<int>); deterministic (round-6 HALF_UP
    distances, lowest-code ties) so the oracle re-derives every code."""
    import numpy as np

    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = bks[0].shape[1]
    id_dt = emb.schema[id_col].dataType.simpleString()
    src = emb.select(F.col(id_col).alias("_id"),
                     as_double(F.col(vec_col)).alias("v"))

    def encode(batches):
        import numpy as np  # noqa: F811
        for pdf in batches:
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            cols = []
            for j, cb in enumerate(bks):
                x = mat[:, j * sub:(j + 1) * sub]
                raw = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                d = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
                cols.append(np.argmin(d, axis=1))
            codes = np.stack(cols, axis=1)
            yield pd.DataFrame({"_id": pdf["_id"].to_numpy(dtype=object),
                                "codes": list(codes.astype(int).tolist())})

    out = src.mapInPandas(encode, schema=f"_id {id_dt}, codes array<int>")
    return out.withColumnRenamed("_id", id_col)


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
    import numpy as np

    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m_, kk = len(bks), bks[0].shape[0]
    sub = bks[0].shape[1]
    codes = pq_encode(emb, id_col, vec_col, codebooks) \
        .withColumnRenamed(id_col, "neighbor_id")

    # per-query distance tables, built driver-side (|Q| x m x k doubles —
    # tiny) and broadcast as literal arrays; ``query_rows`` (r14) lets a
    # recall audit share one collect across its arms
    qrows = (query_rows if query_rows is not None
             else collect_query_rows(emb, id_col, vec_col, query_ids))
    spark = emb.sparkSession
    tab_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        tabs = []
        for j, cb in enumerate(bks):
            x = qv[j * sub:(j + 1) * sub]
            raw = ((cb - x[None, :]) ** 2).sum(-1)
            d = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
            tabs.append([float(v) for v in d])
        tab_rows.append((r["query_id"], tabs))
    id_dt = emb.schema[id_col].dataType.simpleString()
    tables = F.broadcast(local_df(
        spark, tab_rows, f"query_id {id_dt}, tabs array<array<double>>"))

    # adist = sum_j tabs[j][codes[j]] — m element_at lookups, codegen only
    adist = None
    for j in range(m_):
        term = F.element_at(F.element_at("tabs", j + 1),
                            F.element_at("codes", j + 1) + 1)
        adist = term if adist is None else adist + term
    scored = (codes.join(tables,
                         F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(adist, 6).alias("adist")))
    return _per_query_topk(scored, k)


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

    import numpy as np

    from kstream_spark.functions.vectors import dot, norm

    # --- coarse assignment as a literal projection (semantic_dedup shape;
    # single nested-Literal matrix — see cell_cosine_scores)
    from kstream_spark.functions.vectors import cell_cosine_scores
    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        as_double(F.col(vec_col)).alias("v")) \
        .withColumn("n", norm(F.col("v")))
    cell_scores = cell_cosine_scores(F.col("v"), F.col("n"), centroids)
    assigned = corpus.withColumn(
        "cell_id",
        (F.array_position(cell_scores, F.array_max(cell_scores)) - 1)
        .cast("long"))

    # --- PQ codes, carrying cell_id through the Arrow projection
    bks = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = bks[0].shape[1]
    id_dt = emb.schema[id_col].dataType.simpleString()

    def encode(batches):
        import numpy as np  # noqa: F811
        for pdf in batches:
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            cols = []
            for j, cb in enumerate(bks):
                x = mat[:, j * sub:(j + 1) * sub]
                raw = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                d = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
                cols.append(np.argmin(d, axis=1))
            codes = np.stack(cols, axis=1)
            yield pd.DataFrame(
                {"neighbor_id": pdf["neighbor_id"].to_numpy(dtype=object),
                 "cell_id": pdf["cell_id"].to_numpy(dtype=object),
                 "codes": list(codes.astype(int).tolist())})

    encoded = assigned.select("neighbor_id", "cell_id", "v").mapInPandas(
        encode, schema=f"neighbor_id {id_dt}, cell_id long, codes array<int>")

    # --- probes + per-query ADC tables, built driver-side (tiny)
    qrows = (query_rows if query_rows is not None
             else collect_query_rows(emb, id_col, vec_col, query_ids))
    spark = emb.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((cents ** 2).sum(-1))
    probe_rows, tab_rows = [], []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        raw = (cents @ qv) / (cnorm * float(np.sqrt((qv ** 2).sum())))
        cos = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
        # ORDER BY cos DESC, cell ASC — argsort on (-cos, cell) is stable
        order = np.lexsort((np.arange(len(cos)), -cos))
        for cell in order[:n_probe]:
            probe_rows.append((r["query_id"], int(cell)))
        tabs = []
        for j, cb in enumerate(bks):
            x = qv[j * sub:(j + 1) * sub]
            rawd = ((cb - x[None, :]) ** 2).sum(-1)
            d = np.copysign(np.floor(np.abs(rawd) * 1e6 + 0.5) / 1e6, rawd)
            tabs.append([float(v) for v in d])
        tab_rows.append((r["query_id"], tabs))
    probes = F.broadcast(local_df(
        spark, probe_rows, f"query_id {id_dt}, cell_id long"))
    tables = F.broadcast(local_df(
        spark, tab_rows, f"query_id {id_dt}, tabs array<array<double>>"))

    adist = None
    for j in range(len(bks)):
        term = F.element_at(F.element_at("tabs", j + 1),
                            F.element_at("codes", j + 1) + 1)
        adist = term if adist is None else adist + term
    scored = (encoded.join(probes, "cell_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .join(tables, "query_id")
              .select("query_id", "neighbor_id",
                      F.round(adist, 6).alias("adist")))
    return _per_query_topk(scored, k)


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

    import numpy as np

    from kstream_spark.functions.vectors import dot, norm

    # --- coarse assignment: literal projection (ivfpq_topk shape;
    # single nested-Literal matrix — see cell_cosine_scores)
    from kstream_spark.functions.vectors import cell_cosine_scores
    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        as_double(F.col(vec_col)).alias("v")) \
        .withColumn("n", norm(F.col("v")))
    cell_scores = cell_cosine_scores(F.col("v"), F.col("n"), centroids)
    assigned = corpus.withColumn(
        "cell_id",
        (F.array_position(cell_scores, F.array_max(cell_scores)) - 1)
        .cast("long")).select(
            "neighbor_id", "cell_id",
            # normalize JVM-side: norm() is a left-to-right fold, the
            # same summation order the oracle's list_sum uses — a numpy
            # pairwise sum here could differ in the last ulp
            F.transform(F.col("v"), lambda x: x / F.col("n")).alias("v"))
    cents = np.asarray(centroids, dtype=np.float64)
    id_dt = emb.schema[id_col].dataType.simpleString()

    # --- residuals: one Arrow pass (v/||v|| - centroid[cell], exact
    # double subtraction on the already-normalized components)
    def residual(batches):
        import numpy as np  # noqa: F811
        for pdf in batches:
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            cells = pdf["cell_id"].to_numpy().astype(np.int64)
            res = mat - cents[cells]
            yield pd.DataFrame(
                {"neighbor_id": pdf["neighbor_id"].to_numpy(dtype=object),
                 "cell_id": pdf["cell_id"].to_numpy(dtype=object),
                 "rv": list(res.tolist())})

    res_df = assigned.mapInPandas(
        residual,
        schema=f"neighbor_id {id_dt}, cell_id long, rv array<double>")

    # --- PQ codebooks trained ON RESIDUALS (seeds: k lowest-id residuals).
    # res_df is a mapInPandas child — no Catalyst stats — but its row set
    # is exactly emb's, so the local-arm gate reads the SOURCE relation's
    # scan stats (r13: collapses seed collect + persist fill + per-iter
    # actions, each of which re-ran the assign+residual chain, into one).
    books = pq_codebooks(res_df, "rv", m=m, k=pq_k, iters=pq_iters,
                         id_col="neighbor_id",
                         local=_train_local(emb, "neighbor_id", 32 << 20,
                                            None) or None)
    bks = [np.asarray(b, dtype=np.float64) for b in books]
    sub = bks[0].shape[1]

    # --- encode residuals, carrying cell_id (no join back)
    def encode(batches):
        import numpy as np  # noqa: F811
        for pdf in batches:
            mat = np.vstack(pdf["rv"].to_numpy()).astype(np.float64)
            cols = []
            for j, cb in enumerate(bks):
                x = mat[:, j * sub:(j + 1) * sub]
                raw = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                d = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
                cols.append(np.argmin(d, axis=1))
            codes = np.stack(cols, axis=1)
            yield pd.DataFrame(
                {"neighbor_id": pdf["neighbor_id"].to_numpy(dtype=object),
                 "cell_id": pdf["cell_id"].to_numpy(dtype=object),
                 "codes": list(codes.astype(int).tolist())})

    encoded = res_df.mapInPandas(
        encode, schema=f"neighbor_id {id_dt}, cell_id long, codes array<int>")

    # --- driver-side probes + PER-(query, cell) ADC tables (|Q| x n_probe
    # rows, each m x pq_k doubles — tiny, broadcast)
    qrows = (emb.filter(F.col(id_col).isin(query_ids))
             .select(F.col(id_col).alias("query_id"),
                     as_double(F.col(vec_col)).alias("qv")).collect())
    spark = emb.sparkSession
    cnorm = np.sqrt((cents ** 2).sum(-1))
    tab_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        raw = (cents @ qv) / (cnorm * float(np.sqrt((qv ** 2).sum())))
        cos = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
        order = np.lexsort((np.arange(len(cos)), -cos))
        # fold-order norm (left-to-right adds, matching the JVM/oracle
        # fold) — np.sum's pairwise summation can differ in the last ulp
        acc = 0.0
        for x in qv:
            acc += float(x) * float(x)
        qvn = qv / float(np.sqrt(acc))
        for cell in order[:n_probe]:
            qres = qvn - cents[int(cell)]
            tabs = []
            for j, cb in enumerate(bks):
                x = qres[j * sub:(j + 1) * sub]
                rawd = ((cb - x[None, :]) ** 2).sum(-1)
                d = np.copysign(np.floor(np.abs(rawd) * 1e6 + 0.5) / 1e6,
                                rawd)
                tabs.append([float(v) for v in d])
            tab_rows.append((r["query_id"], int(cell), tabs))
    tables = F.broadcast(local_df(
        spark, tab_rows,
        f"query_id {id_dt}, cell_id long, tabs array<array<double>>"))

    adist = None
    for j in range(m):
        term = F.element_at(F.element_at("tabs", j + 1),
                            F.element_at("codes", j + 1) + 1)
        adist = term if adist is None else adist + term
    scored = (encoded.join(tables, on="cell_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(adist, 6).alias("adist")))
    return _per_query_topk(scored, k)


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
    from kstream_spark.functions.vectors import dot
    emb = ensure_parallelism(emb)
    # No local-setup arm (one collect of every vector for min/max + query
    # rows): a controlled alternating A/B measured it 15-30% SLOWER than
    # this distributed setup (distributed faster in 4/5 rounds, e.g. 1.13
    # vs 1.46 s warm) — unlike ivfsq_topk, which collapses three setup
    # jobs incl. a window and keeps its gated arm, sq8 setup is only two
    # cheap jobs: a 64-row aggregated collect and a broadcast filter.
    mn, mx = sq8_stats(emb, vec_col)
    # `queries`: a caller that already holds the query vectors (the recall
    # audits' shared collect) passes them as a local relation instead of
    # paying another corpus filter scan
    q_src = queries if queries is not None else \
        emb.filter(F.col(id_col).isin(query_ids))
    q = F.broadcast(q_src
                    .select(F.col(id_col).alias("query_id"),
                            as_double(F.col(vec_col)).alias("qv")))
    scale = [255.0 / (b - a) if b > a else 0.0 for a, b in zip(mn, mx)]
    step = [(b - a) / 255.0 for a, b in zip(mn, mx)]
    from kstream_spark.functions.vectors import lit_doubles
    mnl, scl, stl = lit_doubles(mn), lit_doubles(scale), lit_doubles(step)
    codes = F.transform(
        as_double(F.col(vec_col)),
        lambda x, i: F.least(
            F.lit(255.0),
            F.floor((x - F.element_at(mnl, (i + F.lit(1)).cast("int")))
                    * F.element_at(scl, (i + F.lit(1)).cast("int")))
            .cast("double")))
    dq = F.zip_with(
        codes, F.transform(codes, lambda _c, i: (i + F.lit(1)).cast("int")),
        lambda c, idx: F.element_at(mnl, idx) + c * F.element_at(stl, idx))
    c = emb.select(F.col(id_col).alias("neighbor_id"), dq.alias("dv"))
    scored = (q.join(c, F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(dot(F.col("qv"), F.col("dv")), 6)
                      .alias("score")))
    return _per_query_topk(scored, k, score_col="score", asc=False)


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
    from kstream_spark.functions.vectors import (cell_cosine_scores, dot,
                                                 norm)
    from kstream_spark.util import ensure_parallelism
    emb = ensure_parallelism(emb)
    id_dt = emb.schema[id_col].dataType.simpleString()
    spark = emb.sparkSession
    # r13 local-setup arm (training-loop size gate): seeds, per-dim
    # min/max, and the probe selection each cost a job over a tiny
    # relation; one collect derives all three.  Probe choice runs the
    # ivfpq_topk driver-side recipe (same round-6 cos, same
    # (cos DESC, cell ASC) lexsort).  Corpus-side assignment, quantize
    # and scoring stay distributed — only bounded setup localizes, so
    # the 100 TB shape is untouched (stats past the gate keep every
    # job distributed exactly as before).
    probes = None
    if _train_local(emb, id_col, 32 << 20, local):
        import numpy as np
        rows = emb.select(F.col(id_col).alias("_id"),
                          as_double(F.col(vec_col)).alias("v")).collect()
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        order = sorted(range(len(rows)), key=lambda i: rows[i]["_id"])
        cent_list = [[float(x) for x in mat[i]] for i in order[:n_cells]]
        mn = [float(x) for x in mat.min(axis=0)]
        mx = [float(x) for x in mat.max(axis=0)]
        cents_np = np.asarray(cent_list, dtype=np.float64)
        cnorm = np.sqrt((cents_np ** 2).sum(-1))
        want = set(query_ids)
        probe_rows = []
        for i, r in enumerate(rows):
            if r["_id"] not in want:
                continue
            qv = mat[i]
            raw = (cents_np @ qv) / (cnorm * float(np.sqrt((qv ** 2).sum())))
            cos = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
            cell_order = np.lexsort((np.arange(len(cos)), -cos))
            for cell in cell_order[:n_probe]:
                probe_rows.append((r["_id"], [float(x) for x in r["v"]],
                                   int(cell)))
        probes = F.broadcast(local_df(
            spark, probe_rows,
            f"query_id {id_dt}, qv array<double>, cell_id long"))
    else:
        cent_list = [list(r["cv"]) for r in
                     emb.orderBy(id_col).limit(n_cells)
                     .select(as_double(F.col(vec_col)).alias("cv"))
                     .collect()]
        mn, mx = sq8_stats(emb, vec_col)
    scale = [255.0 / (b - a) if b > a else 0.0 for a, b in zip(mn, mx)]
    step = [(b - a) / 255.0 for a, b in zip(mn, mx)]
    from kstream_spark.functions.vectors import lit_doubles
    mnl, scl, stl = lit_doubles(mn), lit_doubles(scale), lit_doubles(step)

    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv")))
    cell_scores = cell_cosine_scores(F.col("nv"), F.col("nn"), cent_list)
    codes = F.transform(
        F.col("nv"),
        lambda x, i: F.least(
            F.lit(255.0),
            F.floor((x - F.element_at(mnl, (i + F.lit(1)).cast("int")))
                    * F.element_at(scl, (i + F.lit(1)).cast("int")))
            .cast("double")))
    dq = F.zip_with(
        codes, F.transform(codes, lambda _c, i: (i + F.lit(1)).cast("int")),
        lambda c, idx: F.element_at(mnl, idx) + c * F.element_at(stl, idx))
    assigned = corpus.select(
        "neighbor_id",
        (F.array_position(cell_scores, F.array_max(cell_scores)) - 1)
        .cast("long").alias("cell_id"),
        dq.alias("dv"))

    if probes is None:
        cents = F.broadcast(local_df(
            spark, [(i, c) for i, c in enumerate(cent_list)],
            "cell_id long, cv array<double>")
            .withColumn("cn", norm(F.col("cv"))))
        queries = emb.filter(F.col(id_col).isin(query_ids)) \
            .select(F.col(id_col).alias("query_id"),
                    as_double(F.col(vec_col)).alias("qv")) \
            .withColumn("qn", norm(F.col("qv")))
        w_probe = W.partitionBy("query_id").orderBy(F.desc("cell_cos"),
                                                    F.asc("cell_id"))
        probes = (F.broadcast(queries).join(cents)
                  .withColumn("cell_cos",
                              F.round(dot(F.col("qv"), F.col("cv"))
                                      / (F.col("qn") * F.col("cn")), 6))
                  .withColumn("rn", F.row_number().over(w_probe))
                  .filter(F.col("rn") <= n_probe)
                  .select("query_id", "qv", "cell_id"))
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
    from kstream_spark.functions.vectors import dot, norm
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
