"""Training-data selection operators: importance resampling (DSIR-style),
diversity coresets (greedy k-center), and diversified re-ranking (MMR).

These extend the dedup/similarity family (the reference engine,
/root/reference/kstream, has no analog — it stops at record routing) with
the *selection* step of a pretraining pipeline: after dedup decides what is
redundant, selection decides what is WORTH KEEPING, either because it looks
like a target domain (importance resampling, Xie et al. 2023 "Data
Selection for Language Models via Importance Resampling"), because it adds
geometric coverage (k-center / farthest-point traversal, Gonzalez 1985), or
because a retrieved top-k should trade relevance against redundancy
(maximal marginal relevance, Carbonell & Goldstein 1998).

Determinism discipline (oracle parity): hashed features use the portable
md5-prefix bucket (engine-independent); per-document log-ratio scores are
quantized to integer MICRO units so sums are exact in any order (the
unigram_logprob trick, operators/corpus.py); distances/similarities are
rounded to 6 dp in-query and every argmax breaks ties on the id.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf string type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kstream_spark.functions.vectors import as_double, dot, norm


# -- DSIR-style hashed importance resampling --------------------------------
def _dsir_tokens(df: DataFrame, id_col: str, text_col: str,
                 n_buckets: int, extra=None) -> DataFrame:
    """(id, bucket) token stream: whitespace tokens hashed into
    ``n_buckets`` portable md5 feature buckets (seed 'dsir').

    Buckets go through a per-task word->bucket MEMO: a word's bucket is
    a pure function of the word and natural-language token streams are
    maximally repetitive (Zipf), so the md5 cost collapses to O(distinct
    words) per task — the same workload lesson as
    ``dedup._doc_local_minhash`` (sf1 A/B: 1.32s -> 0.78s warm for the
    bucket-count pass, against a stateless explode + md5-per-occurrence
    expression).  Splits with ``functions/text.py_words`` (Java's
    ``\\s`` class) over JVM-lowered text and drops empties, so it
    replays the DuckDB oracle.

    md5-per-token is CPU-heavy per input byte — spread a few-split scan
    across cores first (the shingle_sets floor; without it a small-file
    corpus serializes the whole hash fan-out onto one or two tasks)."""
    import hashlib

    import pandas as pd

    from kstream_spark.functions.text import py_words
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism
    df = ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES)
    cols = [F.col(id_col)] + ([] if extra is None else [extra])
    proj = df.select(*cols, F.lower(F.col(text_col)).alias("__txt"))
    keys = [f.name for f in proj.schema.fields[:-1]]
    key_types = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in proj.schema.fields[:-1])

    def run(batches):
        memo: dict = {}
        MEMO_CAP = 1 << 22
        md5 = hashlib.md5

        def bucket(w: str) -> int:
            b = memo.get(w)
            if b is None:
                b = int(md5(b"dsir:" + w.encode()).hexdigest()[:8],
                        16) % n_buckets
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                memo[w] = b
            return b

        for pdf in batches:
            out: dict = {k: [] for k in keys}
            bs: list = []
            for row in zip(*(pdf[k] for k in keys), pdf["__txt"]):
                *kv, text = row
                for w in py_words(text):
                    if w:
                        for k, v in zip(keys, kv):
                            out[k].append(v)
                        bs.append(bucket(w))
            yield pd.DataFrame({**out, "_b": bs})

    return proj.mapInPandas(run, f"{key_types}, _b long")


def dsir_weights(df: DataFrame, text_col: str, target_pred,
                 n_buckets: int = 256) -> DataFrame:
    """The trained DSIR "model": per-bucket integer micro-log-ratio
    weights, (bucket, weight_micro).  A bucket's weight is the smoothed
    log-ratio of its probability under the TARGET distribution (rows
    matching ``target_pred``) vs the RAW distribution (the whole corpus).
    ``n_buckets`` rows — persist it (parquet) and broadcast it at apply
    time; the streaming admission path (streaming/selection.py) scores
    arrivals against exactly this table."""
    tok = _dsir_tokens(df.withColumn(
        "__t", F.lit(True) if target_pred is None else target_pred),
        "__t", text_col, n_buckets)
    counts = tok.groupBy("_b").agg(
        F.count("*").alias("_cs"),
        F.sum(F.col("__t").cast("long")).alias("_ct"))
    tot = counts.agg(F.sum("_cs").alias("_ns"), F.sum("_ct").alias("_nt"))
    return (counts.crossJoin(F.broadcast(tot))
            .select(F.col("_b").alias("bucket"),
                    F.round((F.log((F.col("_ct") + 1)
                                   / (F.col("_nt") + F.lit(n_buckets)))
                             - F.log((F.col("_cs") + 1)
                                     / (F.col("_ns") + F.lit(n_buckets))))
                            * 1e6, 0).cast("long").alias("weight_micro")))


def dsir_apply(df: DataFrame, id_col: str, text_col: str,
               weights: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Score documents against a (persisted) DSIR weight table: per-doc
    exact integer sum of token-bucket weights.  Returns
    (id, n_tokens, dsir_micro).  Tokens hashing into buckets absent from
    the table (possible when scoring NEW data against an old model)
    contribute 0 — the neutral prior, not a dropped token."""
    tok = _dsir_tokens(df, id_col, text_col, n_buckets)
    w = F.broadcast(weights.select(F.col("bucket").alias("_b"),
                                   F.col("weight_micro").alias("_w")))
    return (tok.join(w, "_b", "left")
            .withColumn("_w", F.coalesce("_w", F.lit(0)))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("_w").alias("dsir_micro")))


def dsir_scores(df: DataFrame, id_col: str, text_col: str,
                target_pred, n_buckets: int = 256,
                share_tokens: bool = False) -> DataFrame:
    """Per-document importance score for target-domain selection.

    Hashed n-gram importance resampling: tokens hash into ``n_buckets``
    feature buckets; a bucket's weight is the smoothed log-ratio of its
    probability under the TARGET distribution (rows matching
    ``target_pred``) vs the RAW distribution (the whole corpus); a
    document's score is the sum of its tokens' bucket weights — documents
    whose token profile looks like the target float up.  This is the
    hashed-feature reduction of DSIR (Xie et al. 2023): the full method
    resamples with Gumbel noise; the deterministic engine variant ranks by
    the exact importance weight so reruns and engines agree.

    Numeric determinism: bucket log-ratios are quantized to integer
    micro-units (round(lr * 1e6)) so the per-doc sum is an exact integer
    sum, identical in any engine and any aggregation order.  Returns
    (id, n_tokens, dsir_micro) — dsir_micro/1e6 is the log importance
    weight; consumers rank by it (select_dsir) or threshold it.

    Scale shape: two bucket-count aggregations (map-side combinable,
    ``n_buckets`` result rows), one broadcast of the tiny weight table
    back onto the token stream, one per-doc map-side-combinable sum.  The
    corpus token stream is never shuffled; at 100 TB the only shuffled
    keys are the n_buckets feature ids and the doc ids (count-bounded
    partial aggs).  add-1 smoothing keeps empty buckets finite.  In the
    train-once/score-many production shape, ``dsir_weights`` persists and
    ``dsir_apply`` scores (this convenience fuses them for the
    oracle-checked single-corpus query).

    Shape note (r10 A/B at sf1): a single-pass variant that compacted
    the token stream to a persisted per-(doc, bucket) count relation —
    "hash every token once" — measured SLOWER (2.5s vs 2.0s): the
    (doc, bucket) groupBy is a WIDE shuffle (nearly token-cardinality
    keys, so map-side combine buys little) plus a corpus-sized persist,
    which together cost more than the second explode+md5 pass.  The
    same argument holds harder at 100 TB, where a shuffle is as
    expensive as the scan it would save and the persist becomes
    terabytes of executor storage — so ``share_tokens=False`` (the
    stateless two-pass composition) stays the scale default.

    ``share_tokens=True`` (r11) is the QUERY-SCALE arm the r9-r11
    verdicts asked for: the raw (id, flag, bucket) token relation
    persists ONCE — no extra shuffle, unlike the r10 count-compaction —
    and both the weight aggregation and the per-doc scoring read the
    cache, so the corpus is exploded+md5-hashed once instead of twice
    (sf1 A/B: 3.1s -> 2.5s warm).  The persist is token-stream-sized:
    right when the corpus slice fits executor storage, wrong at 100 TB."""
    if not share_tokens:
        return dsir_apply(df, id_col, text_col,
                          dsir_weights(df, text_col, target_pred, n_buckets),
                          n_buckets)
    from kstream_spark.util import owned
    flagged = df.withColumn(
        "__t", F.lit(True) if target_pred is None else target_pred)
    tok = owned(_dsir_tokens(flagged, id_col, text_col, n_buckets,
                             extra=F.col("__t")).persist())
    counts = tok.groupBy("_b").agg(
        F.count("*").alias("_cs"),
        F.sum(F.col("__t").cast("long")).alias("_ct"))
    tot = counts.agg(F.sum("_cs").alias("_ns"), F.sum("_ct").alias("_nt"))
    w = (counts.crossJoin(F.broadcast(tot))
         .select("_b",
                 F.round((F.log((F.col("_ct") + 1)
                                / (F.col("_nt") + F.lit(n_buckets)))
                          - F.log((F.col("_cs") + 1)
                                  / (F.col("_ns") + F.lit(n_buckets))))
                         * 1e6, 0).cast("long").alias("_w")))
    return (tok.join(F.broadcast(w), "_b", "left")
            .withColumn("_w", F.coalesce("_w", F.lit(0)))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("_w").alias("dsir_micro")))


def select_dsir(df: DataFrame, id_col: str, text_col: str, target_pred,
                n_select: int = 100, n_buckets: int = 256,
                share_tokens: bool = False) -> DataFrame:
    """Top-``n_select`` documents by DSIR importance weight (the selection
    step).  Rank is over the EXACT integer micro-score with id tie-break,
    so the kept set is bit-stable across engines and reruns.

    Scale note: the global top-n is ``orderBy + limit``, which Spark
    compiles to TakeOrderedAndProject — per-partition JVM top-n then a
    driver merge of partitions*n rows, no reducer ever sorts the whole
    corpus's scores (the r11 shape routed the same prune through
    _per_query_topk's mapInPandas, paying an Arrow round-trip of every
    doc's score for a single query group).  (dsir_micro, id) is a total
    order, so the kept set and ranks are bit-stable.
    """
    scored = dsir_scores(df, id_col, text_col, target_pred, n_buckets,
                         share_tokens=share_tokens)
    kept = scored.orderBy(F.desc("dsir_micro"), F.asc(id_col)) \
        .limit(n_select)
    # rank over the already-limited n_select rows — a single-partition
    # window over a bounded relation, not a corpus sort
    from pyspark.sql import Window as W
    w = W.orderBy(F.desc("dsir_micro"), F.asc(id_col))
    return kept.withColumn("rank", F.row_number().over(w).cast("long")) \
        .select(id_col, "n_tokens", "dsir_micro", "rank")


# -- greedy k-center coreset (farthest-point traversal) ---------------------
def kcenter_select(emb: DataFrame, id_col: str, vec_col: str,
                   k: int = 8) -> DataFrame:
    """Greedy k-center coreset over an embedding column: start from the
    smallest id, then repeatedly add the point FARTHEST (max-min squared
    L2, rounded 6 dp, id tie-break) from the chosen set — the classic
    2-approximation to the k-center objective (Gonzalez 1985) and a
    standard diversity-coreset pick for training-data curation.

    Returns (rank, vec_id, dist): dist is the selected point's round-6
    squared L2 distance to the nearest EARLIER center (0.0 for the seed) —
    the monotone non-increasing "coverage radius" curve.

    Scale shape: each of the k rounds is ONE full scan + map-side
    combinable 1-row max aggregation; the chosen centers ride as a
    constant-size literal matrix (k x dim, same discipline as the IVF
    cell assignment), so no corpus shuffle ever happens and driver
    traffic is one row per round — the irreducible sequential dependency
    of the greedy algorithm, same shape as the BPE merge loop
    (operators/text.bpe_train).  k scans of 100 TB are the honest cost;
    production k-center at that scale samples per-partition candidates
    first — composing this with deterministic_sample gives exactly that.
    """
    id_type = dict(emb.dtypes)[id_col]  # id-type-agnostic (string ids OK)
    base = (emb.select(F.col(id_col).alias("vec_id"),
                       as_double(F.col(vec_col)).alias("v"))
            .persist())
    try:
        seed = (base.orderBy("vec_id").limit(1)
                .select("vec_id", "v").collect()[0])
        centers = [(seed.vec_id, [float(x) for x in seed.v], 0.0)]
        for _ in range(k - 1):
            from kstream_spark.functions.vectors import lit_double_matrix
            cmat = lit_double_matrix([c[1] for c in centers])
            dists = F.transform(
                cmat,
                lambda cv: F.round(
                    F.aggregate(F.zip_with(F.col("v"), cv,
                                           lambda x, y: (x - y) * (x - y)),
                                F.lit(0.0), lambda a, x: a + x), 6))
            # orderBy+limit(1) compiles to TakeOrderedAndProject —
            # per-partition top-1 then a 1-row driver merge, and unlike
            # the max-struct-with-negated-id trick it needs no numeric id
            nxt = (base.select("vec_id", "v",
                               F.array_min(dists).alias("d"))
                   .orderBy(F.desc("d"), F.asc("vec_id"))
                   .limit(1).collect()[0])
            if any(c[0] == nxt.vec_id for c in centers):
                break  # k > n: every point is already a center
            centers.append((nxt.vec_id, [float(x) for x in nxt.v],
                            float(nxt.d)))
        from kstream_spark.util import local_df
        spark = emb.sparkSession
        return local_df(
            spark, [(i + 1, c[0], c[2]) for i, c in enumerate(centers)],
            f"rank bigint, vec_id {id_type}, dist double")
    finally:
        base.unpersist()


# -- maximal marginal relevance re-ranking ----------------------------------
def mmr_rerank(emb: DataFrame, id_col: str, vec_col: str, query_ids: list,
               n_candidates: int = 12, k: int = 5) -> DataFrame:
    """MMR-diversified top-k (Carbonell & Goldstein 1998, lambda = 0.7):
    per query, take the ``n_candidates`` most cosine-similar vectors,
    then greedily pick ``k`` of them maximizing
    ``7*rel_micro - 3*max_sim_micro_to_chosen`` (id tie-break; the first
    pick scores ``7*rel_micro``) — relevance traded against redundancy,
    the standard retrieval-diversification layer over an ANN index.

    Returns (query_id, sel_id, mmr_rank, mmr_score): mmr_score is the
    EXACT INTEGER deci-micro score (divide by 1e7 for the conventional
    ``0.7*rel - 0.3*max_sim``).  Scoring is integer-exact on purpose:
    ``0.7 * (a 6-dp value)`` has SEVEN decimals, so a double-rounding
    formulation lands exactly on a .5e-6 decimal boundary for ~10% of
    candidates — where Spark's decimal HALF_UP (BigDecimal shortest-repr)
    and a binary ``round(x*1e6)`` legitimately disagree.  Converting the
    round-6 similarities to micro-ints (exact in doubles) and combining
    with integer weights removes every rounding decision from the
    combination step; the lambda grid is therefore tenths.

    Scale shape: candidate generation is the broadcast-query exact scorer
    (swap in the IVF path at corpus scale — same contract); the pairwise
    candidate-sim table is |Q| * n_candidates^2 rows (bounded, never
    corpus-sized); the greedy loop runs per query group in ONE
    applyInPandas pass — queries parallelize across the cluster and each
    group holds n_candidates rows, so the inherently sequential selection
    touches only driver-free bounded state.
    """
    from kstream_spark.operators.similarity import cosine_topk
    cand = cosine_topk(emb, id_col, vec_col, query_ids=query_ids,
                       k=n_candidates).select("query_id",
                                              F.col("neighbor_id"),
                                              F.col("cos").alias("rel"))
    vecs = emb.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("nv")) \
        .withColumn("nn", norm(F.col("nv")))
    # cand is |Q| * n_candidates rows — always the broadcast side, so the
    # corpus vector table streams through one scan with no shuffle
    cv = F.broadcast(cand).join(vecs, "neighbor_id")
    a = cv.select("query_id", F.col("neighbor_id").alias("_ca"),
                  F.col("rel").alias("_rela"),
                  F.col("nv").alias("_va"), F.col("nn").alias("_na"))
    b = cv.select("query_id", F.col("neighbor_id").alias("_cb"),
                  F.col("nv").alias("_vb"), F.col("nn").alias("_nb"))
    # self-pairs (ca == cb) are kept as carriers so a query with a single
    # candidate still reaches the selector (the selector ignores them —
    # max-sim only ever consults pairs against ALREADY-CHOSEN other ids)
    pairs = (a.join(F.broadcast(b), "query_id")
             .select("query_id", "_ca", "_cb", "_rela",
                     F.round(dot(F.col("_va"), F.col("_vb"))
                             / (F.col("_na") * F.col("_nb")), 6)
                     .alias("_sim")))

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # round-6 doubles -> exact micro-ints (values are within 1e-7 of
        # an integer after *1e6, so any nearest-int rule agrees)
        qid = pdf["query_id"].iloc[0]
        rel = {ca: int(round(r * 1e6)) for ca, r in
               zip(pdf["_ca"], pdf["_rela"])}
        sim = {(ca, cb): int(round(s * 1e6)) for ca, cb, s in
               zip(pdf["_ca"], pdf["_cb"], pdf["_sim"]) if ca != cb}
        remaining = sorted(rel)
        chosen: list = []
        out = []
        for rank in range(1, k + 1):
            if not remaining:
                break
            best = None
            for c in remaining:  # ascending id = tie-break
                ms = max((sim.get((c, s), 0) for s in chosen), default=0)
                score = 7 * rel[c] - (0 if not chosen else 3 * ms)
                if best is None or score > best[1]:
                    best = (c, score)
            chosen.append(best[0])
            remaining.remove(best[0])
            out.append((qid, best[0], rank, best[1]))
        return pd.DataFrame(out, columns=["query_id", "sel_id", "mmr_rank",
                                          "mmr_score"])

    return (pairs.groupBy("query_id")
            .applyInPandas(pick, "query_id bigint, sel_id bigint, "
                                 "mmr_rank bigint, mmr_score bigint")
            .filter(F.col("mmr_rank") <= k))


# -- curriculum difficulty binning -------------------------------------------
def curriculum_bins(df: DataFrame, id_col: str, text_col: str,
                    n_bins: int = 10, share_bigrams: bool = False,
                    bigram_table: str = "auto") -> DataFrame:
    """Curriculum-learning difficulty bins: score every document with the
    corpus-self bigram LM (operators/corpus.bigram_logprob — higher
    per-bigram log-prob = more predictable = easier), rank the corpus by
    mean log-prob per bigram ascending (hardest first), and cut it into
    ``n_bins`` equal-depth difficulty deciles.  The output is one audit
    row per bin (doc count, total bigrams, total micro-log-prob) — the
    table a curriculum sampler joins back on ``difficulty`` to schedule
    epochs from easy to hard (or to drop the gibberish tail, which lands
    in bin 1 by construction).

    The global rank uses the DISTRIBUTED two-phase ntile
    (operators/ranking.with_ntile_percent_rank): range-shuffle + local
    sort + broadcast offsets — no single-task sort of the corpus, so the
    binning survives a corpus too big for one reducer.  Ordering key is
    (sum_logp_micro / n_bigrams, id): a float division of two exact
    integers is bit-identical in any engine, and the id tie-break makes
    the total order — hence every bin boundary — deterministic.
    [[oracle-parity]]
    """
    from kstream_spark.operators.corpus import bigram_logprob
    from kstream_spark.operators.ranking import with_ntile_percent_rank
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism
    # downstream-heavy consumer: a MODERATE spread wins at both measured
    # scales (sf0.1: 1.55s vs 2.1 unspread / 2.4 at full width; sf1:
    # 5.0 vs 5.7 / 6.0 — min-of-3, quiet) — 8 tasks amortize per-task
    # scheduling that a full-width repartition of a small corpus pays
    # twice (both bigram consumers), while still unblocking the scan's
    # 1-2 file splits.  At real scale the input arrives in many splits
    # and this is a no-op.
    # share_bigrams threads through to bigram_logprob: the exploded
    # (id, bigram) relation persists once and feeds the count table, the
    # probe join, and the auto gate (query-scale arm; see its docstring)
    # bigram_table passes through: "auto" spends one full distinct-count
    # job deciding broadcast-vs-shuffle — a caller that knows its vocab
    # scale (natural-language corpora stay far under the 2M-bigram
    # broadcast ceiling) pins the arm and drops that job entirely
    lm = bigram_logprob(
        ensure_parallelism(df, min_partitions=8, min_bytes=FANOUT_MIN_BYTES),
        id_col, text_col, share_bigrams=share_bigrams,
        bigram_table=bigram_table)
    scored = lm.withColumn(
        "_lpb", F.col("sum_logp_micro").cast("double") / F.col("n_bigrams"))
    binned = with_ntile_percent_rank(
        scored, [F.asc("_lpb"), F.asc(id_col)], n_buckets=n_bins,
        ntile_col="difficulty", pct_col="_pct")
    return (binned.groupBy("difficulty")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_bigrams").cast("long").alias("n_bigrams"),
                 F.sum("sum_logp_micro").cast("long")
                 .alias("sum_logp_micro")))


# -- cluster-balanced selection ----------------------------------------------
def cluster_balance_key(vec_id: Column) -> Column:
    """The per-cell pick order of cluster-balanced selection, batch and
    streamed: the first 12 hex chars of md5('cbal:' || id) as an integer,
    exact in a double and in any engine."""
    from kstream_spark.functions.text import hash_str
    return (F.conv(F.substring(hash_str(vec_id.cast("string"), "cbal"),
                               1, 12), 16, 10)
            .cast("double"))


def cluster_balanced_select(emb: DataFrame, id_col: str, vec_col: str,
                            centroids: list, per_cell: int = 10) -> DataFrame:
    """Cluster-balanced diversity selection: assign every vector to its
    nearest k-means cell and keep an EQUAL-DEPTH deterministic sample per
    cell — the topic-balanced alternative to uniform subsampling (a
    uniform sample mirrors the corpus's cluster skew, so the head topic
    swamps the mix; sampling per cell keeps every region of embedding
    space represented — the blocking idea SemDeDup uses for dedup,
    applied to selection).

    Determinism/oracle parity: the per-cell pick orders by the portable
    md5 key (``cluster_balance_key``) with an id tie-break, so the kept
    set is a pure function of (ids, centroids).

    Scale shape: assignment is the literal-projection argmax
    (functions/vectors.nearest_cell — zero corpus shuffle, the
    ivf_topk discipline); the per-cell pick routes through
    _per_query_topk's NARROW per-partition top-k, so no reducer ever
    sorts a cell-sized slice even though there are only k cells — the
    naive row_number-over-cell window would funnel the whole corpus
    through k tasks.  Returns (vec_id, cell_id, rk).
    """
    from kstream_spark.functions.vectors import nearest_cell, norm
    from kstream_spark.operators.similarity import _per_query_topk
    src = (emb.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("v"))
           .withColumn("_n", norm(F.col("v"))))
    assigned = src.select(
        "vec_id",
        nearest_cell(F.col("v"), F.col("_n"), centroids).alias("cell_id"),
        cluster_balance_key(F.col("vec_id")).alias("_sk")) \
        .withColumn("query_id", F.col("cell_id"))
    kept = _per_query_topk(assigned, per_cell, score_col="_sk",
                           id_col="vec_id", asc=True, rank_col="rk")
    return kept.select("vec_id", "cell_id",
                       F.col("rk").cast("long").alias("rk"))
