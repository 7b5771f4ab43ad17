"""Corpus-assembly operators for LLM training-data pipelines.

The missing layer between "a pile of deduped documents" and "a training run":
repetition-quality signals (Gopher-style repeated n-gram fractions),
benchmark decontamination, deterministic global shuffle into shards,
concat-and-chunk sequence packing, and corpus composition stats.

Scale stance (100 TB):
  * everything here is shuffle-minimal — per-document signals stay inside
    whole-stage codegen (higher-order array functions, no explode where a
    `transform`/`array_distinct` pair suffices);
  * the one deliberate shuffle per operator is keyed on a column that the
    downstream consumer needs anyway (shard id, shingle hash);
  * the eval/benchmark side of decontamination is small by construction
    (benchmarks are MBs, corpora are TBs) and is broadcast;
  * packing never concatenates text — it assigns chunk spans arithmetically
    from a per-shard running token total, so the 100 TB corpus is packed
    with one window function over (shard, doc order), no driver state.

No reference analog: tryfix/kstream has no corpus tooling (its user-code
transform callbacks would have to do all of this by hand, kstream/processors/
value_transformer.go:9-80); this module is part of the capability superset
SURVEY.md §7 item 8 calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from kstream_spark.functions.text import (content_hash, hash_str,
                                          word_shingles, words)


def _clean_words(text: Column) -> Column:
    """Whitespace tokens with empties dropped (leading/trailing runs)."""
    return F.filter(words(text), lambda w: w != F.lit(""))


def _hash_mod(col: Column, n: int, seed: str = "") -> Column:
    """Portable (Spark == DuckDB == anything) bucket id in [0, n): first 8
    md5 hex chars as an integer, mod n.  Unlike F.hash/xxhash64 the result
    is engine-independent, so shard layouts survive an engine swap."""
    return (F.conv(F.substring(hash_str(col.cast("string"), seed), 1, 8), 16, 10)
            .cast("long") % n)


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document.

    Returns (id, n_words, top_word_frac, dup_2gram_frac, dup_3gram_frac):
    the fraction of tokens taken by the single most frequent word, and the
    fraction of 2-/3-grams that are repeats of an earlier n-gram.  High
    values flag boilerplate / keyword-stuffed / degenerate documents that
    survive exact and near dedup (they are unique, just internally
    repetitive).

    Everything runs inside whole-stage codegen with ZERO shuffles: n-grams
    are struct arrays built from shifted slices (arrays_zip — no per-gram
    string concatenation), and the top-word count comes from run lengths of
    the SORTED words array (boundary positions diffed pairwise) instead of
    an explode + two aggregations.
    """
    w = _clean_words(F.col(text_col))
    d = df.select(F.col(id_col), w.alias("_w"))

    def dup_frac(n: int) -> Column:
        arr = F.col("_w")
        g = F.size(arr) - (n - 1)
        # gram i = (arr[i], arr[i+1], ...): zip n shifted views — O(words),
        # struct equality inside array_distinct, no string building
        grams = F.arrays_zip(*[F.slice(arr, 1 + k, g) for k in range(n)])
        return F.when(g > 0,
                      F.round(1.0 - F.size(F.array_distinct(grams)) / g, 6)
                      ).otherwise(F.lit(0.0))

    # run-length trick: sort the words once (projected column — an
    # expression referenced inside a lambda is re-evaluated PER ELEMENT,
    # so the sort must be materialized first), then one O(n) fold tracks
    # (prev word, current run, best run)
    d = d.withColumn("_srt", F.array_sort(F.col("_w")))
    npos = F.size(F.col("_w"))
    state = F.struct(F.lit(None).cast("string").alias("prev"),
                     F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(1)
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top = F.aggregate(F.col("_srt"), state, step, lambda acc: acc["best"])

    return d.select(
        id_col,
        F.size("_w").cast("long").alias("n_words"),
        F.round(F.when(npos > 0, top).otherwise(0) /
                F.greatest(npos, F.lit(1)), 6).alias("top_word_frac"),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )


def decontaminate(df: DataFrame, id_col: str, text_col: str,
                  eval_df: DataFrame, eval_id_col: str,
                  eval_text_col: str, n: int = 3) -> DataFrame:
    """Benchmark-contamination report: training documents sharing any
    n-word shingle with an evaluation/benchmark document.

    Returns (train id, n_shared — distinct shingles shared, n_eval_docs —
    distinct benchmark docs hit).  Anti-join the result against the corpus
    to drop contaminated docs.

    Benchmarks are small (MBs) next to the corpus (TBs), so the eval
    shingle set is broadcast — the corpus side is a single scan + hash
    probe, no corpus shuffle.  Shingles travel as md5 strings, not text,
    to keep the broadcast table narrow.
    """
    def shingled(frame: DataFrame, idc: str, txt: str, alias: str) -> DataFrame:
        sh = F.explode(F.array_distinct(word_shingles(F.col(txt), n)))
        return (frame.select(F.col(idc).alias(alias), sh.alias("_s"))
                .select(alias, hash_str(F.col("_s"), "decon").alias("_h")))

    # shingle+md5 fan-out is CPU-heavy per byte: spread a single-split scan
    # across cores (same floor as the dedup shingle paths)
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism
    train = shingled(ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES),
                     id_col, text_col, id_col)
    ev = F.broadcast(shingled(eval_df, eval_id_col, eval_text_col, "_eval_id")
                     .distinct())
    return (train.join(ev, "_h")
            .groupBy(id_col)
            .agg(F.count_distinct("_h").alias("n_shared"),
                 F.count_distinct("_eval_id").alias("n_eval_docs")))


def span_dedup(df: DataFrame, id_col: str, text_col: str,
               span: int = 8, max_docs: int = 1) -> DataFrame:
    """C4/RefinedWeb-style duplicated-span removal (sub-document dedup).

    Documents are cut into NON-overlapping ``span``-token segments; any
    segment whose text occurs in more than ``max_docs`` distinct documents
    (boilerplate, license headers, navigation chrome) is removed from EVERY
    document, and the surviving segments are stitched back in order.
    Returns (id, clean_text, n_spans_kept, n_spans_dropped); documents that
    lose every segment drop out of the result (fully-boilerplate docs).

    Scale shape: one posexplode -> one map-side-combinable groupBy on the
    segment's md5 (never the segment text — the shuffle key stays 32 bytes
    however long the span is) -> the hot-segment set is tiny by definition
    (it is the boilerplate) and broadcast back as a left-anti probe -> one
    groupBy(doc) to reassemble.  Two shuffles total, both keyed on columns
    with no skew beyond the boilerplate itself, which the anti-join removes
    before the reassembly shuffle.

    No reference analog (corpus tooling is part of the capability superset,
    SURVEY.md §7 item 8); semantics follow the public C4 paper's
    three-sentence-span dedup with token spans standing in for sentences.
    """
    # materialize the token array before the window lambda references it —
    # an outer EXPRESSION referenced inside a higher-order lambda can be
    # re-evaluated per element (measured ~35% here; 40x on the winnowing
    # operator, operators/dedup.py winnow_pairs)
    tokenized = df.select(F.col(id_col),
                          F.split(F.col(text_col), " ").alias("_tk"))
    toks = F.col("_tk")
    nseg = F.ceil(F.size(toks) / F.lit(float(span))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * span + 1, span), " "))
    seg_rows = (tokenized.select(F.col(id_col),
                                 nseg.cast("long").alias("_totseg"),
                                 F.posexplode(segs).alias("pos", "seg"))
                .withColumn("_h", hash_str(F.col("seg"), "span")))
    hot = (seg_rows.groupBy("_h")
           .agg(F.count_distinct(id_col).alias("_nd"))
           .filter(F.col("_nd") > max_docs)
           .select("_h"))
    kept = seg_rows.join(hot, "_h", "left_anti")
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                         lambda s: s["seg"]),
                     " ").alias("clean_text"),
                 F.count("*").cast("long").alias("n_spans_kept"),
                 (F.first("_totseg") - F.count("*")).cast("long")
                 .alias("n_spans_dropped")))


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    min_count: int = 1) -> DataFrame:
    """Corpus-self unigram LM quality score (the perplexity-filter shape).

    Trains a unigram language model ON the corpus itself (token relative
    frequencies) and scores every document by its total token
    log-probability — the same filter shape as CCNet's KenLM perplexity
    gate, with the LM reduced to unigrams so the whole pipeline stays
    inside codegen and is exactly replayable by a SQL oracle.  Low
    per-token scores (sum_logp / n_tokens, left to the consumer) flag
    gibberish / rare-token soup; suspiciously high ones flag degenerate
    repetition.  Returns (id, n_tokens, sum_logp).

    Numeric determinism: per-token log-probs are quantized to integer
    MICRO-log-probs (round(ln(p) * 1e6)), so the per-doc score is an exact
    integer sum — identical in any engine and any summation order — scaled
    back by 1e6 with no output rounding.  A mean is NOT emitted because
    rounding the ratio of two exact integers lands exactly on decimal .5
    boundaries, where Spark (decimal HALF_UP) and other engines (binary
    round) legitimately disagree.

    Scale shape: the token-count aggregation is THE canonical map-side
    combinable groupBy (partial counts per partition, vocab-sized result);
    the per-token log-prob table is vocab-sized and BROADCAST back onto the
    token stream, so the corpus is scanned twice and shuffled only by the
    (count-bounded) vocab key.  ``min_count`` folds the long tail of rare
    tokens into one OOV bucket scored at ln(min_count/total) — at web scale
    the vocab's hapax tail is most of its rows, and the cap keeps the
    broadcast table bounded without changing frequent-token scores.
    """
    # The token stream is NEVER shuffled: both aggregations collapse
    # map-side (vocab rows per partition for the counts, one row per doc
    # for the score), the log-prob table broadcasts back, and the text is
    # re-tokenized per branch — three cheap columnar scans beat one
    # (doc, token)-keyed shuffle of the full token stream at every scale
    # (measured 1.4x at sf0.1; the gap grows with corpus width).
    tok = df.select(
        F.col(id_col),
        F.explode(_clean_words(F.lower(F.col(text_col)))).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count("*").alias("_c"))
    # one-row scalar: the corpus token total + the OOV floor derived from it
    tot = counts.agg(F.sum("_c").alias("_tot")).select(
        "_tot",
        F.round(F.log(F.lit(float(min_count)) / F.col("_tot")) * 1e6, 0)
        .cast("long").alias("_oov"))
    lp = (counts.filter(F.col("_c") >= min_count)
          .crossJoin(F.broadcast(tot))
          .select("tok",
                  F.round(F.log(F.col("_c") / F.col("_tot")) * 1e6, 0)
                  .cast("long").alias("_lpi")))
    return (tok.join(F.broadcast(lp), "tok", "left")
            .crossJoin(F.broadcast(tot))
            .withColumn("_i", F.coalesce("_lpi", "_oov"))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 (F.sum("_i") / F.lit(1e6)).alias("sum_logp")))


def shard_manifest(df: DataFrame, id_col: str, text_col: str,
                   shard_col: str = "shard") -> DataFrame:
    """Per-shard manifest for shipped training shards: document count,
    token total, id range, and an ORDER-INSENSITIVE content checksum
    (SUM of per-doc content-hash prefixes mod 2^63) — the reproducibility
    audit that catches a corrupted, dropped, or silently-reordered shard
    without re-reading any other shard.

    The checksum is additive, not XOR: XOR is blind to even multiplicity
    (two copies of doc A replacing two copies of doc B passes an XOR
    check), while a sum moves whenever the MULTISET of per-doc hashes
    changes.  Equality across two runs therefore certifies equal content
    multisets up to 60-bit hash collisions — not literal byte equality of
    files (layout/ordering is free to differ; that is the point).

    Scale shape: one map-side-combinable aggregation keyed on the shard
    id (sum is associative+commutative, so partials combine; the sum runs
    in decimal(38,0) so it cannot overflow below ~1e20 docs/shard, then
    reduces mod 2^63 into a long).  Returns
    (shard, n_docs, total_tokens, min_id, max_id, content_checksum).
    """
    doc_h = F.conv(F.substring(content_hash(F.col(text_col)), 1, 15), 16, 10) \
        .cast("long")
    checksum = F.expr(
        "CAST(sum(CAST(_doc_h AS DECIMAL(38,0))) "
        "% CAST('9223372036854775808' AS DECIMAL(20,0)) AS BIGINT)")
    return (df.withColumn("_doc_h", doc_h)
            .groupBy(shard_col)
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.size(_clean_words(F.col(text_col)))).cast("long")
                 .alias("total_tokens"),
                 F.min(id_col).alias("min_id"),
                 F.max(id_col).alias("max_id"),
                 checksum.alias("content_checksum")))


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """Content-level diff between two corpus snapshots: per-document
    status in {added, removed, changed, unchanged} by normalized content
    hash — the audit primitive for corpus VERSIONING (what actually moved
    between v1 and v2 of a training set, independent of file layout).

    Scale shape: each side reduces to (id, content_hash) — a projection,
    no shuffle — then one full-outer equi-join on id.  Status is a case
    expression over null-ness and hash equality, so the whole diff is a
    single co-partitioned join at any corpus size.  Returns
    (id, status, old_hash, new_hash).
    """
    o = old.select(F.col(id_col),
                   content_hash(F.col(text_col)).alias("old_hash"))
    n = new.select(F.col(id_col),
                   content_hash(F.col(text_col)).alias("new_hash"))
    return (o.join(n, id_col, "full_outer")
            .select(F.col(id_col),
                    F.when(F.col("old_hash").isNull(), "added")
                    .when(F.col("new_hash").isNull(), "removed")
                    .when(F.col("old_hash") != F.col("new_hash"), "changed")
                    .otherwise("unchanged").alias("status"),
                    "old_hash", "new_hash"))


def shuffle_shards(df: DataFrame, id_col: str, n_shards: int = 8,
                   seed: str = "42") -> DataFrame:
    """Deterministic global shuffle into training shards.

    shard = md5(seed:id) mod n_shards; position = rank of the md5 within
    the shard.  The ordering is pseudo-random but fully reproducible from
    (seed, id) — rerunning the pipeline yields byte-identical shard files,
    and changing the seed gives an independent permutation (new data
    order per training run without rewriting the corpus).

    Scale: one hash-partition exchange on shard + an in-partition sort —
    never a global sort.  Writing with partitionBy(shard) +
    sortWithinPartitions(pos) streams each shard out in order.
    """
    h = hash_str(F.col(id_col).cast("string"), seed)
    win = W.partitionBy("shard").orderBy("_h", id_col)
    return (df.withColumn("_h", h)
            .withColumn("shard", _hash_mod(F.col(id_col), n_shards, seed))
            .withColumn("pos", F.row_number().over(win).cast("long"))
            .drop("_h"))


def pack_chunks(df: DataFrame, id_col: str, text_col: str,
                capacity: int = 256, n_shards: int = 8,
                shard_col: str | None = None,
                order_col: str | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style training layout):
    documents are laid end-to-end per shard and cut every ``capacity``
    tokens; each document is annotated with the chunk span it lands in.

    Returns (id, shard, tokens, chunk_first, chunk_last): chunk ids are
    per-shard; a document with chunk_first < chunk_last straddles a cut.

    No text is ever concatenated — the layout is pure arithmetic over a
    per-shard running token total (one window function after a shard
    exchange), so packing 100 TB costs one shuffle keyed on the shard id
    the writer needs anyway.

    Pass ``shard_col``/``order_col`` to pack along an EXISTING layout
    (e.g. shuffle_shards' (shard, pos)) instead of deriving a fresh hash
    shard — composition then reuses the upstream exchange.
    """
    tokens = F.size(_clean_words(F.col(text_col))).cast("long")
    order = order_col or id_col
    shard = (F.col(shard_col) if shard_col
             else _hash_mod(F.col(id_col), n_shards, "pack"))
    win = W.partitionBy("shard").orderBy(order)
    cum = F.sum("tokens").over(win)
    start = cum - F.col("tokens")
    # zero-token documents attach to the chunk ENDING at their position
    # (greatest(cum-1, 0)); using their start position would mint a
    # phantom chunk when they trail the shard (start == shard total)
    empty_pos = F.greatest(cum - 1, F.lit(0))
    first = F.when(F.col("tokens") == 0, empty_pos).otherwise(start)
    last = F.when(F.col("tokens") == 0, empty_pos).otherwise(cum - 1)
    return (df.select(F.col(id_col), shard.alias("shard"),
                      tokens.alias("tokens"),
                      *([F.col(order)] if order != id_col else []))
            .select(id_col, "shard", "tokens",
                    F.floor(first / capacity).cast("long").alias("chunk_first"),
                    F.floor(last / capacity).cast("long").alias("chunk_last")))


def corpus_stats(df: DataFrame, text_col: str, lang_col: str,
                 chars_col: str) -> DataFrame:
    """Corpus composition: documents / tokens / average length per
    (language, power-of-two length bucket).  The bucket is the bit length
    of the char count minus one (== floor(log2) computed in integer space,
    so every engine agrees at bucket boundaries — no libm dependence).

    Emits integer sums (total_tokens/total_chars), not averages — integer
    aggregates are engine-exact where a rounded average sits on a rounding
    boundary.  One combiner-friendly aggregation; the natural first report
    before sampling weights are chosen.
    """
    bucket = (F.length(F.bin(F.col(chars_col))) - 1).cast("long")
    tokens = F.size(_clean_words(F.col(text_col))).cast("long")
    return (df.select(F.col(lang_col).alias("lang"),
                      bucket.alias("len_bucket"),
                      tokens.alias("_t"),
                      F.col(chars_col).alias("_c"))
            .groupBy("lang", "len_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_t").alias("total_tokens"),
                 F.sum("_c").alias("total_chars")))


def bigram_logprob(df: DataFrame, id_col: str, text_col: str,
                   bigram_table: str = "auto",
                   broadcast_max_bigrams: int = 2_000_000,
                   share_bigrams: bool = False) -> DataFrame:
    """Corpus-self BIGRAM LM quality score — the conditional upgrade of
    ``unigram_logprob``: each document is scored by the total
    ``ln P(w_i | w_{i-1})`` under the corpus's own bigram statistics
    (P(b|a) = c(ab) / c(a·), with c(a·) = a's count as a predecessor, so
    the conditional distribution sums to 1).  Repetitive boilerplate
    scores suspiciously high, rare-transition gibberish low — one LM
    order closer to the KenLM perplexity gate than the unigram while
    still exactly replayable by a SQL oracle.

    Numeric determinism: per-bigram log-probs quantize to integer
    micro-units (the unigram_logprob trick), so the per-doc score is an
    exact integer sum.  Returns (id, n_bigrams, sum_logp_micro).

    Scale shape — ``bigram_table`` picks how the log-prob table joins
    back onto the bigram stream:

    * ``"broadcast"``: the stream side never shuffles at all — explode,
      broadcast hash join, per-doc map-side-combinable sum.  Right
      whenever the DISTINCT-bigram table fits a broadcast (natural-
      language vocabularies mostly do; sf1 A/B: 4.4s -> 1.9s, the wide
      bg-keyed exchange of the raw stream was the whole difference).
      Costs one extra narrow corpus pass (the table-build subtree and
      the join side each explode once) — cheap next to shuffling the
      full stream.
    * ``"shuffle"``: the r9 shape — the stream feeds BOTH the count
      aggregation and the log-prob join with the SAME bg-keyed
      partitioning, so Catalyst reuses one exchange for the two
      consumers (ReusedExchange).  The honest path when the bigram
      table itself is too big to broadcast.  (An r9 experiment that
      pre-collapsed to a (doc, bigram, count) relation "to explode
      once" broke that reuse and benched 2.9x slower.)
    * ``"auto"`` (default): one bounded map-side-combinable distinct
      count gates between them at ``broadcast_max_bigrams``.  The gate
      is an extra corpus pass — callers that already know their vocab
      scale should pass the arm explicitly.

    ``share_bigrams=True`` (r11): persist the raw exploded (id, bigram)
    relation ONCE — no extra shuffle, unlike the r9 count-compaction
    experiment — so the table build, the probe join, and the auto gate
    all read the cache instead of re-exploding the corpus (sf1
    curriculum A/B: 4.0s -> 3.1s warm).  Query-scale arm: the persist is
    bigram-stream-sized, right when the corpus slice fits executor
    storage, wrong at 100 TB where the stateless re-explode is cheaper
    than the materialization.  Without the flag nothing persists.

    The input is used as given — the repartition floor is a per-consumer
    call, A/B'd at sf1: this operator alone runs FASTER without the
    extra exchange (2.8s -> 1.4s: two fat map tasks feeding the shared
    bg exchange beat 32 rescheduled ones), so callers spread their
    input themselves (``ensure_parallelism``) where it pays.
    """
    if bigram_table not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"bigram_table must be auto|broadcast|shuffle, "
                         f"got {bigram_table!r}")
    w = _clean_words(F.lower(F.col(text_col)))
    big = (df.withColumn("_w", w).filter(F.size("_w") >= 2)
           .select(F.col(id_col),
                   F.explode(F.expr(
                       "transform(sequence(2, size(_w)), "
                       "i -> concat(element_at(_w, i - 1), ' ', "
                       "element_at(_w, i)))")).alias("bg")))
    if share_bigrams:
        from kstream_spark.util import owned
        big = owned(big.persist())
    mode = bigram_table
    if mode == "auto":
        n_bg = big.select("bg").distinct().count()
        mode = "broadcast" if n_bg <= broadcast_max_bigrams else "shuffle"
    cb = big.groupBy("bg").agg(F.count("*").alias("_cab"))
    ca = (cb.withColumn("_a", F.substring_index("bg", " ", 1))
          .groupBy("_a").agg(F.sum("_cab").alias("_ca")))
    lp = (cb.withColumn("_a", F.substring_index("bg", " ", 1))
          .join(ca, "_a")
          .select("bg",
                  F.round(F.log(F.col("_cab") / F.col("_ca")) * 1e6, 0)
                  .cast("long").alias("_lpi")))
    if mode == "broadcast":
        lp = F.broadcast(lp)
    return (big.join(lp, "bg")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 F.sum("_lpi").alias("sum_logp_micro")))
