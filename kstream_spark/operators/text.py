"""Text analysis operators: quality scoring, language ID, token counting,
document fingerprinting.  Everything is built-in Column expressions
(whole-stage codegen; no Python in the hot path) and exactly reproducible by
the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kstream_spark.util import fits_driver, local_df

from kstream_spark.functions.text import (content_hash, token_count,
                                          word_shingles, words)

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# marker-word profiles for the n-gram-free heuristic language scorer; on real
# corpora these would be char-n-gram profiles per language — the operator
# shape (score per language -> argmax with deterministic tie-break) is the same
LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
    "es": ["el", "la", "y", "es"],
}


def _ratio(num: Column, den: Column) -> Column:
    return F.round(num / F.greatest(den, F.lit(1)), 6)


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features + a composite quality score."""
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    n_chars = F.length(t)
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_stop = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    mean_wlen = _ratio(F.length(F.regexp_replace(t, r"\s", "")), n_words)
    stop_ratio = _ratio(n_stop, n_words)
    punct_ratio = _ratio(n_punct, n_chars)
    # composite: reward stopword presence (fluency proxy) and moderate word
    # length; penalize punctuation soup.  Weights are illustrative.
    quality = F.round(
        F.least(stop_ratio * 4, F.lit(1.0)) * 0.5
        + F.when((mean_wlen >= 3) & (mean_wlen <= 10), 0.5).otherwise(0.2)
        - F.least(punct_ratio * 2, F.lit(0.5)),
        6,
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        token_count(t).cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars_measured"),
        mean_wlen.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality_score"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language scorer: hits per language profile, argmax with
    fixed profile order as tie-break, 'und' when no marker hits."""
    w = words(F.col(text_col))
    scores = {lang: F.size(F.filter(w, lambda x: x.isin(markers)))
              for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):       # earlier profiles win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("pred_lang"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Document fingerprints: exact content hash + min-shingle-hash (the
    1-hash minhash — a cheap similarity-preserving sketch).

    Zero shuffles, but md5-per-shingle is CPU-heavy per row — spread a
    few-split scan across cores first (the shingle_sets precedent; a
    single parquet file otherwise serializes the whole hash grind onto
    one task)."""
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism
    df = ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES)
    sh = F.array_distinct(word_shingles(F.col(text_col), n))
    return df.select(
        F.col(id_col),
        content_hash(F.col(text_col)).alias("content_hash"),
        F.array_min(F.transform(sh, lambda s: F.md5(F.encode(s, "UTF-8"))))
         .alias("min_shingle_hash"),
    )


def tf_idf_top_terms(df: DataFrame, id_col: str, text_col: str,
                     k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = term count within the doc; idf = ln(N / df) over the corpus.
    One explode + two hash aggregations + a broadcast-joined doc-frequency
    relation; ranking by (rounded score, term) is deterministic across
    engines.  At corpus scale the df relation is vocabulary-sized —
    broadcastable — and the heavy (doc, term) relation shuffles once.
    """
    from pyspark.sql import Window as W
    from kstream_spark.util import ensure_parallelism, owned

    toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
    # tf already holds exactly one row per (doc, term): doc frequency falls
    # out of IT with one more aggregation — no second explode, no distinct.
    # (A doc-local mapInPandas tf pass measured SLOWER than this: plain
    # token explode + hash agg is already cheap in codegen, and the Arrow
    # round-trip dominates — the mapInPandas fusion only pays off when it
    # removes expression-heavy aggregation like the minhash/simhash sigs.)
    tf = owned(toks.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
               .persist())
    n_docs = df.count()
    doc_freq = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(doc_freq), "w")
              .select(id_col, "w",
                      F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
                      .alias("score")))
    rank_w = W.partitionBy(id_col).orderBy(F.desc("score"), F.asc("w"))
    return (scored.withColumn("rnk", F.row_number().over(rank_w).cast("long"))
            .filter(F.col("rnk") <= k)
            .select(id_col, F.col("w").alias("term"), "score", "rnk"))


# PII patterns (applied most-specific first; Java regex == RE2 semantics for
# these).  Counts are taken BEFORE redaction so n_redactions is exact.
PII_PATTERNS = [
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
]


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact common PII shapes (SSN / phone / email) from a text column.

    Returns (id, redacted_text, n_redactions).  Pure column expressions —
    replace-all regexp_replace chains JVM-side, no UDFs; a training-data
    scrub pass this shape runs as one projection over the corpus scan."""
    t = F.col(text_col)
    n = F.lit(0)
    for pat, _repl in PII_PATTERNS:
        n = n + F.regexp_count(t, F.lit(pat))
    red = t
    for pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return df.select(F.col(id_col), red.alias("redacted_text"),
                     n.cast("long").alias("n_redactions"))


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed query-term list: returns
    the top-k (id, score) by the Okapi BM25 ranking function.

    Everything stays in whole-stage codegen: per-term term frequencies are
    higher-order array filters over the token array (no explode — the query
    is a handful of terms, so |terms| filter expressions beat shuffling an
    exploded |corpus| x |tokens| relation), and the corpus statistics
    (N, avgdl, per-term document frequencies) reduce to ONE scalar row that
    broadcast-joins back onto the scan.  Plan shape: scan -> project ->
    one scalar aggregate -> broadcast nested-loop (1 row) -> top-k sort.
    The top-k is a global order+limit: Spark runs it as per-partition
    TakeOrdered (k rows per partition reach the driver-side merge), so no
    full sort materializes at any scale.

    The score sum is written left-to-right in query order so the oracle
    reproduces the exact IEEE double (same association order both sides).
    """
    toks = words(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("__t")) \
        .withColumn("dl", F.size("__t").cast("double"))
    for i, t in enumerate(query_terms):
        d = d.withColumn(
            f"tf{i}",
            F.size(F.filter("__t", lambda x: x == F.lit(t))).cast("double"))
    stats = d.agg(
        F.count("*").cast("double").alias("N"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("double")
          .alias(f"df{i}") for i in range(len(query_terms))])
    d = d.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        idf = F.log(
            (F.col("N") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1.0)
        tf = F.col(f"tf{i}")
        contrib = idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        score = contrib if score is None else score + contrib
    return (d.select(F.col(id_col), F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col)).limit(k))


def vocab_top_terms(df: DataFrame, text_col: str, top_v: int = 1000) -> DataFrame:
    """Corpus vocabulary: global token counts, top-V by (count desc, token
    asc) — the vocabulary-construction stage of tokenizer training.

    Scale shape: explode -> ONE map-side-combinable hash aggregation keyed
    on the token (partial counts combine before the shuffle, so the wire
    carries |vocab| rows per task, not |corpus tokens|), then a global
    order+limit that Spark executes as per-partition TakeOrdered — no full
    sort of the vocabulary materializes.  Returns (token, cnt)."""
    w = words(F.col(text_col))
    tok = df.select(F.explode(w).alias("token")).filter(F.col("token") != "")
    return (tok.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token")).limit(top_v))


def bpe_pair_counts(df: DataFrame, text_col: str, top_k: int = 50) -> DataFrame:
    """One round of byte-pair-encoding pair statistics: adjacent
    CHARACTER-pair frequencies across the corpus, weighted by word
    frequency — the inner statistic of BPE tokenizer training (Sennrich et
    al. 2016), expressed as one distributed aggregation per merge round.

    The standard BPE efficiency trick is built in: the corpus first
    compresses to (distinct word, frequency) — one hash aggregation — and
    the pair explosion then runs over DISTINCT WORDS only, so a 100 TB
    corpus whose vocabulary is millions of words explodes millions of
    short arrays, not trillions of tokens.  Returns the top-k
    (pair, cnt) by (count desc, pair asc) — the would-be next merges."""
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.length("w") >= 2)
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    # adjacent char pairs: substr(w, i, 2) for i in 1..len-1 (codegen
    # higher-order transform; no UDF)
    pairs = word_freq.select(
        "wf",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"
        )).alias("pair"))
    return (pairs.groupBy("pair").agg(F.sum("wf").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair")).limit(top_k))


# symbol-pair explosion over a space-separated symbol sequence — shared by
# every bpe_train round (codegen split/transform, no UDF)
_BPE_PAIRS_EXPR = (
    "transform(sequence(1, size(split(trim(seq), ' ')) - 1), "
    "i -> concat(element_at(split(trim(seq), ' '), i), ' ', "
    "element_at(split(trim(seq), ' '), i + 1)))")


def _bpe_pairs_local(seqs: list, wfs: list) -> dict:
    """Adjacent-pair counts over collected symbol sequences — the exact
    Python replay of the distributed round's statistic: tokens from
    ``split(trim(seq), ' ')`` (Spark trim strips SPACES only ==
    ``.strip(' ')``; seqs are single-space-joined by invariant), pair =
    every adjacent position (overlapping, per Sennrich), weighted by
    word frequency.  All integer arithmetic, order-free — bit-identical
    to the groupBy sum."""
    cnt: dict = {}
    for s, wf in zip(seqs, wfs):
        t = s.strip(" ").split(" ")
        if len(t) < 2:
            continue
        for i in range(len(t) - 1):
            p = t[i] + " " + t[i + 1]
            cnt[p] = cnt.get(p, 0) + wf
    return cnt


def _merge_seqs_local(seqs: list, pair: str, merged: str) -> list:
    """The delimiter-doubling triple-replace in Python — ``str.replace``
    is the same all-occurrence leftmost non-overlapping scan as Spark's
    ``F.replace`` (Java ``String.replace``), so the merged sequences are
    character-identical to the distributed projection."""
    pat = " " + pair.replace(" ", "  ") + " "
    rep = f" {merged} "
    return [s.replace(" ", "  ").replace(pat, rep).replace("  ", " ")
            for s in seqs]


def bpe_train(df: DataFrame, text_col: str,
              n_merges: int = 8,
              local: bool | None = None) -> DataFrame:
    """ITERATIVE byte-pair-encoding training (Sennrich et al. 2016): each
    round counts adjacent SYMBOL-pair frequencies across the corpus,
    merges the most frequent pair everywhere (greedy leftmost-first
    non-overlapping, exactly Sennrich's scan), and recounts —
    ``bpe_pair_counts`` is one round's statistic; this is the full loop.

    The merge is three plain ``replace``s (the delimiter-doubling trick):
    double every space, replace ``' A  B '`` -> ``' M '``, collapse
    doubles back.  A naive single ``replace(' A B ', ' M ')`` under-merges
    runs — the shared delimiter space is consumed by the first match, so
    ``a a a a`` becomes ``aa a a`` instead of ``aa aa``; with doubled
    delimiters each occurrence owns its own boundary space, so consecutive
    occurrences all merge and the result is exactly the greedy
    leftmost-first non-overlapping scan.  (Winner ``cnt`` still counts
    every adjacent position — overlapping, per Sennrich's get_stats — so
    for a pair like ``(a, a)`` cnt can exceed the merges applied; that is
    standard BPE accounting, not a bug.)

    Scale shape: the corpus compresses ONCE to (distinct word, frequency)
    — after that every round is a single map-side-combinable aggregation
    over the vocabulary plus a pure projection applying the merge (symbol
    sequences live as space-separated strings; the merge is three
    ``replace``s), so a 100 TB corpus costs |vocab|-sized rounds, never a
    token re-scan.  One driver action per round collects exactly the
    winning pair (1 row) — the irreducible sequential dependency of BPE.

    Deterministic: winner by (count desc, pair asc); an oracle unrolls
    the same rounds as chained CTEs.  Returns one row per merge:
    (merge_rank, pair, merged, cnt)."""
    spark = df.sparkSession
    w = words(F.col(text_col))
    wf_rel = (df.select(F.explode(w).alias("w"))
              .filter(F.length("w") >= 2)
              .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    if fits_driver(df, local):
        # LOCAL ARM (r13): ONE action collects the vocab with the
        # char-spaced seq built JVM-SIDE (regexp_replace runs in the
        # collect projection, so Java's per-code-unit '.' semantics are
        # baked into the collected strings — Python never splits
        # characters); the merge rounds are then pure space-mechanics
        # and integer counting (_bpe_pairs_local/_merge_seqs_local),
        # bit-identical to the distributed round.  Winner tie-break:
        # python string < == UTF-8 binary < (UTF-8 preserves code-point
        # order), matching ORDER BY cnt DESC, pair ASC.
        rows = wf_rel.select(
            F.concat(F.lit(" "),
                     F.expr(r"regexp_replace(w, '(.)', '$1 ')"))
            .alias("seq"), "wf").collect()
        seqs = [r["seq"] for r in rows]
        wfs = [int(r["wf"]) for r in rows]
        merges: list[tuple] = []
        for r in range(1, n_merges + 1):
            cnt = _bpe_pairs_local(seqs, wfs)
            if not cnt:
                break
            pair = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merged = pair.replace(" ", "")
            merges.append((r, pair, merged, cnt[pair]))
            seqs = _merge_seqs_local(seqs, pair, merged)
        return local_df(
            spark, merges,
            "merge_rank long, pair string, merged string, cnt long")
    word_freq = _right_size_vocab_relation(wf_rel.persist())
    # " h e l l o " — every symbol flanked by spaces so a merge is a
    # plain substring replace with no boundary special-cases
    cur = word_freq.select(
        F.concat(F.lit(" "),
                 F.expr(r"regexp_replace(w, '(.)', '$1 ')")).alias("seq"),
        "wf")
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        pairs = (cur.filter(F.size(F.split(F.trim("seq"), " ")) > 1)
                 .select("wf", F.explode(F.expr(_BPE_PAIRS_EXPR))
                         .alias("pair")))
        top = (pairs.groupBy("pair")
               .agg(F.sum("wf").cast("long").alias("cnt"))
               .orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect())
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        merged = pair.replace(" ", "")
        merges.append((r, pair, merged, cnt))
        # literals via F.lit (never f-string SQL — corpus words can hold
        # quotes); delimiter-doubling makes the non-overlapping replace
        # merge consecutive occurrences too (see docstring), identically
        # in Spark and the oracle engine
        cur = cur.select(
            F.replace(
                F.replace(
                    F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                    F.lit(" " + pair.replace(" ", "  ") + " "),
                    F.lit(f" {merged} ")),
                F.lit("  "), F.lit(" ")).alias("seq"), "wf")
    word_freq.unpersist()
    return local_df(
        spark, merges,
        "merge_rank long, pair string, merged string, cnt long")


def bpe_tokenize(df: DataFrame, text_col: str, merges: list,
                 out_col: str = "tokens") -> DataFrame:
    """Apply an ORDERED list of learned BPE merges (the ``pair`` column of
    ``bpe_train``, ascending merge_rank) to tokenize text — the inference
    half of the tokenizer: each word becomes its character sequence, then
    every merge replaces its pair greedy leftmost-first non-overlapping
    (the same delimiter-doubling triple-replace as ``bpe_train``, so
    consecutive occurrences all merge), in training order.

    Pure projection, all codegen: words -> char-spaced symbol string ->
    a chain of ``len(merges) + 2`` replace()s inside a higher-order
    ``transform`` over the word array -> flatten.  No UDF, no shuffle, no
    driver loop per row — at 100 TB this is one map-only pass.  Merge
    literals ride as Column literals (never f-string SQL: corpus text can
    hold quotes).  Appends ``out_col`` (array<string>) per document.

    The delimiter-doubling trick runs ONCE for the whole chain, not per
    round: with every delimiter held at two spaces, the pattern
    `` a  b `` consumes one space from each side and the replacement
    `` ab `` puts one back, so the doubled-domain invariant survives
    every merge — consecutive occurrences still all match (each has its
    own spare space) and the output is bit-identical to the per-round
    double/merge/undouble form (A/B-verified,
    test_bpe_tokenize_single_pass_doubling_matches_per_round), at a third
    of the string-pass count.  Measured: the apply pass alone is 0.9s at
    sf0.1 x 6 merges; the registered query's remaining cost is the
    oracle-required in-query training loop plus the corpus token-count
    aggregation, not this projection."""
    def seq(wcol):
        s = F.concat(F.lit(" "),
                     F.regexp_replace(wcol, "(.)", "$1 "))
        s = F.replace(s, F.lit(" "), F.lit("  "))   # into doubled domain
        for pair in merges:
            s = F.replace(s, F.lit(" " + pair.replace(" ", "  ") + " "),
                          F.lit(" " + pair.replace(" ", "") + " "))
        s = F.replace(s, F.lit("  "), F.lit(" "))   # back to single domain
        return s

    toks = F.flatten(F.transform(
        words(F.col(text_col)),
        lambda w: F.split(F.trim(seq(w)), " ")))
    # drop the empty-string artifacts of blank words
    return df.withColumn(
        out_col, F.filter(toks, lambda t: t != F.lit("")))


def lang_ngram_profiles(df: DataFrame, lang_col: str, text_col: str,
                        n: int = 3, top_m: int = 40) -> DataFrame:
    """Train char-n-gram language profiles (Cavnar & Trenkle 1994 shape):
    per language, the ``top_m`` most frequent character n-grams of its
    labeled text, ties toward the lexicographically lowest gram.

    Scale shape: one explode + one map-side-combinable (lang, gram)
    count; the per-language top-m window partitions by language, but its
    input is at most |charset|^n rows per language (the n-gram VOCAB,
    not the corpus), so the reducer never sees corpus-sized data.
    Returns (lang, g, rn) — broadcastable (|langs| x top_m rows)."""
    from pyspark.sql import Window as W
    t = F.lower(F.col(text_col))
    src = df.filter(F.length(t) >= n).select(
        F.col(lang_col).alias("lang"), t.alias("t"))
    grams = src.select("lang", F.explode(F.expr(
        f"transform(sequence(1, length(t) - {n - 1}), "
        f"i -> substr(t, i, {n}))")).alias("g"))
    cnt = grams.groupBy("lang", "g").agg(F.count("*").alias("c"))
    w = W.partitionBy("lang").orderBy(F.desc("c"), F.asc("g"))
    return (cnt.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= top_m).select("lang", "g", "rn"))


def lang_id_ngram(df: DataFrame, id_col: str, text_col: str,
                  profiles: DataFrame, n: int = 3,
                  keep_cols: tuple = ()) -> DataFrame:
    """Char-n-gram language ID: each document's DISTINCT n-grams are
    intersected with every language profile and the language with the
    most hits wins (ties toward the lexicographically lowest language;
    no hits, or text shorter than n chars -> 'und').

    Scale shape: ZERO shuffles.  The trained profile relation is tiny
    (|langs| x top_m rows — a train-once artifact), so it collects to
    the driver (bounded, same contract as the broadcast weight tables)
    and inlines as per-language gram LITERALS; each document then scores
    in one whole-stage-codegen projection — ``array_distinct`` of its
    grams, ``size(array_intersect(...))`` per language, and a when-chain
    argmax.  No join, no aggregation, no window: a pure narrow map that
    scales embarrassingly to any corpus size (the r8 shape — explode +
    distinct + broadcast join + (doc,lang) count + per-doc window —
    carried three shuffles whose only payoff was avoiding a per-row
    intersect; at sf1 it ran 6.6s vs this shape's single scan).
    Returns (id, *keep_cols, pred_lang, n_hits) — ``keep_cols`` threads
    input columns through the projection so downstream consumers (the
    confusion matrix) need no doc-keyed join back onto the input (that
    join was a corpus-sized double shuffle for columns the scan already
    had in hand — the r12 fix for text_lang_id_ngram's 2.9x)."""
    prof: dict[str, list[str]] = {}
    for r in profiles.select("lang", "g").collect():   # |langs| x top_m
        prof.setdefault(r["lang"], []).append(r["g"])
    langs = sorted(prof)     # ascending = the tie-break order
    keep = [F.col(c) for c in keep_cols]
    if not langs:
        return df.select(F.col(id_col), *keep,
                         F.lit("und").alias("pred_lang"),
                         F.lit(0).cast("long").alias("n_hits"))
    t = F.lower(F.col(text_col))
    # per-row gram building is CPU-heavy (L substrs per doc): spread a
    # few-split scan across cores — the zero-shuffle plan otherwise runs
    # ENTIRELY on the scan's 1-2 file splits (the r8 shape's early
    # distinct-exchange parallelized downstream work by accident; this
    # repartition does it on purpose)
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism
    src = ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES) \
        .select(F.col(id_col), *keep, t.alias("_t"))
    grams = F.when(
        F.length("_t") >= n,
        F.expr(f"transform(sequence(1, length(_t) - {n - 1}), "
               f"i -> substr(_t, i, {n}))")
    ).otherwise(F.array().cast("array<string>"))
    # ONE heavy intersect per doc, not |langs|: the doc's gram stream
    # (duplicates and all — array_intersect dedups internally, so the
    # r11 array_distinct pre-pass was a redundant full hash pass) is cut
    # against the UNION of every profile's grams first; the per-language
    # intersects then run over that <= |langs|*top_m-element remnant,
    # which is set-algebra-identical (gs ∩ P_l == (gs ∩ ∪P) ∩ P_l).
    # sf1 A/B: scoring 2.8s -> ~1.3s.  Each stage sits in its OWN
    # projection: inlined, CollapseProject would re-evaluate the gram
    # build / the common remnant once per consumer (measured 4.4s ->
    # 1.5s at sf0.1 when the barrier first landed, r10)
    # profile-gram literals ride as ONE expr-built array each (the §17
    # py4j construction wall: element-wise F.lit cost ~2.4 s per query
    # construction in a fresh JVM; functions/text.lit_strings)
    from kstream_spark.functions.text import lit_strings
    all_grams = sorted({g for gs in prof.values() for g in gs})
    with_grams = src.select(F.col(id_col), *keep, grams.alias("_gs"))
    with_common = with_grams.select(
        F.col(id_col), *keep,
        F.array_intersect(F.col("_gs"), lit_strings(all_grams))
        .alias("_cg"))
    scored = with_common.select(
        F.col(id_col), *keep, *[
            F.size(F.array_intersect(
                F.col("_cg"), lit_strings(prof[lang])))
            .alias(f"_h_{i}") for i, lang in enumerate(langs)])
    # argmax with ties to the lexicographically lowest language: walk in
    # ascending lang order and replace only on a STRICT improvement
    best_l, best_h = F.lit(langs[0]), F.col("_h_0")
    for i, lang in enumerate(langs[1:], start=1):
        gt = F.col(f"_h_{i}") > best_h
        best_l = F.when(gt, F.lit(lang)).otherwise(best_l)
        best_h = F.when(gt, F.col(f"_h_{i}")).otherwise(best_h)
    return scored.select(
        F.col(id_col), *keep,
        F.when(best_h > 0, best_l).otherwise(F.lit("und"))
        .alias("pred_lang"),
        F.greatest(best_h, F.lit(0)).cast("long").alias("n_hits"))


def wordpiece_pair_scores(df: DataFrame, text_col: str,
                          top_k: int = 50) -> DataFrame:
    """One round of WordPiece merge statistics: adjacent character pairs
    scored by pointwise likelihood gain ``count(ab) / (count(a)*count(b))``
    (Schuster & Nakajima 2012; the scoring that distinguishes WordPiece
    from BPE's raw-frequency merges) — a rare pair of two common symbols
    loses to a faithful pair of rare symbols.

    Same distinct-word compression as bpe_pair_counts: one hash
    aggregation to (word, freq), then pair/char explosions run over the
    VOCABULARY, not the token stream.  The score is emitted as the exact
    integer ``round((ln c_ab - ln c_a - ln c_b) * 1e6)`` (micro-log
    units) so ranking is engine-exact; ties break on the pair string.
    Returns (pair, cnt, score_micro, rank) top-``top_k`` by score.

    Scale shape: two vocabulary-keyed aggregations (map-side combinable)
    + the char-count table re-joined onto pairs — char vocabulary is
    alphabet-sized, so both joins broadcast; nothing corpus-keyed ever
    shuffles.
    """
    from pyspark.sql import Window as W
    from kstream_spark.functions.text import words
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.length("w") >= 2)
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    pairs = (word_freq.select(
        "wf",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"
        )).alias("pair"))
        .groupBy("pair").agg(F.sum("wf").cast("long").alias("cnt")))
    chars = (word_freq.select(
        "wf",
        F.explode(F.expr(
            "transform(sequence(1, length(w)), i -> substr(w, i, 1))"
        )).alias("ch"))
        .groupBy("ch").agg(F.sum("wf").cast("long").alias("cc")))
    ca = chars.select(F.col("ch").alias("_a"), F.col("cc").alias("_ca"))
    cb = chars.select(F.col("ch").alias("_b"), F.col("cc").alias("_cb"))
    scored = (pairs
              .join(F.broadcast(ca), F.substring("pair", 1, 1) == F.col("_a"))
              .join(F.broadcast(cb), F.substring("pair", 2, 1) == F.col("_b"))
              .select("pair", "cnt",
                      F.round((F.log("cnt") - F.log("_ca") - F.log("_cb"))
                              * 1e6, 0).cast("long").alias("score_micro")))
    out = (scored.orderBy(F.desc("score_micro"), F.asc("pair")).limit(top_k)
           .withColumn("rank", F.row_number().over(
               W.orderBy(F.desc("score_micro"), F.asc("pair"))).cast("long")))
    return out


def lexical_diversity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document lexical-diversity signals for corpus quality gating:
    type-token ratio (distinct words / total words) and hapax ratio
    (once-only words / total words).  Boilerplate and template spam score
    low TTR; OCR noise and gibberish score anomalously high hapax — the
    two cheap screens the Gopher/C4 rule stacks apply before any LM-based
    perplexity gate.

    Returns (id, n_tokens, n_types, n_hapax, ttr_micro, hapax_micro) for
    every document with at least one token.  Ratios are emitted as exact
    round-half-up integer micro-units via pure BIGINT arithmetic
    ((2e6*num + den) div (2*den)) so every engine derives the identical
    value — no float division anywhere.  [[oracle-parity]]

    Plan shape: one explode + one (id, token)-keyed aggregation (map-side
    partial combine collapses repeated tokens before the exchange) + one
    id-keyed rollup.  No broadcast tables, no windows; state is bounded
    by distinct (doc, token) pairs, linear in corpus size.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.filter(words(F.col(text_col)),
                           lambda w: w != F.lit(""))).alias("_tok"))
    per_tok = tok.groupBy(id_col, "_tok").agg(F.count("*").alias("_c"))
    agg = per_tok.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.count_if(F.col("_c") == 1).cast("long").alias("n_hapax"))
    return (agg
            .withColumn("ttr_micro", F.expr(
                "(2000000 * n_types + n_tokens) div (2 * n_tokens)"))
            .withColumn("hapax_micro", F.expr(
                "(2000000 * n_hapax + n_tokens) div (2 * n_tokens)")))


# -- unigram-LM (SentencePiece-family) tokenizer -----------------------------
def unigram_seed_vocab(df: DataFrame, text_col: str,
                       max_piece_len: int = 4,
                       top_v: int = 200) -> DataFrame:
    """Seed vocabulary for unigram-LM tokenizer training (Kudo 2018,
    "Subword Regularization", step 1): enumerate every substring of
    corpus words up to ``max_piece_len`` chars, count occurrences
    weighted by word frequency, keep the ``top_v`` most frequent, and
    attach each piece's initial log-probability in exact integer micro
    units (ln(cnt / total-over-kept) * 1e6, the unigram_logprob trick —
    integer inputs, so any engine derives the identical value).

    Returns (piece, cnt, logp_micro) — completing the tokenizer-family
    triple next to bpe_train (merge-based) and wordpiece_pairs
    (likelihood-based): the unigram family starts from a SUPERSET vocab
    and prunes (see unigram_train), instead of growing from characters.

    Scale shape: the corpus compresses once to (distinct word, freq);
    substring enumeration is a per-word projection (<= len * max_piece_len
    pieces per word), then ONE map-side-combinable count and a TakeOrdered
    top_v — no shuffle wider than distinct pieces, never a token re-scan.
    """
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.col("w") != "")
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    subs = F.expr(
        f"flatten(transform(sequence(1, length(w)), "
        f"i -> transform(sequence(i, least(i + {max_piece_len} - 1, "
        f"length(w))), j -> substring(w, i, j - i + 1))))")
    pieces = (word_freq.select(F.explode(subs).alias("piece"), "wf")
              .groupBy("piece").agg(F.sum("wf").cast("long").alias("cnt"))
              .orderBy(F.desc("cnt"), F.asc("piece")).limit(top_v))
    # total over the KEPT vocab (1-row broadcast) -> initial probabilities
    total = pieces.agg(F.sum("cnt").alias("_tot"))
    return (pieces.join(F.broadcast(total))
            .select("piece", "cnt",
                    F.round(F.log(F.col("cnt") / F.col("_tot")) * 1e6, 0)
                    .cast("long").alias("logp_micro")))


def _viterbi_best(word: str, lp: dict, max_len: int,
                  oov_lp: int) -> tuple[int, int]:
    """Exact-integer Viterbi over one word: best (score, n_pieces) with
    score = sum of piece logp_micro, maximizing score then MINIMIZING
    n_pieces (a total order on the DP value, so the result is engine-
    independent).  Single chars absent from the vocab segment at the
    ``oov_lp`` floor, so every word is segmentable."""
    n = len(word)
    NEG = float("-inf")
    best = [(0, 0)] + [(NEG, 0)] * n  # pos -> (score, -n_pieces as max key)
    for i in range(1, n + 1):
        cand = None
        for l in range(1, min(max_len, i) + 1):
            p = word[i - l:i]
            plp = lp.get(p)
            if plp is None:
                if l != 1:
                    continue
                plp = oov_lp
            ps, pn = best[i - l]
            if ps == NEG:
                continue
            c = (ps + plp, pn - 1)   # more pieces = smaller tuple
            if cand is None or c > cand:
                cand = c
        best[i] = cand if cand is not None else (NEG, 0)
    s, negn = best[n]
    return int(s), -negn


def unigram_viterbi_stats(df: DataFrame, text_col: str,
                          pieces: list, max_piece_len: int = 4,
                          oov_logp_micro: int = -20_000_000) -> DataFrame:
    """Viterbi segmentation statistics under a FIXED unigram piece table:
    for every distinct corpus word, the best-segmentation total
    log-probability (exact integer micro units) and its piece count —
    the inference half of the unigram tokenizer (bpe_tokenize's analog).
    ``pieces``: list of (piece, logp_micro) rows, e.g. collected from
    unigram_seed_vocab or unigram_train.

    The per-word DP is inherently sequential, so it runs as an Arrow-
    batched mapInPandas over the DISTINCT-WORD relation with the piece
    table a broadcast python dict — vocab-sized work, never a corpus
    re-scan, no shuffle beyond the distinct-word aggregation.  All
    arithmetic is integer micro-log units; ties prefer FEWER pieces, so
    (score, n_pieces) is a pure function of (word, piece table) and a
    SQL oracle can replay it by exhaustive path enumeration on a bounded
    slice.  Returns (w, wf, n_pieces, best_logp_micro).
    """
    import pandas as pd
    lp = {p: int(v) for p, v in pieces}
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.col("w") != "")
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    ml, oov = max_piece_len, int(oov_logp_micro)

    def run(batches):
        for pdf in batches:
            scores, nps = [], []
            for word in pdf["w"]:
                s, np_ = _viterbi_best(word, lp, ml, oov)
                scores.append(s)
                nps.append(np_)
            yield pd.DataFrame({"w": pdf["w"], "wf": pdf["wf"],
                                "n_pieces": nps,
                                "best_logp_micro": scores})

    return word_freq.mapInPandas(
        run, "w string, wf long, n_pieces long, best_logp_micro long")


def unigram_train(df: DataFrame, text_col: str, seed_v: int = 60,
                  keep_v: int = 30, iters: int = 2,
                  max_piece_len: int = 4,
                  oov_logp_micro: int = -20_000_000,
                  max_word_len: int | None = None,
                  local: bool | None = None) -> DataFrame:
    """Unigram-LM tokenizer training by HARD (Viterbi) EM with pruning —
    the SentencePiece algorithm's deterministic-oracle-friendly form
    (Kudo 2018 trains with full forward-backward EM; hard EM keeps every
    quantity an exact integer, the property this repo's oracle contract
    needs):

      seed    unigram_seed_vocab(top seed_v pieces)
      E-step  Viterbi-segment every distinct word under current piece
              log-probs (integer micro units)
      M-step  piece counts from the best segmentations, weighted by word
              frequency; re-estimate logp_micro = ln(cnt/total)*1e6
      prune   keep the keep_v most-used pieces (count desc, piece asc) —
              single-char pieces are never pruned (segmentability)
    repeated ``iters`` times.  Returns the final vocabulary
    (piece, cnt, logp_micro), cnt = last-E-step usage.

    Scale shape: each round is one vocab-sized mapInPandas (the DP) +
    one count aggregation; the only driver traffic is the piece table
    itself (<= seed_v rows per round) — the same bounded-driver-loop
    contract as bpe_train / kmeans_centroids.  ``max_word_len`` drops
    longer words from E-step training (SentencePiece similarly caps
    candidate lengths); the seed enumeration still sees them.
    """
    import pandas as pd
    spark = df.sparkSession
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.col("w") != "")
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    if max_word_len is not None:
        word_freq = word_freq.filter(F.length("w") <= max_word_len)
    # LOCAL ARM (r13): the E-step DP (_viterbi_pieces_batch) is Python
    # code EITHER WAY — distributed it runs inside mapInPandas, locally
    # it runs on the one collected vocab; the M-step is an integer,
    # order-free count.  So the arms are bit-identical by construction
    # and the per-iteration action (Arrow round-trip + groupBy collect)
    # collapses into plain dict counting.
    local_arm = fits_driver(df, local)
    ws_l: list = []
    wfs_l: list = []
    if local_arm:
        rows = word_freq.collect()
        ws_l = [r["w"] for r in rows]
        wfs_l = [int(r["wf"]) for r in rows]
    else:
        word_freq = _right_size_vocab_relation(word_freq.persist())
    seed = unigram_seed_vocab(df, text_col, max_piece_len, seed_v).collect()
    lp = {r["piece"]: int(r["logp_micro"]) for r in seed}
    ml, oov = max_piece_len, int(oov_logp_micro)
    counts: dict = {}
    for _ in range(iters):
        lp_b = dict(lp)

        if local_arm:
            counts = {}
            for pieces, wf_ in zip(
                    _viterbi_pieces_batch(ws_l, lp_b, ml, oov), wfs_l):
                for p in pieces:
                    counts[p] = counts.get(p, 0) + wf_
        else:
            def run(batches, lp_b=lp_b):
                for pdf in batches:
                    out_p, out_c = [], []
                    for pieces, wf in zip(
                            _viterbi_pieces_batch(list(pdf["w"]), lp_b,
                                                  ml, oov),
                            pdf["wf"]):
                        out_p += pieces
                        out_c += [int(wf)] * len(pieces)
                    yield pd.DataFrame({"piece": out_p, "c": out_c})

            used = (word_freq.mapInPandas(run, "piece string, c long")
                    .groupBy("piece")
                    .agg(F.sum("c").cast("long").alias("cnt"))
                    .collect())
            counts = {r["piece"]: int(r["cnt"]) for r in used}
        # prune: keep_v by (cnt desc, piece asc), single chars immune
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = {p for p, _ in ranked[:keep_v]} | \
            {p for p in counts if len(p) == 1}
        total = sum(c for p, c in counts.items() if p in kept)
        import math
        lp = {p: int(_round_half_up(math.log(c / total) * 1e6))
              for p, c in counts.items() if p in kept}
    word_freq.unpersist()
    rows = sorted(((p, counts[p], lp[p]) for p in lp),
                  key=lambda r: (-r[1], r[0]))
    return local_df(
        spark, rows, "piece string, cnt long, logp_micro long")


def _viterbi_pieces(word: str, lp: dict, max_len: int,
                    oov_lp: int) -> list:
    """Backtracked best segmentation (same DP/tie-break as _viterbi_best:
    max score, then fewest pieces; on exact (score, n_pieces) ties the
    backtrack prefers the LONGEST last piece, making the piece sequence
    itself deterministic too)."""
    n = len(word)
    NEG = float("-inf")
    best = [(0, 0)] + [(NEG, 0)] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        cand, cand_l = None, 0
        for l in range(1, min(max_len, i) + 1):
            p = word[i - l:i]
            plp = lp.get(p)
            if plp is None:
                if l != 1:
                    continue
                plp = oov_lp
            ps, pn = best[i - l]
            if ps == NEG:
                continue
            c = (ps + plp, pn - 1)
            if cand is None or c > cand or (c == cand and l > cand_l):
                cand, cand_l = c, l
        best[i] = cand if cand is not None else (NEG, 0)
        back[i] = cand_l
    out = []
    i = n
    while i > 0:
        out.append(word[i - back[i]:i])
        i -= back[i]
    return out[::-1]


def _viterbi_pieces_batch(ws: list, lp: dict, max_len: int,
                          oov_lp: int):
    """Batch Viterbi: the exact DP/tie-breaks of ``_viterbi_pieces``
    (max score, fewest pieces, longest-last piece) vectorized across an
    Arrow batch — position-major numpy recurrence over all words at
    once, with the per-substring logp lookups batched through a pandas
    Index (C-loop hashing) instead of a per-word python dict.get chain.
    Words are processed sorted by length so position i only touches the
    still-active suffix.  Yields one piece list per input word, input
    order.  (The r9/r10 perf task: the scalar loop made
    text_unigram_tokenize 17.8x its oracle at sf1.)"""
    import numpy as np
    import pandas as pd

    n_words = len(ws)
    if n_words == 0:
        return []
    if not lp:   # zero-length lp_val would IndexError in the np.where
        return [_viterbi_pieces(w, lp, max_len, oov_lp) for w in ws]
    lens = np.fromiter((len(w) for w in ws), dtype=np.int64, count=n_words)
    order = np.argsort(lens, kind="stable")     # ascending length
    lens_s = lens[order]
    L = int(lens_s[-1])
    if L == 0:
        return [[] for _ in ws]
    ws_s = [ws[j] for j in order]
    # fixed-width unicode matrix; one char per cell, '\x00' padding
    chars = np.array(ws_s, dtype=f"<U{L}").view("<U1").reshape(n_words, L)
    lp_idx = pd.Index(list(lp))
    lp_val = np.fromiter((float(lp[k]) for k in lp_idx), dtype=np.float64,
                         count=len(lp_idx))
    NEG = -1e18
    bs = np.full((L + 1, n_words), NEG)          # best score per position
    bn = np.zeros((L + 1, n_words), np.int64)    # -(piece count)
    back = np.zeros((L + 1, n_words), np.int64)  # winning last-piece length
    bs[0] = 0.0
    for i in range(1, L + 1):
        s = int(np.searchsorted(lens_s, i))      # words with len >= i
        if s == n_words:
            break
        width = n_words - s
        cur_s = np.full(width, NEG)
        cur_n = np.zeros(width, np.int64)
        cur_l = np.zeros(width, np.int64)
        for l in range(1, min(max_len, i) + 1):
            sub = chars[s:, i - l:i]
            sub = (sub.copy().view(f"<U{l}").ravel() if l > 1
                   else sub.ravel())
            loc = lp_idx.get_indexer(sub)
            plp = np.where(loc >= 0, lp_val[np.clip(loc, 0, None)],
                           float(oov_lp) if l == 1 else NEG)
            prev_s = bs[i - l, s:]
            cs = prev_s + plp
            cn = bn[i - l, s:] - 1
            ok = (plp > NEG / 2) & (prev_s > NEG / 2)
            # l ascends, so a tie on (score, n_pieces) goes to the later
            # (longer) l — same rule as the scalar backtrack preference
            upd = ok & ((cs > cur_s) | ((cs == cur_s) & (cn >= cur_n)))
            cur_s = np.where(upd, cs, cur_s)
            cur_n = np.where(upd, cn, cur_n)
            cur_l = np.where(upd, l, cur_l)
        bs[i, s:], bn[i, s:], back[i, s:] = cur_s, cur_n, cur_l
    out: list = [None] * n_words
    for j, word in enumerate(ws_s):
        i, pieces = len(word), []
        while i > 0:
            l = int(back[i, j])
            if l == 0:      # unreachable by induction (l=1 always valid)
                break
            pieces.append(word[i - l:i])
            i -= l
        out[order[j]] = pieces[::-1]
    return out


def _round_half_up(x: float) -> int:
    """Decimal round-half-up of a float to int — matches Spark's
    round(col, 0) (BigDecimal HALF_UP on the double's shortest repr) and
    DuckDB's round() for the magnitudes used here."""
    from decimal import ROUND_HALF_UP, Context, Decimal
    return int(Decimal(repr(x)).quantize(Decimal("1"),
                                         rounding=ROUND_HALF_UP))


def unigram_tokenize(df: DataFrame, text_col: str, pieces: list,
                     max_piece_len: int = 4,
                     oov_logp_micro: int = -20_000_000,
                     max_word_len: int | None = None) -> DataFrame:
    """Tokenizer INFERENCE with a trained unigram vocabulary: Viterbi-
    segment every distinct corpus word under ``pieces`` (list of
    (piece, logp_micro)) and return the corpus token counts
    (token, cnt), cnt weighted by word frequency — bpe_tokenize's analog
    for the unigram family.  Same DP/tie-breaks as unigram_train's
    E-step (max score, fewest pieces, longest-last piece), one Arrow
    pass over the distinct-word relation, one final count aggregation.
    """
    import pandas as pd
    lp = {p: int(v) for p, v in pieces}
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.col("w") != "")
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    if max_word_len is not None:
        word_freq = word_freq.filter(F.length("w") <= max_word_len)
    ml, oov = max_piece_len, int(oov_logp_micro)

    def run(batches):
        for pdf in batches:
            out_p, out_c = [], []
            for pieces, wf in zip(
                    _viterbi_pieces_batch(list(pdf["w"]), lp, ml, oov),
                    pdf["wf"]):
                out_p += pieces
                out_c += [int(wf)] * len(pieces)
            yield pd.DataFrame({"token": out_p, "c": out_c})

    return (word_freq.mapInPandas(run, "token string, c long")
            .groupBy("token").agg(F.sum("c").cast("long").alias("cnt")))


def _right_size_vocab_relation(word_freq: DataFrame,
                               rows_per_partition: int = 4096) -> DataFrame:
    """Re-persist an already-persisted distinct-word relation at a
    partition count matched to its actual cardinality.

    The tokenizer training loops run MANY small jobs over this relation
    (one per merge round / EM round), and the groupBy that built it
    leaves it at the session shuffle-partition count — for a
    natural-language vocabulary (thousands to a few million distinct
    words) that means dozens of near-empty tasks scheduled per round,
    which at sf1 was ~2/3 of every round's wall-clock.  One bounded
    count (the relation is being materialized anyway) picks
    ceil(n / rows_per_partition) capped at defaultParallelism, so a toy
    vocab collapses to one task and a 100 TB corpus's vocab still fans
    out across the cluster.  Returns the re-persisted relation; the
    original's cache is dropped."""
    n = word_freq.count()
    spark = word_freq.sparkSession
    target = max(1, min(spark.sparkContext.defaultParallelism,
                        (n + rows_per_partition - 1) // rows_per_partition))
    if word_freq.rdd.getNumPartitions() <= target:
        return word_freq
    sized = word_freq.repartition(target).persist()
    sized.count()
    word_freq.unpersist()
    return sized


def wordpiece_train(df: DataFrame, text_col: str,
                    n_merges: int = 6,
                    local: bool | None = None) -> DataFrame:
    """ITERATIVE WordPiece training (Schuster & Nakajima 2012, the BERT
    tokenizer's training rule): structurally bpe_train's loop — merge one
    adjacent symbol pair everywhere per round, recount — but the winner
    maximizes the LIKELIHOOD GAIN ``ln(c_ab) - ln(c_a) - ln(c_b)`` over
    the CURRENT symbol statistics (``wordpiece_pair_scores`` is round 1's
    statistic) instead of BPE's raw pair frequency: a rare pairing of two
    common symbols loses to a faithful pairing of rare symbols.

    Scoring is the exact integer ``round((ln c_ab - ln c_a - ln c_b)*1e6)``
    (micro-log units, ties toward the lexicographically lowest pair) so
    the winner sequence is engine-exact and an oracle can unroll the
    count -> score -> pick -> merge chain as CTEs.  Symbol statistics
    cover the pair-bearing words (length >= 2, same corpus compression
    as bpe_train); the merge itself is the delimiter-doubling
    triple-replace (greedy leftmost non-overlapping — see bpe_train).

    Scale shape: each round is ONE vocab-sized map-side-combinable
    aggregation — symbols and adjacent pairs explode from the same scan
    (a symbol never contains a space, a pair always does, so one count
    relation carries both) — followed by ONE bounded driver collect of
    that relation: its cardinality is |alphabet| + merges-so-far symbols
    plus at most (|alphabet|+merges)^2 observed pairs, independent of
    corpus size, so the likelihood-gain argmax runs driver-side in
    microseconds instead of a broadcast-join + global-sort subplan (the
    r9 shape spent two aggregations, two joins and an orderBy per round;
    fusing them halved the round's wall-clock).  One action per round —
    the irreducible sequential dependency of agglomerative tokenizer
    training.

    Returns one row per merge:
    (merge_rank, pair, merged, cnt, score_micro)."""
    import math
    spark = df.sparkSession
    w = words(F.col(text_col))
    wf_rel = (df.select(F.explode(w).alias("w"))
              .filter(F.length("w") >= 2)
              .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    if fits_driver(df, local):
        # LOCAL ARM (r13): one collect of the JVM-prepared seqs; each
        # round's symbol+pair statistic is integer counting in Python
        # (bit-identical to the fused groupBy sum) and the argmax was
        # ALREADY driver-side Python — the scoring/tie-break code below
        # is shared verbatim.
        rows = wf_rel.select(
            F.concat(F.lit(" "),
                     F.expr(r"regexp_replace(w, '(.)', '$1 ')"))
            .alias("seq"), "wf").collect()
        seqs = [r["seq"] for r in rows]
        wfs = [int(r["wf"]) for r in rows]
        merges: list[tuple] = []
        for r in range(1, n_merges + 1):
            sc: dict = {}
            for s, wf_ in zip(seqs, wfs):
                for tok in s.strip(" ").split(" "):
                    sc[tok] = sc.get(tok, 0) + wf_
            pair_cnt = _bpe_pairs_local(seqs, wfs)
            best = None
            for pair, cnt in pair_cnt.items():
                a, b = pair.split(" ")
                score = _round_half_up(
                    (math.log(cnt) - math.log(sc[a]) - math.log(sc[b]))
                    * 1e6)
                key = (-score, pair)
                if best is None or key < best[0]:
                    best = (key, pair, cnt, score)
            if best is None:
                break
            _, pair, cnt, score = best
            merged = pair.replace(" ", "")
            merges.append((r, pair, merged, cnt, score))
            seqs = _merge_seqs_local(seqs, pair, merged)
        return local_df(
            spark, merges, "merge_rank long, pair string, merged string, "
                           "cnt long, score_micro long")
    word_freq = _right_size_vocab_relation(wf_rel.persist())
    cur = word_freq.select(
        F.concat(F.lit(" "),
                 F.expr(r"regexp_replace(w, '(.)', '$1 ')")).alias("seq"),
        "wf")
    # symbols ++ pairs from one scan; sequence(1, 0) is the DESCENDING
    # [1, 0] in Spark, hence the explicit size guard on the pair arm
    tok_expr = F.expr(
        "concat(split(trim(seq), ' '), "
        " case when size(split(trim(seq), ' ')) > 1 then " +
        _BPE_PAIRS_EXPR + " else array() end)")
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        counts = (cur.select("wf", F.explode(tok_expr).alias("tok"))
                  .groupBy("tok")
                  .agg(F.sum("wf").cast("long").alias("cnt"))
                  .collect())
        sc = {row["tok"]: int(row["cnt"]) for row in counts
              if " " not in row["tok"]}
        best = None
        for row in counts:
            pair = row["tok"]
            if " " not in pair:
                continue
            a, b = pair.split(" ")
            cnt = int(row["cnt"])
            # same arithmetic the r9 Spark subplan ran: doubles through
            # math.log, then decimal HALF_UP — _round_half_up replicates
            # Spark's round() exactly (and the DuckDB oracle's)
            score = _round_half_up(
                (math.log(cnt) - math.log(sc[a]) - math.log(sc[b])) * 1e6)
            key = (-score, pair)
            if best is None or key < best[0]:
                best = (key, pair, cnt, score)
        if best is None:
            break
        _, pair, cnt, score = best
        merged = pair.replace(" ", "")
        merges.append((r, pair, merged, cnt, score))
        cur = cur.select(
            F.replace(
                F.replace(
                    F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                    F.lit(" " + pair.replace(" ", "  ") + " "),
                    F.lit(f" {merged} ")),
                F.lit("  "), F.lit(" ")).alias("seq"), "wf")
    word_freq.unpersist()
    return local_df(
        spark, merges, "merge_rank long, pair string, merged string, "
                       "cnt long, score_micro long")


def _maxmatch_pieces(word: str, vocab: set, max_len: int) -> list:
    """Greedy longest-match-first (MaxMatch) segmentation: at each
    position take the LONGEST vocab piece that prefixes the remainder;
    single characters always segment (the OOV floor — same convention as
    the unigram family, so every word tokenizes without an [UNK] path).

    Equivalence the oracle exploits: among ALL full segmentations whose
    pieces are (vocab | single chars), the MaxMatch path is exactly the
    one with the lexicographically LARGEST piece-length sequence — at
    every position greedy takes the longest available piece (the max
    first element), single chars guarantee any prefix choice completes,
    and the suffix decomposition is position-independent, so induction
    carries it through — letting the proven path-enumeration recursive
    CTE replay MaxMatch with just a different ORDER BY."""
    out = []
    i, n = 0, len(word)
    while i < n:
        l = min(max_len, n - i)
        while l > 1 and word[i:i + l] not in vocab:
            l -= 1
        out.append(word[i:i + l])
        i += l
    return out


def wordpiece_tokenize(df: DataFrame, text_col: str, vocab: list,
                       max_word_len: int | None = None) -> DataFrame:
    """Tokenizer INFERENCE with a trained WordPiece vocabulary: greedy
    longest-match-first over ``vocab`` (the ``merged`` column of
    wordpiece_train; single chars are implicit) for every distinct
    corpus word, returning corpus token counts (token, cnt) weighted by
    word frequency — bpe_tokenize / unigram_tokenize's analog for the
    WordPiece family, completing its train -> tokenize cycle.

    Scale shape: the per-word greedy scan is inherently sequential, so
    it runs as ONE Arrow-batched mapInPandas over the DISTINCT-WORD
    relation with the vocab a broadcast python set — vocab-sized work,
    never a corpus re-scan — then one map-side-combinable count."""
    import pandas as pd
    vset = {p for p in vocab}
    max_len = max((len(p) for p in vset), default=1)
    w = words(F.col(text_col))
    word_freq = (df.select(F.explode(w).alias("w"))
                 .filter(F.col("w") != "")
                 .groupBy("w").agg(F.count("*").cast("long").alias("wf")))
    if max_word_len is not None:
        word_freq = word_freq.filter(F.length("w") <= max_word_len)

    def run(batches):
        for pdf in batches:
            out_p, out_c = [], []
            for word, wf in zip(pdf["w"], pdf["wf"]):
                for piece in _maxmatch_pieces(word, vset, max_len):
                    out_p.append(piece)
                    out_c.append(int(wf))
            yield pd.DataFrame({"token": out_p, "c": out_c})

    return (word_freq.mapInPandas(run, "token string, c long")
            .groupBy("token").agg(F.sum("c").cast("long").alias("cnt")))


# -- corpus-filter rule stacks (Gopher / C4) ---------------------------------

# the stop-word evidence set Gopher's "no stop words" rule checks against
# (Rae et al. 2021, table A1: "contains at least 2 of the following");
# ref has no analog — kstream filters via user predicates only
# (kstream/stream.go Filter), so the rule STACK is the new surface here.
GOPHER_STOPSET = ["the", "be", "to", "of", "and", "that", "have", "with"]

GOPHER_RULES = ["word_count", "mean_word_len", "alpha_words", "stopwords",
                "symbol_ratio", "bullet_lines", "ellipsis_lines"]


def gopher_filter(df: DataFrame, id_col: str, text_col: str,
                  min_words: int = 50, max_words: int = 100000,
                  min_mean_wlen: float = 3.0, max_mean_wlen: float = 10.0,
                  min_alpha_frac: float = 0.8, min_stopwords: int = 2,
                  max_symbol_ratio: float = 0.1,
                  max_bullet_frac: float = 0.9,
                  max_ellipsis_frac: float = 0.3) -> DataFrame:
    """Gopher-style document quality rule stack (Rae et al. 2021 §A.1.1).

    Emits every signal the rules read plus ``keep`` and a deterministic
    comma-joined ``fail_reasons`` (rule names in GOPHER_RULES order), so a
    pipeline can both filter and audit WHY documents fell.

    All seven rules are ONE projection over the scan — pure codegen
    Column expressions, zero shuffles, exactly reproducible in SQL: at
    100 TB this runs at I/O speed and composes with any downstream filter
    without a barrier.
    """
    sig = _gopher_signal_exprs(text_col)
    d = df.select(F.col(id_col),
                  *[v.alias(k) for k, v in sig.items()])
    fails = _gopher_fail_exprs(
        {k: F.col(k) for k in sig}, min_words, max_words, min_mean_wlen,
        max_mean_wlen, min_alpha_frac, min_stopwords, max_symbol_ratio,
        max_bullet_frac, max_ellipsis_frac)
    reasons = F.concat_ws(",", *[
        F.when(fails[r], F.lit(r)).otherwise(F.lit(None)) for r in GOPHER_RULES])
    keep = ~fails[GOPHER_RULES[0]]
    for r in GOPHER_RULES[1:]:
        keep = keep & ~fails[r]
    return d.withColumn("keep", keep).withColumn("fail_reasons", reasons)


def _gopher_signal_exprs(text_col: str) -> dict:
    """The seven Gopher rule signals as raw Column expressions (shared by
    gopher_filter's audited projection and gopher_keep's pure predicate).
    NULL text behaves as an empty document — coalesced FIRST, so every
    signal (and hence keep) is non-NULL."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    w = F.filter(words(t), lambda x: x != F.lit(""))
    n = F.size(w)
    mean_wlen = _ratio(F.length(F.regexp_replace(t, r"\s", "")), n)
    alpha = _ratio(F.size(F.filter(w, lambda x: x.rlike("[a-z]"))), n)
    n_stop = F.size(F.array_intersect(
        F.array_distinct(w),
        F.array(*[F.lit(s) for s in GOPHER_STOPSET])))
    symbols = F.regexp_count(t, F.lit(r"#|\.\.\.")).cast("long")
    sym_ratio = _ratio(symbols, n)
    lines = F.filter(F.split(t, "\n"), lambda x: F.trim(x) != F.lit(""))
    n_lines = F.size(lines)
    bullet = _ratio(F.size(F.filter(
        lines, lambda x: F.trim(x).rlike(r"^[-*•]"))), n_lines)
    ellipsis = _ratio(F.size(F.filter(
        lines, lambda x: F.trim(x).rlike(r"\.\.\.$"))), n_lines)
    return {
        "n_words": n.cast("long"),
        "mean_word_len": mean_wlen,
        "alpha_word_frac": alpha,
        "n_stopwords": n_stop.cast("long"),
        "symbol_ratio": sym_ratio,
        "bullet_line_frac": bullet,
        "ellipsis_line_frac": ellipsis,
    }


def _gopher_fail_exprs(sig: dict, min_words, max_words, min_mean_wlen,
                       max_mean_wlen, min_alpha_frac, min_stopwords,
                       max_symbol_ratio, max_bullet_frac,
                       max_ellipsis_frac) -> dict:
    return {
        "word_count": (sig["n_words"] < min_words)
                      | (sig["n_words"] > max_words),
        "mean_word_len": (sig["mean_word_len"] < min_mean_wlen)
                         | (sig["mean_word_len"] > max_mean_wlen),
        "alpha_words": sig["alpha_word_frac"] < min_alpha_frac,
        "stopwords": sig["n_stopwords"] < min_stopwords,
        "symbol_ratio": sig["symbol_ratio"] > max_symbol_ratio,
        "bullet_lines": sig["bullet_line_frac"] > max_bullet_frac,
        "ellipsis_lines": sig["ellipsis_line_frac"] > max_ellipsis_frac,
    }


def gopher_keep(text_col: str, min_words: int = 50,
                max_words: int = 100000, min_mean_wlen: float = 3.0,
                max_mean_wlen: float = 10.0, min_alpha_frac: float = 0.8,
                min_stopwords: int = 2, max_symbol_ratio: float = 0.1,
                max_bullet_frac: float = 0.9,
                max_ellipsis_frac: float = 0.3):
    """``gopher_filter``'s keep decision as ONE boolean Column — for
    callers that only need the verdict (the streaming admission gate):
    ``df.filter(gopher_keep(...))`` is a pure scan-stage predicate with
    no id projection and no semi-join back, where the audited
    ``gopher_filter`` route costs an extra scan + join per batch.  Same
    rules, same thresholds, same NULL-as-empty-doc semantics."""
    fails = _gopher_fail_exprs(
        _gopher_signal_exprs(text_col), min_words, max_words,
        min_mean_wlen, max_mean_wlen, min_alpha_frac, min_stopwords,
        max_symbol_ratio, max_bullet_frac, max_ellipsis_frac)
    keep = ~fails[GOPHER_RULES[0]]
    for r in GOPHER_RULES[1:]:
        keep = keep & ~fails[r]
    return keep


def c4_line_clean(df: DataFrame, id_col: str, text_col: str,
                  min_line_words: int = 5,
                  require_terminal_punct: bool = True,
                  drop_markers: list[str] | None = None) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines with >= ``min_line_words`` words that (optionally) end in
    terminal punctuation and contain none of ``drop_markers`` (default:
    the C4 "javascript" / "lorem ipsum" / "{" markers); reassemble the
    survivors as ``clean_text``.

    Returns (id, n_lines, n_kept_lines, clean_text, clean_hash) — the
    hash is the dedup-ready fingerprint of the cleaned text.

    Line surgery is array-expression-only (split -> filter -> join): one
    codegen projection, zero shuffles, SQL-replayable — the 100 TB shape
    is a pure scan-stage map like ``gopher_filter``.
    """
    if drop_markers is None:
        drop_markers = ["javascript", "lorem ipsum", "{"]
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty doc
    lines = F.filter(F.split(t, "\n"), lambda x: F.trim(x) != F.lit(""))

    def line_ok(x: Column) -> Column:
        s = F.trim(x)
        ok = F.size(F.filter(F.split(s, r"\s+"),
                             lambda y: y != F.lit(""))) >= min_line_words
        if require_terminal_punct:
            ok = ok & s.rlike(r'[.!?"]$')
        for m in drop_markers:
            ok = ok & ~F.contains(F.lower(s), F.lit(m))
        return ok

    kept = F.filter(lines, line_ok)
    # explicit single-arg lambda: F.transform hands (element, index) to a
    # two-arg callable, and F.trim(str, trimStr) exists — wrong overload
    clean = F.array_join(F.transform(kept, lambda x: F.trim(x)), "\n")
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        clean.alias("clean_text"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_hash"),
    )


def doc_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram (word) Shannon entropy in bits — the
    degenerate-text detector that survives dedup: keyword-stuffed or
    looping documents are unique yet low-entropy, natural prose sits near
    log2(vocab).  Returns (id, n_words, n_distinct, entropy,
    norm_entropy) with norm_entropy = entropy / log2(n_distinct) in
    [0, 1] (1 when every word is distinct; 0 for single-word spam).

    Zero shuffles: H = log2(n) - (sum_c c*log2 c)/n needs only the run
    lengths of the SORTED per-doc word array, accumulated by one O(n)
    fold (the repetition_stats trick) — no explode, no groupBy, scan
    speed at 100 TB.
    """
    w = F.filter(words(F.coalesce(F.col(text_col), F.lit(""))),
                 lambda x: x != F.lit(""))  # NULL text = empty doc
    d = df.select(F.col(id_col), w.alias("_w"))
    # the sort must be a materialized column: expressions referenced
    # inside a lambda re-evaluate per element
    d = d.withColumn("_srt", F.array_sort("_w"))
    n = F.size(F.col("_w"))
    state = F.struct(F.lit(None).cast("string").alias("prev"),
                     F.lit(0.0).alias("run"), F.lit(0.0).alias("acc"))

    def clg(c: Column) -> Column:  # c * log2(c); 0 for c <= 0 (empty doc)
        return F.when(c > 0, c * F.log2(c)).otherwise(F.lit(0.0))

    def step(acc: Column, x: Column) -> Column:
        same = x.eqNullSafe(acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1.0)).alias("run"),
            F.when(same, acc["acc"])
             .otherwise(acc["acc"] + clg(acc["run"])).alias("acc"))

    sum_clg = F.aggregate(F.col("_srt"), state, step,
                          lambda acc: acc["acc"] + clg(acc["run"]))
    n_distinct = F.size(F.array_distinct(F.col("_w")))
    ent = F.when(n > 0, F.log2(n) - sum_clg / n).otherwise(F.lit(0.0))
    return d.select(
        id_col,
        n.cast("long").alias("n_words"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(ent, 6).alias("entropy"),
        F.round(F.when(n_distinct > 1, ent / F.log2(n_distinct))
                 .otherwise(F.lit(0.0)), 6).alias("norm_entropy"),
    )
